package graft

import graft.operators.{SpanOps, TimePartitioner, TraceSearch}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

class TimePartitionerSpec extends AnyFunSpec with Matchers with SparkTestBase {

  private val T0 = 1704067200000000L // 2024-01-01 UTC micros
  private val DayUs = 86400000000L

  private val Hour = 3600000000L
  private val Minute = 60000000L

  /** A span every 10 minutes for `hours` hours from `startUs`. */
  private def everyTenMinutes(s: SparkSession, startUs: Long, hours: Int): DataFrame = {
    import s.implicits._
    (0 until hours * 6).map { i =>
      (s"t${i % 7}", i.toLong, if (i % 3 == 0) "pay" else "web", s"op_${i % 2}", startUs + i * 10 * Minute, 1000L)
    }.toDF("trace_id", "span_id", "service", "operation", "start_us", "duration_us")
  }

  private def written(spans: DataFrame, hourly: Boolean): String = {
    val dir = Scratch.fresh("graft_tp_window")
    TimePartitioner.writePartitioned(spans, dir, hourly)
    dir
  }

  /** readRange returns exactly the rows of [from, to], under the schema
    * a whole-directory read infers; returns the partitions it scans. */
  private def checkWindow(s: SparkSession, dir: String, spans: DataFrame, from: Long, to: Long): Int = {
    val df = TimePartitioner.readRange(s, dir, from, to)
    df.schema shouldBe s.read.parquet(dir).schema
    def ids(d: DataFrame) = d.select("span_id").collect().map(_.getLong(0)).sorted.toSeq
    ids(df) shouldBe ids(spans.filter(col("start_us").between(from, to)))
    scanOf(df).selectedPartitions.partitionCount
  }

  private def scanOf(df: DataFrame): FileSourceScanExec =
    df.queryExecution.executedPlan.collectLeaves().collectFirst { case f: FileSourceScanExec => f }.get

  /** Every node of the physical plan, before adaptive execution. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private lazy val outDir = {
    val dir = Scratch.fresh("graft_tp_spec")
    TimePartitioner.writePartitioned(SpanOps.spansFromEvents(Tables.events(spark, sfDir)), dir)
    dir
  }

  describe("time-partitioned layout") {
    it("dynamic partition pruning fires when a filtered dim joins on dt") {
      // The runtime analogue of the static range prune: dt values come
      // from a FILTERED small side at execution time, so the big scan's
      // partition list must carry a dynamicpruning subquery — at 100 TB
      // this is the difference between reading 3 directories and 700.
      val s = spark
      import s.implicits._
      val store = s.read.parquet(outDir)
      // the dim must be a real scan with a live Filter node — a local
      // Seq constant-folds into a LocalTableScan and the pruning rule
      // sees no selective predicate to piggyback on
      val dimDir = Scratch.fresh("graft_dpp_dim")
      Seq(("2024-01-01", 0), ("2024-01-02", 0), ("2024-01-03", 1))
        .toDF("dt", "quarantined").write.mode("overwrite").parquet(dimDir)
      val wanted = s.read.parquet(dimDir).filter($"quarantined" === 0)
      val joined = store.join(wanted,
        store("dt") === org.apache.spark.sql.functions.to_date(wanted("dt")))
      val plan = joined.queryExecution.executedPlan.toString
      plan should include("dynamicpruning")
    }

    it("round-trips the same rows a plain time filter selects") {
      val spans = SpanOps.spansFromEvents(Tables.events(spark, sfDir))
      val expected = spans
        .filter(org.apache.spark.sql.functions.col("start_us").between(T0, T0 + 2 * DayUs))
        .count()
      TimePartitioner.readRange(spark, outDir, T0, T0 + 2 * DayUs).count() shouldBe expected
    }

    it("prunes partitions: the scan only touches in-range dt directories") {
      val df = TimePartitioner.readRange(spark, outDir, T0, T0 + 2 * DayUs)
      val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: FileSourceScanExec => f
      }.get
      scan.partitionFilters should not be empty
      // Jan 2024 has ~30 dt partitions x 24 hr each; a 3-day window must
      // read far fewer directories than the full layout
      val selected = scan.selectedPartitions.partitionCount
      selected should be > 0
      selected should be < 100 // full layout is ~720 hr partitions
    }

    it("expire drops exactly the partitions older than the cutoff, no scan") {
      // fresh layout so dropping doesn't disturb the shared one
      val dir = Scratch.fresh("graft_tp_expire")
      TimePartitioner.writePartitioned(
        SpanOps.spansFromEvents(Tables.events(spark, sfDir)), dir, hourly = false)
      val before = new java.io.File(dir).listFiles().count(_.getName.startsWith("dt="))
      val cutoff = T0 + 3 * DayUs
      val dropped = TimePartitioner.expire(spark, dir, cutoff)
      dropped should not be empty
      dropped.foreach(_ should be < "dt=2024-01-04")
      val left = new java.io.File(dir).listFiles().filter(_.getName.startsWith("dt="))
      left.length shouldBe before - dropped.size
      left.foreach(_.getName should be >= "dt=2024-01-04")
      // surviving data still reads fine and only holds in-range rows
      val remaining = spark.read.parquet(dir)
      remaining.filter(org.apache.spark.sql.functions.col("start_us") < cutoff - DayUs)
        .count() shouldBe 0L
    }

    it("compact merges small files per partition without changing the data") {
      import org.apache.spark.sql.functions.sum
      val dir = Scratch.fresh("graft_tp_compact")
      // fragment the layout: 8 writers per partition = 8 small files
      TimePartitioner.writePartitioned(
        SpanOps.spansFromEvents(Tables.events(spark, sfDir)).repartition(8),
        dir, hourly = false)
      val before = spark.read.parquet(dir)
      val beforeRows = before.count()
      val beforeSum = before.agg(sum("span_id")).head().getLong(0)
      val filesBefore = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("dt=")).map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum

      val report = TimePartitioner.compact(spark, dir, targetBytes = 512L * 1024 * 1024)
      report should not be empty
      report.foreach { case (_, b, a) => a should be < b }

      val after = spark.read.parquet(dir)
      after.count() shouldBe beforeRows
      after.agg(sum("span_id")).head().getLong(0) shouldBe beforeSum
      val filesAfter = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("dt=")).map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
      filesAfter should be < filesBefore
      // idempotent: a second pass finds nothing to do
      TimePartitioner.compact(spark, dir, targetBytes = 512L * 1024 * 1024) shouldBe empty
    }

    it("compact recovers a crash between delete and rename without losing data") {
      import org.apache.spark.sql.functions.sum
      val dir = Scratch.fresh("graft_tp_crash")
      TimePartitioner.writePartitioned(
        SpanOps.spansFromEvents(Tables.events(spark, sfDir)).repartition(8),
        dir, hourly = false)
      val before = spark.read.parquet(dir)
      val beforeRows = before.count()
      val beforeSum = before.agg(sum("span_id")).head().getLong(0)
      // simulate the worst crash window: target partition already
      // deleted, tmp dir (the ONLY copy) not yet renamed into place
      val victim = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("dt=")).minBy(_.getName)
      val tmp = new java.io.File(dir, s"_compact_tmp_${victim.getName}")
      victim.renameTo(tmp) shouldBe true
      // and the other crash flavor: tmp copy stranded BEFORE the swap
      // started (target still present) — must be discarded, not merged
      val spare = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("dt=")).maxBy(_.getName)
      val spareTmp = new java.io.File(dir, s"_compact_tmp_${spare.getName}")
      spareTmp.mkdir() shouldBe true
      new java.io.File(spareTmp, "stale.parquet").createNewFile() shouldBe true

      TimePartitioner.compact(spark, dir, targetBytes = 512L * 1024 * 1024)

      new java.io.File(dir).listFiles().count(_.getName.startsWith("_compact_tmp_")) shouldBe 0
      val after = spark.read.parquet(dir)
      after.count() shouldBe beforeRows // interrupted swap completed, no rows lost
      after.agg(sum("span_id")).head().getLong(0) shouldBe beforeSum
    }

    it("compact quarantines a tmp whose name is not a valid sibling partition") {
      import org.apache.spark.sql.functions.sum
      val dir = Scratch.fresh("graft_tp_orphan")
      TimePartitioner.writePartitioned(
        SpanOps.spansFromEvents(Tables.events(spark, sfDir)), dir, hourly = false)
      val before = spark.read.parquet(dir)
      val (beforeRows, beforeSum) =
        (before.count(), before.agg(sum("span_id")).head().getLong(0))
      // a legacy-format stranded tmp ("/" flattened to "_", parked at
      // the root): completing its "swap" would create a bogus
      // root-level dt=..._hr=05 dir and corrupt the layout for every
      // reader — it must be quarantined instead, and never deleted
      // (it could hold the only copy of its partition)
      val legacy = new java.io.File(dir, "_compact_tmp_dt=2024-01-01_hr=05")
      legacy.mkdir() shouldBe true
      new java.io.File(legacy, "maybe-only-copy.parquet").createNewFile() shouldBe true

      TimePartitioner.compact(spark, dir, targetBytes = 512L * 1024 * 1024)

      // orphan name = reversible escape ('='→"~e", '~'→"~t") of the
      // RAW tmp suffix: decodes back to the exact original
      // "dt=2024-01-01_hr=05" for manual repair, and contains no '='
      // so it stays reader-hidden
      val names = new java.io.File(dir).listFiles().map(_.getName)
      names should contain("_compact_orphan_dt~e2024-01-01_hr~e05")
      names.count(_.startsWith("_compact_tmp_")) shouldBe 0
      names.count(_ == "dt=2024-01-01_hr=05") shouldBe 0 // no bogus partition
      new java.io.File(dir, "_compact_orphan_dt~e2024-01-01_hr~e05/maybe-only-copy.parquet")
        .exists() shouldBe true // data preserved for manual recovery
      val after = spark.read.parquet(dir) // underscore prefix keeps readers blind
      after.count() shouldBe beforeRows
      after.agg(sum("span_id")).head().getLong(0) shouldBe beforeSum
    }

    it("compact recovers a new-style ~e-encoded interrupted swap") {
      import org.apache.spark.sql.functions.sum
      val dir = Scratch.fresh("graft_tp_newenc")
      TimePartitioner.writePartitioned(
        SpanOps.spansFromEvents(Tables.events(spark, sfDir)), dir, hourly = false)
      val before = spark.read.parquet(dir)
      val (beforeRows, beforeSum) =
        (before.count(), before.agg(sum("span_id")).head().getLong(0))
      // simulate a crash mid-swap with the CURRENT writer's encoding:
      // target deleted, tmp (holding the only copy) left behind
      val victim = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("dt=")).minBy(_.getName)
      val tmp = new java.io.File(dir,
        s"_compact_tmp_${victim.getName.replace("~", "~t").replace("=", "~e")}")
      victim.renameTo(tmp) shouldBe true

      TimePartitioner.compact(spark, dir, targetBytes = 512L * 1024 * 1024)

      val names = new java.io.File(dir).listFiles().map(_.getName)
      names should contain(victim.getName) // swap completed
      names.count(_.startsWith("_compact_tmp_")) shouldBe 0
      val after = spark.read.parquet(dir)
      after.count() shouldBe beforeRows
      after.agg(sum("span_id")).head().getLong(0) shouldBe beforeSum
    }

    it("compact reaches the hourly layout's hr= leaves") {
      val dir = Scratch.fresh("graft_tp_compact_hr")
      TimePartitioner.writePartitioned(
        SpanOps.spansFromEvents(Tables.events(spark, sfDir)).repartition(6),
        dir, hourly = true)
      val beforeRows = spark.read.parquet(dir).count()
      val report = TimePartitioner.compact(spark, dir, targetBytes = 512L * 1024 * 1024)
      report should not be empty
      report.foreach { case (name, b, a) =>
        name should include("hr=") // leaves, not the dt= level
        a should be < b
      }
      spark.read.parquet(dir).count() shouldBe beforeRows
    }

    it("reads a mid-hour window across a day boundary from its hr= leaves only") {
      val spans = everyTenMinutes(spark, T0, 72)
      val dir = written(spans, hourly = true)
      // 22:35 on day 1 to 01:25 on day 2: leaves hr=22, 23, then 00, 01
      checkWindow(spark, dir, spans, T0 + 22 * Hour + 35 * Minute, T0 + 25 * Hour + 25 * Minute) shouldBe 4
      // window bounds are inclusive, on the hour as well
      checkWindow(spark, dir, spans, T0 + 3 * Hour, T0 + 4 * Hour) shouldBe 2
      // day 2 lies wholly inside: its dt= directory is read whole
      checkWindow(spark, dir, spans, T0 + 20 * Hour, T0 + 50 * Hour + 5 * Minute) shouldBe 31
    }

    it("reads a window with no partitions as empty, without an exception") {
      val spans = everyTenMinutes(spark, T0, 24)
      val dir = written(spans, hourly = true)
      TimePartitioner.readRange(spark, dir, T0 + 400 * DayUs, T0 + 401 * DayUs).count() shouldBe 0L
      TimePartitioner.readRange(spark, dir, T0 - 2 * DayUs, T0 - DayUs).count() shouldBe 0L
    }

    it("reads the dt-only layout's day directories") {
      val spans = everyTenMinutes(spark, T0, 72)
      val dir = written(spans, hourly = false)
      checkWindow(spark, dir, spans, T0 + 22 * Hour + 35 * Minute, T0 + 25 * Hour + 25 * Minute) shouldBe 2
      checkWindow(spark, dir, spans, T0 + 30 * Hour, T0 + 31 * Hour) shouldBe 1
    }

    it("derives the hour leaves in a non-UTC session time zone, across a DST change") {
      // 2024-11-03 06:00 UTC: New York falls back from EDT to EST, so its
      // local hour 01 occurs twice; Kolkata is UTC+05:30
      val dstUs = 1730613600000000L
      for (zone <- Seq("America/New_York", "Asia/Kolkata")) withClue(zone) {
        val s = spark.newSession()
        s.conf.set("spark.sql.session.timeZone", zone)
        val spans = everyTenMinutes(s, dstUs - 36 * Hour, 72)
        val dir = written(spans, hourly = true)
        // starts before local midnight (New York), ends past the change
        val parts = checkWindow(s, dir, spans, dstUs - 2 * Hour - 25 * Minute, dstUs + 85 * Minute)
        parts should be > 0
        parts should be < 10
      }
    }

    it("plans a search over readRange as one scan and one shuffle") {
      val dir = written(everyTenMinutes(spark, T0, 72), hourly = true)
      import TraceSearch._
      val (from, to) = (T0 + 10 * Hour, T0 + 30 * Hour)
      val searches = Seq(
        SpanOps.searchTraces(TimePartitioner.readRange(spark, dir, from, to), "pay", from, to, 10),
        TraceSearch.search(TimePartitioner.readRange(spark, dir, from, to),
          Seq(Eq("service", "pay"), Or(Seq(Eq("operation", "op_1"), Not(Eq("service", "web"))))), 10))
      for (df <- searches) {
        val plan = nodes(df.queryExecution.executedPlan)
        withClue(df.queryExecution.executedPlan) {
          plan.count(_.isInstanceOf[FileSourceScanExec]) shouldBe 1
          plan.count(_.isInstanceOf[ShuffleExchangeExec]) shouldBe 1
        }
        df.collect() should not be empty
      }
    }

    it("builds its DataFrame without running a Spark job") {
      val dir = written(everyTenMinutes(spark, T0, 48), hourly = true)
      // the control: a whole-directory read infers its schema with a job
      jobsDuring(spark.read.parquet(dir)) should be > 0
      jobsDuring(TimePartitioner.readRange(spark, dir, T0 + 5 * Hour, T0 + 29 * Hour)) shouldBe 0
    }
  }
}
