package graftbench

import graft.operators.{BucketedLayout, SpanOps, TimePartitioner, TraceSearch}
import graft.trace.{TraceDataset, TraceStoreWriter}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions.col

import java.util.SplittableRandom
import scala.collection.mutable

/** Reader traffic: a closed loop of two clients over a trace store written
  * once by `TraceStoreWriter.writeAll` plus an hourly
  * `TimePartitioner.writePartitioned` span layout. Each request is small,
  * so fixed per-query cost (graft build, Catalyst, codegen, job
  * scheduling) and layout pruning dominate. */
final class Serve(ctx: Ctx) extends Workload {
  import Serve._
  private val spark = ctx.spark
  import spark.implicits._

  private val WeekUs = 7L * 86400L * 1000000L
  private val EndUs = java.time.Instant.parse("2024-03-08T00:00:00Z").toEpochMilli * 1000L
  val gen = TraceGen(ctx.seed, nTraces = Traces, hotSize = 10000,
    t0Us = EndUs - WeekUs, windowUs = WeekUs, maxRootUs = 3000000L)

  private var layout: TraceStoreWriter.StoreLayout = _
  private var byHourDir: String = _
  private var catalog: DataFrame = _
  private var ref: Reference = _
  private val setupTimes = mutable.Map[String, Double]()

  def setup(rep: Int): Unit = {
    val base = ctx.dir(s"serve_$rep")
    // buckets sized by BucketedLayout's rule (parallelism x a small
    // factor); the index docs dt-only, TimePartitioner's size for a small
    // corpus. Searches read the hourly span layout below.
    layout = TraceStoreWriter.StoreLayout(bucketTable = s"graftbench_spans_$rep", buckets = 2 * ctx.cpus,
      indexDir = s"$base/index", metaDir = s"$base/meta", hourly = false)
    byHourDir = s"$base/spans_by_hour"
    val g = gen
    val spans = spark.range(0, Traces, 1, ctx.cpus).as[Long]
      .flatMap(i => g.spans(i.toInt).toSeq).toDF()
    def timed(k: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime(); body; setupTimes(k) = ctx.elapsed(t0)
    }
    timed("gen.s") { ref = new Reference(gen) }
    timed("write_all_s")(TraceStoreWriter.writeAll(spans, layout))
    timed("write_by_hour_s")(TimePartitioner.writePartitioned(spans, byHourDir, hourly = true))
    timed("catalog_s")(SpanOps.serviceOperationCatalog(TraceStoreWriter.traceStore(spark, layout))
      .write.mode("overwrite").parquet(s"$base/catalog"))
    catalog = spark.read.parquet(s"$base/catalog")
    Main.log(setupTimes.toSeq.sorted.map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
    if (rep > 0) spark.sql(s"DROP TABLE IF EXISTS graftbench_spans_${rep - 1}")
  }

  // ------------------------------------------------------------ requests

  /** One reader session, the calls in the order a trace UI makes them:
    * the search form lists the service's operations, the search runs,
    * the counts histogram is drawn beside its results, then the reader
    * opens one hit (processed trace, raw trace, one raw span) and the
    * raw traces of a page of hits are fetched. Every reader call occurs
    * once per session, so the mix is four lookups to three searches.
    * Lookup ids come from the search's hits (the reference's answer, so
    * the sequence does not depend on the response), Zipf(1) over their
    * rank, newest first: recent traces are favoured. A search without
    * hits sends its lookups to Zipf(1) over all traces by recency. */
  private def session(r: SplittableRandom, expr: Boolean, slot: Int): Seq[Req] = {
    // the slot's window length, ending within the last day more often than not
    val len = WindowHours(slot % WindowHours.size) * 3600L * 1000000L
    val back = math.min((-math.log(1 - r.nextDouble()) * 12 * 3600e6).toLong, WeekUs - len)
    val (f, t) = (EndUs - back - len, EndUs - back)
    def svc(): Int = { val u = r.nextDouble(); math.min(TraceGen.NServices - 1, (TraceGen.NServices * u * u).toInt) }
    val a = svc()
    val search = if (!expr) Search(a, f, t) else {
      val b = svc()
      val lo = (1 + r.nextInt(50)) * 1000L
      SearchExpr(Seq(
        TraceSearch.Eq("service", TraceGen.service(a)),
        TraceSearch.Or(Seq(
          TraceSearch.And(Seq(TraceSearch.Eq("service", TraceGen.service(b)),
            TraceSearch.RangeUs("duration_us", lo, lo * 20))),
          TraceSearch.Eq("operation", TraceGen.operation(b, r.nextInt(TraceGen.OpsPerService)))))), f, t)
    }
    val hits = ref.hits(search)
    val opened = if (hits.isEmpty) ref.zipfTrace(r) else hits(Reference.zipfRank(r, hits.size))
    val page = (hits.iterator ++ Iterator.continually(ref.zipfTrace(r))).distinct.take(5 + r.nextInt(16)).toSeq
    Seq(Fields(a), search, Counts(a, f, t), GetTrace(opened, processed = true), GetTrace(opened, processed = false),
      GetSpan(opened, Integer.toHexString(1 + r.nextInt((gen.size(opened) + 1) / 2))), GetTraces(page))
  }

  /** A cycle is two sessions, one per search kind, so every whole cycle
    * has the same mix. A client's sessions take the window lengths in
    * turn from `slot` on, so every run searches the same spread of window
    * sizes (the search cost follows the hours scanned). */
  private def cycle(r: SplittableRandom, slot: Int): Seq[Req] =
    session(r, expr = false, slot) ++ session(r, expr = true, slot + 1)

  /** Runs one request through graft's public functions; returns the
    * response digest and the rows returned. The graft call that builds
    * the DataFrame and the action are separate spans. */
  private def execute(req: Req, reqId: String): (Any, Long) = {
    val tr = ctx.tracer
    def run(build: => DataFrame): Array[Row] = {
      val df = tr.span(Layers.Graft, "graft.build")(build)
      val rows = tr.span(Layers.Driver, "action")(df.collect())
      observe(reqId, df.queryExecution, rows.length)
      rows
    }
    def store = TraceStoreWriter.traceStore(spark, layout)
    def range(from: Long, to: Long) = TimePartitioner.readRange(spark, byHourDir, from, to)
    req match {
      case GetTrace(i, true) =>
        val ds = tr.span(Layers.Graft, "graft.build")(TraceDataset.processedSpans(
          TraceDataset.toSpanDataset(BucketedLayout.getTrace(spark, layout.bucketTable, gen.traceId(i)))))
        val spans = tr.span(Layers.Driver, "action")(ds.collect())
        observe(reqId, ds.queryExecution, spans.length)
        ((spans.headOption.map(s => (s.spanId, s.parentSpanId.isEmpty)), spans.map(_.spanId).sorted.toSeq,
          spans.count(_.kind == "merged")), spans.length.toLong)
      case GetTrace(i, false) =>
        val rows = run(BucketedLayout.getTrace(spark, layout.bucketTable, gen.traceId(i)))
        (spanKeys(rows), rows.length.toLong)
      case GetSpan(i, id) =>
        val rows = run(BucketedLayout.getTrace(spark, layout.bucketTable, gen.traceId(i)).filter(col("span_id") === id))
        (spanKeys(rows), rows.length.toLong)
      case GetTraces(is) =>
        val rows = run(store.filter(col("trace_id").isin(is.map(gen.traceId): _*)))
        (rows.groupBy(_.getAs[String]("trace_id")).map { case (k, v) => k -> v.length }, rows.length.toLong)
      case Search(s, f, t) =>
        val rows = run(SpanOps.searchTraces(range(f, t), TraceGen.service(s), f, t, Limit))
        (summaries(rows), rows.length.toLong)
      case SearchExpr(g, f, t) =>
        val rows = run(TraceSearch.search(range(f, t), g, Limit))
        (summaries(rows), rows.length.toLong)
      case Counts(s, f, t) =>
        val rows = run(SpanOps.traceCounts(range(f, t), TraceGen.service(s), f, t, 3600L * 1000000L))
        (rows.map(r => r.getLong(0) -> r.getLong(1)).toMap, rows.length.toLong)
      case Fields(s) =>
        val rows = run(SpanOps.fieldValuesFromCatalog(catalog, "operation", col("service") === TraceGen.service(s)))
        (rows.map(_.getString(0)).toSet, rows.length.toLong)
    }
  }

  private def spanKeys(rows: Array[Row]): Seq[(String, String)] =
    rows.map(r => (r.getAs[String]("span_id"), r.getAs[String]("kind"))).toSeq.sorted
  private def summaries(rows: Array[Row]): Seq[(String, Long, Long)] =
    rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

  /** The expected digest, from the generator's records (not through Spark).
    * A processed trace holds each span id once (a client/server pair
    * merged into one span), the root first. */
  private def expected(req: Req): Any = req match {
    case GetTrace(i, true) =>
      val ids = gen.spans(i).map(_.span_id).toSeq
      (Some(("1", true)), ids.distinct.sorted, ids.size - ids.distinct.size)
    case GetTrace(i, false) => gen.spans(i).map(s => (s.span_id, s.kind)).toSeq.sorted
    case GetSpan(i, id) => gen.spans(i).filter(_.span_id == id).map(s => (s.span_id, s.kind)).toSeq.sorted
    case GetTraces(is) => is.map(i => gen.traceId(i) -> gen.size(i)).toMap
    case Search(s, f, t) => ref.search(f, t, Seq(ref.eqService(s)))
    case SearchExpr(g, f, t) => ref.search(f, t, g.map(ref.compile))
    case Counts(s, f, t) => ref.counts(s, f, t, 3600L * 1000000L)
    case Fields(s) => ref.operations(s)
  }

  // ------------------------------------------------------------ scan metrics

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case _: ReusedExchangeExec => Nil
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  private def observe(reqId: String, qe: QueryExecution, rowsReturned: Int): Unit = if (ctx.tracer.enabled) {
    val tr = ctx.tracer
    tr.phases(reqId, qe)
    scans(qe.executedPlan).foreach { s =>
      def m(k: String): Double = s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
      tr.add(reqId, "scan.files_read", m("numFiles"))
      tr.add(reqId, "scan.bytes_read", m("filesSize"))
      tr.add(reqId, "scan.rows_read", m("numOutputRows"))
    }
    tr.add(reqId, "rows_returned", rowsReturned)
  }

  // ------------------------------------------------------------ phases

  /** Each operation once, from one cycle. */
  def warmup(): Unit = {
    val r = new SplittableRandom(ctx.seed ^ 0x5EED)
    cycle(r, 0).distinctBy(_.op).zipWithIndex.foreach { case (req, k) => ctx.tracer.request(s"warm-$k")(execute(req, s"warm-$k")) }
  }

  def phase(tag: String): Phase = {
    val startUs = Clock.nowUs
    val deadlineUs = startUs + ctx.seconds * 1000000L
    val recs = new java.util.concurrent.ConcurrentLinkedQueue[Rec]()
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        val r = new SplittableRandom(TraceGen.mix(ctx.seed * 31 + c + tag.hashCode))
        var n = 0
        // the second client starts half-way through the window lengths
        var slot = c * WindowHours.size / Clients
        var cycles = 0
        while (cycles < MinCycles || Clock.nowUs < deadlineUs) {
          cycle(r, slot).foreach { req =>
            val id = s"$tag-c$c-$n:${req.op}"
            val t0 = Clock.nowUs
            val (digest, err) =
              try (ctx.tracer.request(id)(execute(req, id))._1, null)
              catch { case e: Exception => (null, String.valueOf(e.getMessage).take(200)) }
            recs.add(Rec(c, id, req, t0, Clock.nowUs, digest, err))
            n += 1
          }
          slot += 2
          cycles += 1
        }
      }, s"serve-client-$c")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val endUs = Clock.nowUs
    val all = scala.jdk.CollectionConverters.IterableHasAsScala(recs).asScala.toSeq
    val bad = all.filter(x => x.error != null || x.digest != expected(x.req))
    Main.log(s"$tag: ${all.size} requests; slowest " +
      all.sortBy(-_.seconds).take(3).map(x => f"${x.req.op}=${x.seconds}%.2f s").mkString(", "))
    bad.take(3).foreach(b => System.err.println(s"[serve] wrong response ${b.id}: ${Option(b.error).getOrElse("digest mismatch")}"))
    val ok = all.filterNot(bad.contains)
    val wallS = (endUs - startUs) / 1e6
    // a closed loop's throughput: each client's completed requests over
    // its own busy time, summed
    val perSecond = ok.groupBy(_.lane).values.map { xs =>
      xs.size / ((xs.map(_.endUs).max - startUs) / 1e6)
    }.sum
    def lat(cls: Set[String]) = all.filter(x => cls(x.req.op)).map(_.seconds)
    val figures = Map(
      "lookup_p50_s" -> Stats.median(lat(Lookup)),
      "lookup_p90_s" -> Stats.tailPercentile(lat(Lookup)),
      "search_p50_s" -> Stats.median(lat(SearchOps)),
      "search_p90_s" -> Stats.tailPercentile(lat(SearchOps)),
      "requests_per_s" -> perSecond,
      "failed_ratio" -> bad.size.toDouble / all.size) ++
      (Lookup ++ SearchOps).map(op => s"op.$op.p50_s" -> Common.medianOrZero(lat(Set(op))))
    lastRecs = all
    Phase(all.map(_.seconds), ok.size, wallS, perSecond, all.size, bad.size, figures,
      all.map(x => (x.lane, x.id, x.startUs, x.endUs)), startUs, endUs, Clients)
  }
  private var lastRecs: Seq[Rec] = Nil

  def layerMetrics(untraced: Phase, traced: Phase): Map[String, Double] = {
    val tr = ctx.tracer
    val spans = tr.allSpans
    val opOf = lastRecs.map(x => x.id -> x.req.op).toMap
    def inClass(cls: Set[String])(req: String): Boolean = req != null && opOf.get(req).exists(cls)
    val classes = Seq("lookup" -> Lookup, "search" -> SearchOps)
    val perClass = classes.flatMap { case (c, ops) =>
      val n = math.max(1, lastRecs.count(x => ops(x.req.op))).toDouble
      val sel = inClass(ops) _
      def mean(key: String) = tr.counter(key, sel) / n
      Seq(
        s"graft.build_s.$c" -> spans.filter(s => s.name == "graft.build" && sel(s.req)).map(_.durUs).sum / 1e6 / n,
        s"catalyst.analysis_s.$c" -> mean("catalyst.analysis_s"),
        s"catalyst.optimization_s.$c" -> mean("catalyst.optimization_s"),
        s"catalyst.planning_s.$c" -> mean("catalyst.planning_s"),
        s"codegen.compiles.$c" -> mean("codegen.compiles"),
        s"codegen.compile_s.$c" -> mean("codegen.compile_s"),
        s"scheduler.task_wait_s.$c" -> mean("scheduler.task_wait_s"),
        s"scan.files_read.$c" -> mean("scan.files_read"),
        s"scan.bytes_read.$c" -> mean("scan.bytes_read"),
        s"scan.rows_read_per_row_returned.$c" ->
          tr.counter("scan.rows_read", sel) / math.max(1.0, tr.counter("rows_returned", sel)))
    }
    val dirs = Seq(s"${ctx.spark.conf.get("spark.sql.warehouse.dir")}/${layout.bucketTable}",
      layout.indexDir, layout.metaDir, byHourDir)
    val storeBytes = dirs.map(Common.dataBytes).sum
    val storeFiles = dirs.map(Common.dataFiles).sum
    Common.totals(tr, spans) ++ perClass ++ storeWrites ++ Map(
      "store.bytes_per_span" -> storeBytes.toDouble / ref.nSpans,
      "store.files" -> storeFiles.toDouble,
      "gen.s" -> setupTimes("gen.s"))
  }

  /** Store-layer write times of the last traced set-up, from the SQL
    * executions whose root command names each output. */
  private var storeWrites: Map[String, Double] = Map.empty

  override def afterTracedSetup(): Unit = {
    val sum = Common.writeSeconds(ctx.tracer) _
    storeWrites = Map(
      "store.write_trace_s" -> sum(layout.bucketTable),
      "store.write_index_s" -> sum(layout.indexDir),
      "store.write_meta_s" -> sum(layout.metaDir),
      "store.write_spans_by_hour_s" -> sum(byHourDir))
  }

  def inputs: Map[String, Any] = Map(
    "spans" -> ref.nSpans, "traces" -> Traces, "hot_trace_spans" -> gen.hotSize,
    "services" -> TraceGen.NServices, "operations_per_service" -> TraceGen.OpsPerService,
    "clients" -> Clients, "store_bytes" -> Seq(layout.indexDir, layout.metaDir, byHourDir).map(Common.dataBytes).sum)

  def cleanup(): Unit = spark.sql(s"DROP TABLE IF EXISTS ${layout.bucketTable}")
}

object Serve {
  val Traces = 5000
  val Clients = 2
  val Limit = 20
  val WindowHours = Seq(1, 2, 4, 6, 12, 24)
  /** Cycles each client plays at least, more while the run length allows:
    * a cycle that outlasts the deadline (one with the hot trace) must not
    * leave a run with half the mix. */
  val MinCycles = 2
  val Lookup = Set("get_trace", "get_raw_trace", "get_raw_span", "get_raw_traces")
  val SearchOps = Set("search_traces", "search_expr", "trace_counts", "field_values")

  sealed trait Req { def op: String }
  final case class GetTrace(i: Int, processed: Boolean) extends Req {
    def op: String = if (processed) "get_trace" else "get_raw_trace"
  }
  final case class GetSpan(i: Int, spanId: String) extends Req { def op = "get_raw_span" }
  final case class GetTraces(is: Seq[Int]) extends Req { def op = "get_raw_traces" }
  final case class Search(svc: Int, from: Long, to: Long) extends Req { def op = "search_traces" }
  final case class SearchExpr(groups: Seq[TraceSearch.Expr], from: Long, to: Long) extends Req { def op = "search_expr" }
  final case class Counts(svc: Int, from: Long, to: Long) extends Req { def op = "trace_counts" }
  final case class Fields(svc: Int) extends Req { def op = "field_values" }

  /** One completed request and its response digest. */
  final case class Rec(lane: Int, id: String, req: Req, startUs: Long, endUs: Long, digest: Any, error: String) {
    def seconds: Double = (endUs - startUs) / 1e6
  }
}

/** Driver-side reference for reads, built from the generator's records:
  * span columns sorted by start time, plus the recency-ranked trace list
  * the Zipf request generator draws from. */
final class Reference(gen: TraceGen) {
  private val n0 = (0 until gen.nTraces).map(gen.size).sum
  val nSpans: Int = n0
  private val start = new Array[Long](n0)
  private val trace = new Array[Int](n0)
  private val svc = new Array[Byte](n0)
  private val op = new Array[Byte](n0)
  private val dur = new Array[Long](n0)
  private val opsOfService = Array.fill(TraceGen.NServices)(mutable.Set[String]())
  locally {
    val tmp = new Array[(Long, Int, Byte, Byte, Long)](n0)
    var k = 0
    for (i <- 0 until gen.nTraces; s <- gen.spans(i)) {
      val sv = s.service.substring(4, 6).toInt
      tmp(k) = (s.start_us, i, sv.toByte, s.operation.last.asDigit.toByte, s.duration_us)
      opsOfService(sv) += s.operation
      k += 1
    }
    java.util.Arrays.sort(tmp, Ordering.by[(Long, Int, Byte, Byte, Long), Long](_._1))
    tmp.indices.foreach { j =>
      start(j) = tmp(j)._1; trace(j) = tmp(j)._2; svc(j) = tmp(j)._3; op(j) = tmp(j)._4; dur(j) = tmp(j)._5
    }
  }

  /** Trace indices newest first; Zipf(1) over this rank favours recent traces. */
  private val byRecency = (0 until gen.nTraces).sortBy(i => -gen.startUs(i)).toArray
  private val zipfCdf = {
    val w = (1 to gen.nTraces).map(r => 1.0 / r)
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  def zipfTrace(r: SplittableRandom): Int = {
    val k = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    byRecency(math.min(gen.nTraces - 1, if (k >= 0) k else -k - 1))
  }

  private val indexOf: Map[String, Int] = (0 until gen.nTraces).map(i => gen.traceId(i) -> i).toMap

  /** The trace indices a search returns, in its order. */
  def hits(req: Serve.Req): Seq[Int] = (req match {
    case Serve.Search(s, f, t) => search(f, t, Seq(eqService(s)))
    case Serve.SearchExpr(g, f, t) => search(f, t, g.map(compile))
    case other => throw new IllegalArgumentException(s"$other is not a search")
  }).map(x => indexOf(x._1))

  type Pred = Int => Boolean
  def eqService(s: Int): Pred = j => svc(j) == s
  def compile(e: TraceSearch.Expr): Pred = e match {
    case TraceSearch.Eq("service", v) => eqService(v.substring(4, 6).toInt)
    case TraceSearch.Eq("operation", v) =>
      val (s, o) = (v.substring(4, 6).toInt, v.last.asDigit); j => svc(j) == s && op(j) == o
    case TraceSearch.RangeUs("duration_us", lo, hi) => j => dur(j) >= lo && dur(j) <= hi
    case TraceSearch.And(cs) => val ps = cs.map(compile); j => ps.forall(_(j))
    case TraceSearch.Or(cs) => val ps = cs.map(compile); j => ps.exists(_(j))
    case TraceSearch.Not(c) => val p = compile(c); j => !p(j)
    case other => throw new IllegalArgumentException(s"reference has no field for $other")
  }

  private def window(from: Long, to: Long): Range = {
    def lower(t: Long): Int = { var lo = 0; var hi = start.length; while (lo < hi) { val m = (lo + hi) >>> 1; if (start(m) < t) lo = m + 1 else hi = m }; lo }
    lower(from) until lower(to + 1)
  }

  /** Traces with a span matching every group in the window, summarized
    * over their window spans, newest first, ties by trace id. */
  def search(from: Long, to: Long, groups: Seq[Pred]): Seq[(String, Long, Long)] = {
    val w = window(from, to)
    val matched = groups.map(g => w.filter(g).map(trace).toSet).reduce(_ intersect _)
    val agg = mutable.Map[Int, (Long, Long)]()
    w.foreach { j =>
      if (matched(trace(j))) {
        val (m, c) = agg.getOrElse(trace(j), (Long.MaxValue, 0L))
        agg(trace(j)) = (math.min(m, start(j)), c + 1)
      }
    }
    agg.toSeq.map { case (i, (m, c)) => (gen.traceId(i), m, c) }
      .sortBy(x => (-x._2, x._1)).take(Serve.Limit)
  }

  def counts(s: Int, from: Long, to: Long, interval: Long): Map[Long, Long] =
    window(from, to).filter(j => svc(j) == s).groupBy(j => (start(j) - from) / interval)
      .map { case (b, js) => b -> js.size.toLong }

  def operations(s: Int): Set[String] = opsOfService(s).toSet
}

object Reference {
  /** A rank in [0, n) drawn with probability proportional to 1 / (rank + 1). */
  def zipfRank(r: SplittableRandom, n: Int): Int = {
    var u = r.nextDouble() * (1 to n).map(1.0 / _).sum
    var k = 0
    while (k < n - 1 && u >= 1.0 / (k + 1)) { u -= 1.0 / (k + 1); k += 1 }
    k
  }
}
