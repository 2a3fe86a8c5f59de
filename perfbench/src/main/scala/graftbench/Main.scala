package graftbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Everything a workload needs from the run. */
final case class Ctx(
    spark: SparkSession, seed: Long, seconds: Int, runDir: Path, tracer: Tracer, cpus: Int) {
  def dir(name: String): String = runDir.resolve(name).toString
  def elapsed(t0Ns: Long): Double = (System.nanoTime() - t0Ns) / 1e9
}

/** What one timed phase produced: per-operation latencies, the items
  * completed in `wallS`, the throughput, and the (lane, req, start, end)
  * request intervals that self-time accounting reads. */
final case class Phase(
    opSeconds: Seq[Double], items: Double, wallS: Double, itemsPerS: Double,
    attempted: Int, failed: Int, figures: Map[String, Double],
    lanes: Seq[(Int, String, Long, Long)], laneStartUs: Long, laneEndUs: Long, nLanes: Int)

/** A workload: seeded set-up (run several times, median reported), a
  * warm-up, and a timed phase that checks its own outputs. */
trait Workload {
  def setup(rep: Int): Unit
  def warmup(): Unit
  def phase(tag: String): Phase
  /** Per-layer figures of a traced phase (spans and counters are in the tracer). */
  def layerMetrics(untraced: Phase, traced: Phase): Map[String, Double]
  /** Reads what the traced set-up recorded (the tracer is cleared before the timed phase). */
  def afterTracedSetup(): Unit = ()
  def inputs: Map[String, Any]
  /** Drops what the workload itself created, so what remains is leaks. */
  def cleanup(): Unit
}

object Main {

  /** The SparkSession settings of `graft.Bench`, which this harness must
    * match. [[checkBenchParity]] re-reads Bench.scala on every run and
    * refuses to run if Bench's settings drift from these. */
  def benchConfs(cpus: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.ui.enabled" -> "false")

  private def benchSource: String =
    new String(Files.readAllBytes(Paths.get("src/main/scala/graft/Bench.scala")), "UTF-8")
      .replaceAll("\\s+", " ")

  /** The core count Bench runs on: `SPARK_GRAFT_CPUS`, else the default
    * Bench.scala names for it (not this machine's processor count). */
  def benchCores(): Int = {
    val default = """val cpus = sys\.env\.getOrElse\("SPARK_GRAFT_CPUS", "(\d+)"\)""".r
      .findFirstMatchIn(benchSource).map(_.group(1))
      .getOrElse(throw new IllegalStateException(
        "graft.Bench no longer names a default for SPARK_GRAFT_CPUS; update perfbench's core count"))
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default).toInt
  }

  /** Bench's `.config(key, value)` pairs, with environment overrides
    * resolved to their defaults and `cpus`/`shuffleParts` to the core
    * count. Throws if Bench.scala cannot be read or its settings differ. */
  def checkBenchParity(cpus: Int): Map[String, String] = {
    val src = benchSource
    val conf = """\.config\("([^"]+)", (?:sys\.env\.getOrElse\("[A-Z_]+", "?([^")]*)"?\)|"([^"]*)"|(\w+))\)""".r
    val found = conf.findAllMatchIn(src).map { m =>
      val v = Option(m.group(2)).orElse(Option(m.group(3))).getOrElse(m.group(4) match {
        case "cpus" | "shuffleParts" => cpus.toString
        case other => s"<$other>"
      }) match {
        case "cpus" | "shuffleParts" => cpus.toString
        case x => x
      }
      m.group(1) -> v
    }.toMap
    require(src.contains(""".master(s"local[$cpus]")"""),
      "graft.Bench no longer builds its session on local[cpus]; update perfbench's session settings")
    val mine = benchConfs(cpus)
    require(found == mine,
      s"graft.Bench session settings drifted from perfbench's: Bench=$found perfbench=$mine")
    found
  }

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  private def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toInt
    val traced = arg(args, "trace") == "1"
    val runDir = Paths.get(arg(args, "run-dir")).toAbsolutePath
    val processStartMs = arg(args, "t0-ms").toLong
    val cpus = benchCores()

    val bench = checkBenchParity(cpus)
    val warehouse = runDir.resolve("warehouse")
    val builder = SparkSession.builder().master(s"local[$cpus]")
    benchConfs(cpus).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder
      // run hygiene: everything a run writes stays in its own directory
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyMs = System.currentTimeMillis()
    val tracer = new Tracer(spark)
    val ctx = Ctx(spark, seed, seconds, runDir.resolve("work"), tracer, cpus)
    Files.createDirectories(ctx.runDir)

    val w: Workload = workload match {
      case "serve" => new Serve(ctx)
      case "analytics" => new Analytics(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up runs several times (fresh outputs each time); the median is
    // reported so that work moved into set-up shows without one slow
    // repetition deciding the figure. Traced runs trace set-up too, which
    // is where the store-write layer is measured.
    if (traced) tracer.start()
    val reps = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime(); w.setup(r)
      val s = ctx.elapsed(t0); log(f"set-up $r: $s%.2f s"); s
    }
    if (traced) { tracer.stop(); w.afterTracedSetup() }
    val t0w = System.nanoTime()
    w.warmup()
    val warmupS = ctx.elapsed(t0w)
    log(f"warm-up: $warmupS%.2f s")
    val setupS = (sessionReadyMs - processStartMs) / 1000.0 + Stats.median(reps) + warmupS

    val untraced = w.phase("untraced")
    log(f"untraced phase: ${untraced.attempted} ops, ${untraced.failed} failed, ${untraced.wallS}%.2f s")
    val heapMb = heapAfterGcMb()
    // the traced phase runs between two untraced ones, so the overhead
    // ratio compares it with the JVM warmed up as far on either side.
    // The workload's figures are read first: they come from the traced
    // phase's records, and may add derived spans (stream phases) that
    // self-time accounting then sees.
    val (tracedPhase, workloadFigures, untracedAfter) = if (traced) {
      tracer.clear(); tracer.start()
      val p = w.phase("traced")
      tracer.stop()
      val figures = w.layerMetrics(untraced, p)
      (Some(p), figures, Some(w.phase("untraced-after")))
    } else (None, Map.empty[String, Double], None)

    val q1 = controlQ1(ctx)
    w.cleanup()
    val tmpLeft = Option(new File(System.getProperty("java.io.tmpdir")).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_")).map(dirBytes).sum + dirBytes(warehouse.toFile)
    val codeCacheMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum / 1048576.0

    val main = tracedPhase.getOrElse(untraced)
    val endToEnd = Map(
      "setup_s" -> setupS,
      "geomean_s" -> Stats.geomean(untraced.opSeconds),
      "items_per_s" -> untraced.itemsPerS,
      "heap_after_gc_mb" -> heapMb)
    val layers: Map[String, Double] = tracedPhase.map { tp =>
      val self = SelfTime(tp.lanes, tracer.allSpans, tp.laneStartUs, tp.laneEndUs, tp.nLanes)
      val perItem = (p: Phase) => p.wallS * p.nLanes / math.max(1.0, p.items)
      val untracedPerItem = math.sqrt(perItem(untraced) * untracedAfter.map(perItem).get)
      workloadFigures ++ untraced.figures ++
        self.byLayer.map { case (k, v) => s"self.${k}_s" -> v } ++ Map(
          "trace.wall_s" -> self.wallS,
          "trace.unattributed_s" -> self.unattributedS,
          "trace.overhead_ratio" -> perItem(tp) / untracedPerItem,
          "jvm.code_cache_mb" -> codeCacheMb,
          "tmp.bytes_left" -> tmpLeft.toDouble,
          "control.q1_s" -> q1)
    }.getOrElse(Map.empty)

    // the traced run's spans, written out at the end (run.py keeps them
    // next to the run's record)
    if (traced) Files.write(runDir.resolve("spans.jsonl"), tracer.allSpans.map { s =>
      Json(Map("req" -> s.req, "layer" -> Layers.Names(s.level), "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs))
    }.asJava)
    val phases = Seq(untraced) ++ tracedPhase ++ untracedAfter
    val attempted = phases.map(_.attempted).sum
    val failed = phases.map(_.failed).sum
    val runtime = ManagementFactory.getRuntimeMXBean
    val context = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "cores" -> cpus, "nproc" -> Runtime.getRuntime.availableProcessors(),
      "xmx_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "jvm_args" -> runtime.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")).toList,
      "java" -> System.getProperty("java.version"), "spark" -> spark.version,
      "spark_confs" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.local.dir" }.toSeq.sorted.toMap,
      "bench_parity" -> bench,
      "inputs" -> w.inputs,
      "setup_reps_s" -> reps, "warmup_s" -> warmupS,
      "session_s" -> (sessionReadyMs - processStartMs) / 1000.0,
      "control.q1_s" -> q1, "tmp.bytes_left" -> tmpLeft, "jvm.code_cache_mb" -> codeCacheMb,
      "op_samples" -> untraced.opSeconds.size,
      "figures" -> untraced.figures)
    val result = Map(
      "attempted" -> attempted, "failed" -> failed,
      "end_to_end" -> endToEnd, "per_layer" -> layers, "context" -> context,
      "phase_wall_s" -> main.wallS)
    Files.writeString(runDir.resolve("result.json"), Json(result))
    spark.stop()
  }

  val SetupReps = 3

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Heap used after a full GC, repeated until it stops falling: each
    * collection lets Spark's context cleaner release more (broadcasts,
    * shuffle state), which only the next collection reclaims. */
  def heapAfterGcMb(): Double = {
    def used(): Double = {
      System.gc(); Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = used()
    var next = used()
    var rounds = 2
    while (next < last - 1.0 && rounds < 8) { last = next; next = used(); rounds += 1 }
    math.min(last, next)
  }

  /** Bench's box-weather yardstick: q1_agg over a cached lineitem, run
    * once after the timed phase. The lineitem is generated here (seeded),
    * a tenth of sf0.1 so the yardstick stays cheap in every run. */
  def controlQ1(ctx: Ctx): Double = {
    val spark = ctx.spark
    val dir = ctx.dir("control")
    GenTables.lineitem(spark, 60000, ctx.seed).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val li = graft.Tables.lineitem(spark, dir)
    li.cache().count()
    System.gc()
    val t0 = System.nanoTime()
    graft.SparkEntry.queries("q1_agg")(spark, dir).write.mode("overwrite").format("noop").save()
    val s = ctx.elapsed(t0)
    li.unpersist()
    s
  }
}

/** Seeded generators for the TPC-H-shaped and events tables that graft's
  * query library reads, with the testdata's column types. */
object GenTables {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  private def u(seed: Long, salt: Int) = rand(seed * 1000003L + salt)

  def lineitem(spark: SparkSession, rows: Long, seed: Long): DataFrame =
    spark.range(0, rows, 1, 4).select(
      (col("id") / 4 + 1).as("l_orderkey"),
      (floor(u(seed, 1) * 20000) + 1).cast("long").as("l_partkey"),
      (floor(u(seed, 2) * 1000) + 1).cast("long").as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (floor(u(seed, 3) * 50) + 1).cast("double").as("l_quantity"),
      (floor(u(seed, 4) * 10000000) / 100.0 + 900.0).as("l_extendedprice"),
      (floor(u(seed, 5) * 11) / 100.0).as("l_discount"),
      (floor(u(seed, 6) * 9) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (floor(u(seed, 7) * 3) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")), (floor(u(seed, 8) * 2) + 1).cast("int")).as("l_linestatus"),
      (lit(java.time.LocalDateTime.parse("1992-01-02T00:00:00")) +
        make_dt_interval(floor(u(seed, 9) * 2500).cast("int"))).as("l_shipdate"))

  /** `events` shaped like the testdata's: time-ordered event ids over 30
    * days, 1 500 users, five event types, a two-decimal value and a
    * `{"k": n}` props document. */
  def events(spark: SparkSession, rows: Long, seed: Long): DataFrame = {
    val stepUs = 30L * 86400L * 1000000L / rows
    spark.range(0, rows, 1, 4).select(
      col("id").as("event_id"),
      (lit(java.time.LocalDateTime.parse("2024-01-01T00:00:00")) +
        make_dt_interval(lit(0), lit(0), lit(0),
          ((col("id") * stepUs + floor(u(seed, 1) * stepUs)) / 1e6).cast("decimal(18,6)"))).as("ts"),
      floor(u(seed, 2) * 1500).cast("long").as("user_id"),
      element_at(array(Seq("view", "click", "signup", "purchase", "error").map(lit): _*),
        (floor(u(seed, 3) * 5) + 1).cast("int")).as("event_type"),
      (floor(u(seed, 4) * 20000) / 100.0).as("value"),
      concat(lit("{\"k\": "), floor(u(seed, 5) * 100).cast("string"), lit("}")).as("props"))
  }
}
