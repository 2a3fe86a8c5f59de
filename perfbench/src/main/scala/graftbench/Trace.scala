package graftbench

import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Microseconds since the epoch at nanosecond resolution; listener
  * timestamps (epoch ms) convert onto the same axis. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** One traced interval. `level` orders the layers: at any instant of a
  * request, time belongs to the deepest active level (see [[Layers]]). */
final case class TSpan(req: String, level: Int, name: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

object Layers {
  // request self time (harness), then the action outside Spark's phases
  // (driver: result transfer and decoding), graft's DataFrame build,
  // Structured Streaming's micro-batch machinery, Catalyst phases, the
  // scheduler (job or stage active, no task running), task execution,
  // and codegen compiles.
  val Names: IndexedSeq[String] = IndexedSeq(
    "harness", "driver", "graft", "stream", "catalyst", "scheduler", "executor", "codegen")
  val Harness = 0; val Driver = 1; val Graft = 2; val Stream = 3
  val Catalyst = 4; val Scheduler = 5; val Executor = 6; val Codegen = 7
}

/** The traced run's recorder. Spans come from the benchmark's own calls
  * (requests, graft builds, actions) and from Spark's public listeners:
  * a SparkListener (jobs, stages, tasks, SQL executions), a
  * QueryExecutionListener (the query tracker's phases), the
  * StreamingQueryListener events (micro-batch progress) and the codegen
  * log line. Nothing inside graft is instrumented. Spans and counters
  * stay in memory until the run ends. */
final class Tracer(spark: SparkSession) {
  import Layers._
  private val sc = spark.sparkContext
  @volatile private var on = false
  def enabled: Boolean = on

  val ReqKey = "graftbench.req"

  private val spans = mutable.ArrayBuffer[TSpan]()
  private val counters = mutable.Map[(String, String), Double]().withDefaultValue(0.0)
  val progress = mutable.ArrayBuffer[(String, StreamingQueryProgress)]()
  /** SQL executions: (req, start, end, root node of the physical plan with its arguments). */
  val executions = mutable.ArrayBuffer[(String, Long, Long, String)]()

  def record(s: TSpan): Unit = if (on) synchronized { spans += s }
  def add(req: String, key: String, v: Double): Unit = if (on) synchronized { counters((req, key)) += v }
  def allSpans: Seq[TSpan] = synchronized(spans.toList)
  def counter(key: String, reqs: String => Boolean = _ => true): Double = synchronized {
    counters.iterator.collect { case ((r, k), v) if k == key && reqs(r) => v }.sum
  }
  def clear(): Unit = synchronized {
    spans.clear(); counters.clear(); executions.clear(); progress.clear()
  }

  // ---------------------------------------------------------- harness spans

  private val currentReq = new ThreadLocal[String]

  /** Runs `body` as request `req`: Spark jobs, stages, tasks, SQL
    * executions and compiles it causes carry the id. */
  def request[T](req: String)(body: => T): T = {
    val prevReq = currentReq.get
    currentReq.set(req)
    sc.setLocalProperty(ReqKey, req)
    sc.setJobGroup(req, req)
    val t0 = Clock.nowUs
    try body
    finally {
      record(TSpan(req, Harness, "request", t0, Clock.nowUs))
      sc.clearJobGroup()
      sc.setLocalProperty(ReqKey, prevReq)
      currentReq.set(prevReq)
    }
  }

  /** A harness-level span inside the current request. */
  def span[T](level: Int, name: String)(body: => T): T = {
    val t0 = Clock.nowUs
    try body finally record(TSpan(currentReq.get, level, name, t0, Clock.nowUs))
  }

  /** Catalyst phases of a query the calling thread just ran. */
  def phases(req: String, qe: QueryExecution): Unit = if (on) {
    qe.tracker.phases.foreach { case (name, p) =>
      record(TSpan(req, Catalyst, name, p.startTimeMs * 1000L, p.endTimeMs * 1000L))
      add(req, s"catalyst.${name}_s", p.durationMs / 1000.0)
    }
  }

  // ---------------------------------------------------------- listeners

  private val stageReq = mutable.Map[Int, String]()
  private val stageSubmitUs = mutable.Map[Int, Long]()
  private val jobStartUs = mutable.Map[Int, (String, Long)]()
  private val execStart = mutable.Map[Long, (String, Long, String)]()

  private def reqOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(ReqKey))).orNull

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStartUs(e.jobId) = (reqOf(e.properties), e.time * 1000L)
      add(reqOf(e.properties), "scheduler.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStartUs.remove(e.jobId).foreach { case (req, t0) =>
        record(TSpan(req, Scheduler, "job", t0, e.time * 1000L))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val req = reqOf(e.properties)
      stageReq(e.stageInfo.stageId) = req
      stageSubmitUs(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()) * 1000L
      add(req, "scheduler.stages", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val id = e.stageInfo.stageId
      for (req <- stageReq.get(id); t0 <- stageSubmitUs.get(id))
        record(TSpan(req, Scheduler, "stage",
          t0, e.stageInfo.completionTime.map(_ * 1000L).getOrElse(Clock.nowUs)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val req = stageReq.getOrElse(e.stageId, null)
      val info = e.taskInfo
      record(TSpan(req, Executor, "task", info.launchTime * 1000L, info.finishTime * 1000L))
      add(req, "scheduler.tasks", 1)
      stageSubmitUs.get(e.stageId).foreach(t0 =>
        add(req, "scheduler.task_wait_s", math.max(0L, info.launchTime * 1000L - t0) / 1e6))
      Option(e.taskMetrics).foreach { m =>
        add(req, "executor.run_s", m.executorRunTime / 1e3)
        add(req, "executor.cpu_s", m.executorCpuTime / 1e9)
        add(req, "executor.gc_s", m.jvmGCTime / 1e3)
        add(req, "shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(req, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(req, "spill.bytes", m.diskBytesSpilled.toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        execStart(s.executionId) = (s.jobGroupId.orNull, s.time * 1000L,
          Tracer.rootCommand(Option(s.physicalPlanDescription).getOrElse("")))
      }
      case x: SparkListenerSQLExecutionEnd => synchronized {
        execStart.remove(x.executionId).foreach { case (req, t0, plan) =>
          if (on) executions += ((req, t0, x.time * 1000L, plan))
        }
      }
      case _ =>
    }
  }

  /** Catalyst phases of queries the harness does not hold (noop writes,
    * streaming batches); attributed to a request later by time. */
  private object qeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(null, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(null, qe)
  }

  /** Streaming progress, for every session (graft's
    * streaming surfaces run on cloned sessions, whose query managers a
    * per-session StreamingQueryListener would not see). Always on: batch
    * durations are an end-to-end figure. */
  private object progressListener extends SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent =>
        Tracer.this.synchronized { progress += ((p.progress.runId.toString, p.progress)) }
      case _ =>
    }
  }

  private val CodegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val CodegenLine = """Code generated in ([0-9.]+) ms""".r.unanchored

  private object codegenAppender extends AbstractAppender(
      "graftbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = if (on) {
      e.getMessage.getFormattedMessage match {
        case CodegenLine(ms) =>
          val end = Clock.nowUs
          val req = Option(TaskContext.get()).map(_.getLocalProperty(ReqKey))
            .getOrElse(sc.getLocalProperty(ReqKey))
          val us = (ms.toDouble * 1000).toLong
          record(TSpan(req, Codegen, "compile", end - us, end))
          add(req, "codegen.compiles", 1)
          add(req, "codegen.compile_s", us / 1e6)
        case _ =>
      }
    }
  }

  sc.addSparkListener(progressListener)

  /** Registers the tracing listeners and the codegen log hook. */
  def start(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    codegenAppender.start()
    cfg.addAppender(codegenAppender)
    val lc = new LoggerConfig(CodegenLogger, Level.INFO, false)
    lc.addAppender(codegenAppender, Level.INFO, null)
    cfg.addLogger(CodegenLogger, lc)
    ctx.updateLoggers()
    on = true
  }

  /** Delivers every queued event, then stops recording. */
  def stop(): Unit = {
    drain()
    on = false
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.removeLogger(CodegenLogger)
    ctx.updateLoggers()
  }

  def drain(): Unit = org.apache.spark.graftbench.BusDrain(sc)

  /** Adds a span derived after the traced phase (stream phases). */
  def recordAlways(s: TSpan): Unit = synchronized { spans += s }

  /** Micro-batch phase spans laid out in MicroBatchExecution's order from
    * each progress's trigger timestamp (progress reports durations only). */
  def streamPhaseSpans(req: String, ps: Seq[StreamingQueryProgress]): Seq[TSpan] = ps.flatMap { p =>
    val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
    val d = p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    val batch = TSpan(req, Stream, "triggerExecution", t0, t0 + ms("triggerExecution") * 1000L)
    var t = t0
    batch +: Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets").map { k =>
      val s = TSpan(req, if (k == "queryPlanning") Catalyst else Stream, k, t, t + ms(k) * 1000L)
      t = s.endUs
      s
    }.filter(_.durUs > 0)
  }
}

object Tracer {
  /** The command an explained physical plan executes (its topmost
    * `Execute ...` node, else the root) and, in the formatted explain
    * mode, that node's details, where a write names its output path. */
  def rootCommand(plan: String): String = {
    val lines = plan.linesIterator.toVector
    val tree = lines.dropWhile(!_.startsWith("== Physical Plan ==")).drop(1).takeWhile(_.trim.nonEmpty)
    val root = tree.find(_.contains("Execute ")).orElse(tree.headOption).getOrElse("")
    val details = """\((\d+)\)\s*$""".r.findFirstMatchIn(root).map { m =>
      lines.dropWhile(!_.startsWith(s"(${m.group(1)}) ")).drop(1)
        .takeWhile(l => !l.matches("""\(\d+\) .*""")).mkString("\n")
    }
    root + "\n" + details.getOrElse("")
  }
}

/** Self-time accounting. Each lane is one client timeline (a serve
  * client thread, the analytics pass). Within a lane every instant goes
  * to the deepest layer active for the request that covers it, and lane
  * time outside any request is unattributed, so the
  * layer totals plus the unattributed remainder equal the lanes' wall
  * time exactly. */
object SelfTime {

  final case class Result(byLayer: Map[String, Double], unattributedS: Double, wallS: Double)

  /** `requests` are (lane, req id, start, end); `spans` carry a req id or
    * null (then they are attributed by time to a lane-unique request). */
  def apply(requests: Seq[(Int, String, Long, Long)], spans: Seq[TSpan],
      laneStartUs: Long, laneEndUs: Long, lanes: Int): Result = {
    val byReq = requests.map(r => r._2 -> r).toMap
    val sorted = requests.sortBy(_._3).toIndexedSeq
    def coverOf(t: Long): Option[(Int, String, Long, Long)] = {
      // the latest request starting at or before t, if it still runs
      var lo = 0; var hi = sorted.size - 1; var best = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (sorted(mid)._3 <= t) { best = mid; lo = mid + 1 } else hi = mid - 1
      }
      if (best >= 0 && sorted(best)._4 > t) Some(sorted(best)) else None
    }
    val events = mutable.ArrayBuffer[(Int, Long, Int, Int)]() // lane, time, level, +1/-1
    def push(lane: Int, s: Long, e: Long, level: Int): Unit = if (e > s) {
      events += ((lane, s, level, 1)); events += ((lane, e, level, -1))
    }
    requests.foreach { case (lane, _, s, e) => push(lane, math.max(s, laneStartUs), math.min(e, laneEndUs), Layers.Harness) }
    spans.filter(_.level != Layers.Harness).foreach { sp =>
      val owner = Option(sp.req).flatMap(byReq.get).orElse(coverOf(sp.startUs))
      owner.foreach { case (lane, _, s, e) =>
        push(lane, math.max(math.max(sp.startUs, s), laneStartUs), math.min(math.min(sp.endUs, e), laneEndUs), sp.level)
      }
    }
    val acc = Array.fill(Layers.Names.size)(0L)
    events.groupBy(_._1).foreach { case (_, evs) =>
      val active = Array.fill(Layers.Names.size)(0)
      var last = Long.MinValue
      evs.sortBy(e => (e._2, -e._4)).foreach { case (_, t, level, d) =>
        if (last != Long.MinValue && t > last) {
          val top = active.lastIndexWhere(_ > 0)
          if (top >= 0) acc(top) += t - last
        }
        active(level) += d
        last = t
      }
    }
    val wall = (laneEndUs - laneStartUs) * lanes
    val covered = acc.sum
    Result(Layers.Names.zip(acc.map(_ / 1e6)).toMap, (wall - covered) / 1e6, wall / 1e6)
  }
}
