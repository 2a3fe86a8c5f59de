package graftbench

import java.io.File

/** Helpers shared by the workloads. */
object Common {

  def medianOrZero(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  private def dataFilesUnder(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    walk(new File(dir.stripPrefix("file:")))
  }

  /** Bytes and count of data files under a directory (checksums and
    * commit markers excluded). */
  def dataBytes(dir: String): Long = dataFilesUnder(dir).map(_.length()).sum
  def dataFiles(dir: String): Int = dataFilesUnder(dir).size

  /** Seconds spent in SQL executions whose root command writes `target`
    * (an output path or a table name). */
  def writeSeconds(tr: Tracer)(target: String): Double =
    tr.executions.toList.filter(_._4.contains(target)).map(e => e._3 - e._2).sum / 1e6

  /** Micro-batch phase and state-store figures, summed over the given
    * progress reports (state size and memory: the largest seen). */
  def streamMetrics(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): Map[String, Double] = {
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum / 1000.0
    val ops = ps.flatMap(_.stateOperators)
    Map(
      "stream.query_planning_s" -> dur("queryPlanning"),
      "stream.batches" -> ps.size.toDouble,
      "stream.input_rows" -> ps.map(_.numInputRows).sum.toDouble,
      "stream.latest_offset_s" -> dur("latestOffset"),
      "stream.get_batch_s" -> dur("getBatch"),
      "stream.add_batch_s" -> dur("addBatch"),
      "stream.wal_commit_s" -> dur("walCommit"),
      "stream.commit_offsets_s" -> dur("commitOffsets"),
      "state.rows_total" -> ops.map(_.numRowsTotal).maxOption.getOrElse(0L).toDouble,
      "state.memory_bytes" -> ops.map(_.memoryUsedBytes).maxOption.getOrElse(0L).toDouble,
      "state.commit_s" -> ops.map(_.commitTimeMs).sum / 1000.0,
      "state.update_s" -> ops.map(_.allUpdatesTimeMs).sum / 1000.0,
      "state.removal_s" -> ops.map(_.allRemovalsTimeMs).sum / 1000.0,
      "state.rows_dropped_late" -> ops.map(_.numRowsDroppedByWatermark).sum.toDouble)
  }

  /** Whole-phase counters every workload reports (zero where a layer is
    * off the workload's path). */
  def totals(tr: Tracer, spans: Seq[TSpan]): Map[String, Double] = {
    val keys = Seq("scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.task_wait_s",
      "executor.run_s", "executor.cpu_s", "executor.gc_s", "shuffle.read_bytes", "shuffle.write_bytes",
      "spill.bytes", "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
      "codegen.compiles", "codegen.compile_s")
    keys.map(k => k -> tr.counter(k)).toMap +
      ("graft.build_s" -> spans.filter(_.name == "graft.build").map(_.durUs).sum / 1e6)
  }
}
