package graft

import graft.queries.StreamingQueries
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

/** A repeated streaming replay is warm and right-sized: its clone
  * shares the codegen cache, its state parallelism follows the backlog,
  * building it starts no Spark job, and no clone outlives its run in
  * `Tables`' memo. */
class StreamingReplaySpec extends AnyFunSpec with Matchers with SparkTestBase {

  private def run(name: String): Array[org.apache.spark.sql.Row] =
    SparkEntry.queries(name)(spark, sfDir).collect()

  it("a second streaming_span_buffer run reuses the codegen cache") {
    val first = run("streaming_span_buffer")
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = run("streaming_span_buffer")
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    // 23 when every session (and the clone Spark makes per streaming
    // query) compiles under its own artifact class loader
    compiles should be < 5L
    second should contain theSameElementsInOrderAs first
  }

  it("sizes state partitions to the backlog, as before from 1 M rows") {
    val table = Seq(
      1000L -> 1, 20000L -> 1, 100000L -> 2,
      1000000L -> 8, 10000000L -> 32, 100000000L -> 32)
    table.map { case (rows, _) => rows -> StreamingQueries.statePartitions(rows) } shouldBe table
    StreamingQueries.statePartitions(0L) shouldBe 1
  }

  for (name <- Seq("streaming_span_buffer", "streaming_late_drops"))
    it(s"builds $name with no Spark job on the building thread") {
      run(name)
      // no sizing count, no schema inference on the clone before the
      // stream starts, no footer inference on the read-back after it
      jobsDuring(SparkEntry.queries(name)(spark, sfDir)) shouldBe 0
    }

  it("keeps no streaming clone reachable from the Tables memo") {
    run("streaming_alerts")
    val held = Tables.memoSessions
    (1 to 3).foreach(_ => run("streaming_alerts"))
    System.gc()
    Tables.memoSessions should be <= held
  }
}
