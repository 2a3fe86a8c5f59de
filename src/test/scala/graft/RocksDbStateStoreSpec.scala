package graft

import graft.model.{Span, SpanBuffer}
import graft.streaming.SpanBufferStream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

/** The state-store provider is a pure storage decision: swapping the
  * default HDFS-backed (on-heap) provider for RocksDB (off-heap,
  * spills to local disk — the 100 M-event escape hatch when session
  * state outgrows executor heap) must not change ANY streaming result.
  * This spec pins that equivalence plus the metrics surface an
  * operator would watch to make the call, so choosing RocksDB for a
  * big session store is a measured trade, not a leap. The
  * streaming_sessions_rocksdb surface forces the provider and shares
  * its oracle with the default-provider session surface. */
class RocksDbStateStoreSpec extends AnyFunSpec with Matchers with SparkTestBase {

  private val t0 = 1704067200000000L // 2024-01-01 UTC, micros

  private def span(trace: String, id: String, tUs: Long): Span =
    Span(trace, id, "", "svc", "op", tUs, 10L, "", Map.empty)

  /** Assemble buffers for two out-of-order batches on the given session. */
  private def assembleOn(s: SparkSession): (Seq[(String, Int)], Long) = {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[Span]
    val out = SpanBufferStream.assemble(input.toDS(), gapSeconds = 60, maxSpans = 100)
    val sink = s"rocksdb_cmp_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      input.addData(Seq(span("t1", "a", t0), span("t2", "x", t0 + 5000000L)))
      q.processAllAvailable()
      input.addData(Seq(span("t1", "b", t0 + 1000000L), // late span joins t1's buffer
        span("t3", "y", t0 + 600000000L))) // 10 min later: seals t1/t2
      q.processAllAvailable()
      val stateBytes = Option(q.lastProgress)
        .flatMap(p => p.stateOperators.headOption).map(_.memoryUsedBytes).getOrElse(-1L)
      val rows = s.table(sink).as[SpanBuffer].collect().toSeq
        .map(b => b.traceId -> b.spans.size).sortBy(_._1)
      (rows, stateBytes)
    } finally q.stop()
  }

  it("produces identical buffers under the RocksDB provider") {
    val default = assembleOn(spark.newSession())
    val rocks = {
      val ss = spark.newSession()
      ss.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      assembleOn(ss)
    }
    rocks._1 shouldBe default._1
    rocks._1.toMap.apply("t1") shouldBe 2 // the late span made it into the buffer
    // both providers report the memory metric an operator would size by
    default._2 should be > 0L
    rocks._2 should be > 0L
  }
}
