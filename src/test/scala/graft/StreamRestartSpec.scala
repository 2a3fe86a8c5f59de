package graft

import graft.model.{Span, SpanBuffer}
import graft.streaming.SpanBufferStream
import org.apache.spark.sql.{Dataset, Encoders, SaveMode}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

/** Recovery proof for the streaming span-buffer pipeline: a file-backed
  * backlog consumed across THREE separate query incarnations sharing
  * one checkpoint. Each restart must (a) resume from the committed
  * offset (only the new file is read), (b) restore the open-buffer
  * state written by the previous incarnation, and (c) fire event-time
  * seals whose deadlines were set before the restart. This is the
  * crash/deploy cycle a production indexer lives through — the
  * reference gets the same property from Kafka offsets + its external
  * span store.
  */
class StreamRestartSpec extends AnyFunSpec with Matchers with SparkTestBase {

  private val T0 = 1700000000000000L // micros
  private def sp(trace: String, id: String, tUs: Long): Span =
    Span(trace, id, "", "svc", "op", tUs, 10L, "", Map.empty)

  it("resumes offsets and buffer state across stream restarts") {
    val s = spark
    import s.implicits._
    val base = Scratch.fresh("graft_restart")
    val (srcDir, ckpt, outDir) = (s"$base/src", s"$base/ckpt", s"$base/out")

    def addFile(spans: Seq[Span]): Unit =
      s.createDataset(spans).repartition(1).write.mode(SaveMode.Append).parquet(srcDir)

    def runOnce(): Unit = {
      val stream = s.readStream.schema(Encoders.product[Span].schema)
        .parquet(srcDir).as[Span]
      val sealedBuffers: Dataset[SpanBuffer] =
        SpanBufferStream.assemble(stream, gapSeconds = 60, maxSpans = 1000)
      val q = sealedBuffers
        .select($"traceId", org.apache.spark.sql.functions.size($"spans").as("n"))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    def sealedNow(): Map[String, Int] = {
      val p = new org.apache.hadoop.fs.Path(outDir)
      if (!p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)) Map.empty
      else s.read.parquet(outDir).collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    }

    // run 1: A has two spans, B one; nobody has been quiet long enough
    addFile(Seq(sp("A", "a1", T0), sp("A", "a2", T0 + 1000000L), sp("B", "b1", T0)))
    runOnce()
    sealedNow() shouldBe Map.empty // watermark still below every deadline

    // run 2 (new incarnation): B gets a late-burst span, C appears.
    // The watermark reaching T0+140s must fire A's T0+61s deadline —
    // state and deadline both set by the PREVIOUS incarnation.
    addFile(Seq(sp("B", "b2", T0 + 200000000L), sp("C", "c1", T0 + 200000000L)))
    runOnce()
    sealedNow() shouldBe Map("A" -> 2)

    // run 3: D advances the watermark to T0+340s, sealing B (both its
    // spans in ONE buffer — accumulation survived the restart, so the
    // burst merged instead of starting a fresh buffer) and C.
    addFile(Seq(sp("D", "d1", T0 + 400000000L)))
    runOnce()
    sealedNow() shouldBe Map("A" -> 2, "B" -> 2, "C" -> 1)
  }
}
