package graft

import graft.operators.SpanOps
import graft.trace.{TraceStoreWriter, TraceTransforms}
import graft.model.Span
import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

class TraceStoreWriterSpec extends AnyFunSpec with Matchers with SparkTestBase {

  describe("deriveKinds") {
    it("backfills kind from the span.kind tag only when unset") {
      val a = Span("t", "a", "", "s", "o", 1, 1, "", Map("span.kind" -> "CLIENT"))
      val b = Span("t", "b", "", "s", "o", 1, 1, "server", Map("span.kind" -> "client"))
      val c = Span("t", "c", "", "s", "o", 1, 1, "", Map.empty)
      val out = TraceTransforms.deriveKinds(Seq(a, b, c))
      out.map(_.kind) shouldBe Seq("client", "server", "")
    }
  }

  describe("TraceStoreWriter") {
    it("materializes all three store layouts from one span relation") {
      val tmp = Scratch.fresh("graft_store")
      val layout = TraceStoreWriter.StoreLayout(
        bucketTable = "graft_spans_spec", buckets = 8,
        indexDir = s"$tmp/index", metaDir = s"$tmp/meta", hourly = false)
      val spans = SpanOps.spansFromEvents(Tables.events(spark, sfDir))
      TraceStoreWriter.writeAll(spans, layout)

      TraceStoreWriter.traceStore(spark, layout).count() shouldBe spans.count()
      val idx = TraceStoreWriter.indexStore(spark, layout)
      idx.columns should contain allOf ("trace_id", "service", "operation", "span_count", "dt")
      idx.count() should be > 0L
      val meta = TraceStoreWriter.serviceCatalog(spark, layout)
      meta.count() shouldBe spans.select("service").distinct().count()
    }

    it("streaming fan-out lands three consistent sinks per micro-batch") {
      val s = spark
      import s.implicits._
      val tmp = Scratch.fresh("graft_store_stream")
      // a real file-source stream over events, like the driver queries use
      val batchSchema = Tables.events(s, sfDir).schema
      val stream = s.readStream.schema(batchSchema)
        .option("pathGlobFilter", "events.parquet").parquet(sfDir)
        .select(
          col("user_id").cast("string").as("trace_id"),
          col("event_id").cast("string").as("span_id"),
          lit("").as("parent_span_id"),
          col("event_type").as("service"), lit("op").as("operation"),
          Tables.eventTimeUs(Tables.events(s, sfDir)).as("start_us"),
          round(col("value") * 1000, 0).cast("long").as("duration_us"),
          lit("").as("kind"), map().cast("map<string,string>").as("tags"))
      val buffers = graft.streaming.SpanBufferStream.assemble(
        graft.trace.TraceDataset.toSpanDataset(stream), gapSeconds = 60, maxSpans = 10000)
      TraceStoreWriter.writeAllStream(buffers, tmp)

      val storedSpans = s.read.parquet(s"$tmp/spans")
      val index = s.read.parquet(s"$tmp/index")
      val meta = s.read.parquet(s"$tmp/meta")
      // sinks agree with each other: span rows = sum of index span_counts,
      // one index row per sealed trace, metadata covers every stored service
      index.count() shouldBe index.select("trace_id").distinct().count()
      storedSpans.count() shouldBe
        index.agg(sum("span_count")).head().getLong(0)
      val storedServices = storedSpans.select("service").distinct()
        .collect().map(_.getString(0)).toSet
      val metaServices = meta.select("service").distinct()
        .collect().map(_.getString(0)).toSet
      storedServices.subsetOf(metaServices) shouldBe true
      // and with the batch-sealed set (same data, same seal rule)
      val batchSealed = SparkEntry.allDefs("streaming_span_buffer").fn(s, sfDir)
      index.select(col("trace_id"), col("span_count")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe
        batchSealed.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
  }
}
