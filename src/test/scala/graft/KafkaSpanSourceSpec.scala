package graft

import graft.model.Span
import graft.streaming.KafkaSpanSource
import graft.streaming.KafkaSpanSource.{KafkaSinkConfig, KafkaSourceConfig}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

class KafkaSpanSourceSpec extends AnyFunSpec with Matchers with SparkTestBase {

  /** The exact schema `spark.readStream.format("kafka").load()` yields. */
  private val kafkaWireSchema = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  private def wireRows(payloads: String*) = {
    val rows = payloads.zipWithIndex.map { case (p, i) =>
      Row("k".getBytes, p.getBytes("UTF-8"), "proto-spans", 0, i.toLong,
        new java.sql.Timestamp(0L), 0)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq), kafkaWireSchema)
  }

  describe("deserializeSpans") {
    it("decodes a well-formed payload into a typed Span") {
      val json = """{"traceId":"t1","spanId":"s1","parentSpanId":"p1",
        |"service":"svc","operation":"op","startUs":1000,"durationUs":50,
        |"kind":"client","tags":{"a":"1"}}""".stripMargin.replace("\n", "")
      val out = KafkaSpanSource.deserializeSpans(wireRows(json)).collect()
      out shouldBe Array(
        Span("t1", "s1", "p1", "svc", "op", 1000L, 50L, "client", Map("a" -> "1")))
    }

    it("defaults optional fields and drops malformed payloads") {
      val minimal = """{"traceId":"t1","spanId":"s1","startUs":5}"""
      val garbage = "not json at all"
      val missingIds = """{"service":"svc"}"""
      val out = KafkaSpanSource.deserializeSpans(
        wireRows(minimal, garbage, missingIds)).collect()
      out should have length 1
      out.head shouldBe Span("t1", "s1", "", "", "", 5L, 0L, "", Map.empty)
    }

    it("round-trips through serializeSpans") {
      val s = spark
      import s.implicits._
      val spans = Seq(
        Span("t1", "a", "", "svc", "op", 1L, 2L, "server", Map("x" -> "y")),
        Span("t2", "b", "a", "svc2", "op2", 3L, 4L, "", Map.empty))
      val wire = KafkaSpanSource.serializeSpans(spans.toDS())
        .withColumn("topic", org.apache.spark.sql.functions.lit("t"))
        .withColumn("partition", org.apache.spark.sql.functions.lit(0))
        .withColumn("offset", org.apache.spark.sql.functions.lit(0L))
        .withColumn("timestamp",
          org.apache.spark.sql.functions.lit(new java.sql.Timestamp(0L)))
        .withColumn("timestampType", org.apache.spark.sql.functions.lit(0))
      KafkaSpanSource.deserializeSpans(wire).collect().toSet shouldBe spans.toSet
    }

    it("keys records by traceId so a trace shards to one partition") {
      val s = spark
      import s.implicits._
      val keys = KafkaSpanSource.serializeSpans(
        Seq(Span("t9", "a", "", "", "", 0L, 0L, "", Map.empty)).toDS())
        .select("key").collect().map(r => new String(r.getAs[Array[Byte]](0)))
      keys shouldBe Array("t9")
    }
  }

  describe("configs") {
    it("builds the consumer option map the kafka source expects") {
      val opts = KafkaSourceConfig("broker:9092", "proto-spans",
        maxOffsetsPerTrigger = Some(50000L)).options
      opts("kafka.bootstrap.servers") shouldBe "broker:9092"
      opts("subscribe") shouldBe "proto-spans"
      opts("startingOffsets") shouldBe "latest"
      opts("maxOffsetsPerTrigger") shouldBe "50000"
      opts("failOnDataLoss") shouldBe "false"
    }

    it("builds the producer option map") {
      val opts = KafkaSinkConfig("broker:9092", "span-buffers", "/tmp/ck").options
      opts("topic") shouldBe "span-buffers"
      opts("checkpointLocation") shouldBe "/tmp/ck"
    }
  }

  describe("file-backed micro-batch wire replay") {
    // The spark-sql-kafka connector jar exists nowhere in the offline
    // image (re-verified each round), so `format("kafka").load()`
    // cannot execute here. This replay is the closest offline
    // equivalent: wire rows in the EXACT kafka source schema land one
    // file per micro-batch and a file stream drives the full
    // serialize → wire bytes → deserialize → watermark-sealed assembly
    // path — everything a real broker run exercises except the socket.
    it("drives serialize -> wire -> deserialize -> assemble end to end") {
      val s = spark
      import s.implicits._
      import org.apache.spark.sql.functions._
      val t0 = 1704067200000000L
      def span(trace: String, id: String, tUs: Long) =
        Span(trace, id, "", "svc", "op", tUs, 10L, "", Map("src" -> "kafka"))
      val batches = Seq(
        Seq(span("t1", "a", t0), span("t1", "b", t0 + 1000000L)),
        Seq(span("t2", "x", t0 + 2000000L), span("t1", "c", t0 + 3000000L)),
        Seq(span("t9", "z", t0 + 600000000L))) // watermark driver
      val root = Scratch.fresh("graft_kafka_replay")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      batches.zipWithIndex.foreach { case (b, i) =>
        KafkaSpanSource.serializeSpans(s.createDataset(b))
          .withColumn("topic", lit("proto-spans"))
          .withColumn("partition", lit(0))
          .withColumn("offset", monotonically_increasing_id() + i * 1000L)
          .withColumn("timestamp", lit(new java.sql.Timestamp(i * 1000L)))
          .withColumn("timestampType", lit(0))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/stage")
        val part = fs.globStatus(
          new org.apache.hadoop.fs.Path(s"$root/stage/part-*.parquet"))(0).getPath
        val dst = new org.apache.hadoop.fs.Path(s"$root/in/batch$i.parquet")
        fs.mkdirs(dst.getParent)
        fs.rename(part, dst)
        fs.setTimes(dst, 1000000L + i * 10000L, -1) // ascending mod times
      }
      val wire = s.readStream.schema(kafkaWireSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      val sealed0 = graft.streaming.SpanBufferStream.assemble(
        KafkaSpanSource.deserializeSpans(wire), gapSeconds = 60, maxSpans = 100)
      val sink = s"kafka_replay_${System.nanoTime()}"
      val q = sealed0.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val buffers = s.table(sink).as[graft.model.SpanBuffer].collect()
        .map(b => b.traceId -> b).toMap
      buffers.keySet shouldBe Set("t1", "t2") // t9 stays open (no later watermark)
      buffers("t1").spans.map(_.spanId).toSet shouldBe Set("a", "b", "c")
      buffers("t2").spans.map(_.spanId).toSet shouldBe Set("x")
      // tag fidelity through the wire bytes
      buffers("t1").spans.head.tags shouldBe Map("src" -> "kafka")
    }
  }
}
