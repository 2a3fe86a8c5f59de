package graft

import graft.model.{Span, SpanBuffer}
import graft.streaming.SpanBufferStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

class SpanBufferStreamSpec extends AnyFunSpec with Matchers with SparkTestBase {

  private def span(trace: String, id: String, tUs: Long): Span =
    Span(trace, id, "", "svc", "op", tUs, 10L, "", Map.empty)

  private def runBatches(gapSeconds: Long, maxSpans: Int)(batches: Seq[Span]*): Seq[SpanBuffer] = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[Span]
    val out = SpanBufferStream.assemble(input.toDS(), gapSeconds, maxSpans)
    val sink = s"buffers_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    s.table(sink).as[SpanBuffer].collect().toSeq
  }

  describe("streaming dedup") {
    it("drops at-least-once duplicates within the watermark horizon") {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val t0 = 1704067200000000L
      val input = MemoryStream[Span]
      val out = SpanBufferStream.dedupSpans(input.toDS(), gapSeconds = 60)
      val sink = s"dedup_${System.nanoTime()}"
      val q = out.writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        val sp = span("t1", "a", t0)
        input.addData(Seq(sp, sp, sp, span("t1", "b", t0 + 1000L)))
        q.processAllAvailable()
        input.addData(Seq(sp)) // redelivery in a later micro-batch
        q.processAllAvailable()
      } finally q.stop()
      spark.table(sink).collect().length shouldBe 2
    }
  }

  describe("streaming persist path") {
    it("sealed buffers land in parquet through a checkpointed file sink") {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val t0 = 1704067200000000L
      val tmp = Scratch.fresh("graft_stream_sink")
      val input = MemoryStream[Span]
      val q = SpanBufferStream.assemble(input.toDS(), gapSeconds = 60, maxSpans = 100)
        .select(col("traceId").as("trace_id"),
          org.apache.spark.sql.functions.size(col("spans")).as("span_count"))
        .writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .outputMode("append").start()
      try {
        input.addData(Seq(span("t1", "a", t0), span("t1", "b", t0 + 1000000L)))
        q.processAllAvailable()
        input.addData(Seq(span("t2", "x", t0 + 600000000L)))
        q.processAllAvailable()
      } finally q.stop()
      val out = spark.read.parquet(s"$tmp/out")
      out.filter(col("trace_id") === "t1").head().getAs[Int]("span_count") shouldBe 2
    }
  }

  describe("streaming span-buffer assembly") {
    val t0 = 1704067200000000L // 2024-01-01 UTC, micros

    it("seals a trace after the inactivity gap passes the watermark") {
      val sealed_ = runBatches(gapSeconds = 60, maxSpans = 100)(
        Seq(span("t1", "a", t0), span("t1", "b", t0 + 1000000L)),
        // a much later span on another trace advances the watermark
        // beyond t1's timeout → t1 seals
        Seq(span("t2", "x", t0 + 600000000L)))
      val t1 = sealed_.filter(_.traceId == "t1")
      t1 should have size 1
      t1.head.spans.map(_.spanId).toSet shouldBe Set("a", "b")
    }

    it("merges an out-of-order span that arrives above the watermark") {
      // batch 2 delivers a span OLDER than anything in batch 1 but
      // still above the watermark (t0+10s − 60s): it must merge into
      // the open buffer, not start a new one or be dropped
      val sealed_ = runBatches(gapSeconds = 60, maxSpans = 100)(
        Seq(span("t1", "late-ref", t0 + 10000000L)),
        Seq(span("t1", "early", t0)),
        Seq(span("t2", "x", t0 + 600000000L)), // advance watermark past t1's deadline
        Seq(span("t2", "y", t0 + 601000000L))) // extra batch so the timeout fires
      val t1 = sealed_.filter(_.traceId == "t1")
      t1 should have size 1
      t1.head.spans.map(_.spanId).toSet shouldBe Set("late-ref", "early")
    }

    it("keeps quiet-but-young traces open") {
      val sealed_ = runBatches(gapSeconds = 3600, maxSpans = 100)(
        Seq(span("t1", "a", t0)),
        Seq(span("t2", "x", t0 + 5000000L))) // +5 s — inside the gap
      sealed_.filter(_.traceId == "t1") shouldBe empty
    }

    it("early-seals a trace that hits the span cap") {
      val sealed_ = runBatches(gapSeconds = 3600, maxSpans = 3)(
        Seq(span("t1", "a", t0), span("t1", "b", t0 + 1000L), span("t1", "c", t0 + 2000L)))
      sealed_.filter(_.traceId == "t1") should have size 1
      sealed_.find(_.traceId == "t1").get.spans should have size 3
    }

    it("session_window groupBy is an equivalent built-in assembly for summary rollups") {
      // the declarative alternative to flatMapGroupsWithState when only
      // per-trace aggregates (not full buffers) are needed
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      import org.apache.spark.sql.functions._
      val input = MemoryStream[Span]
      val out = input.toDS()
        .withColumn("event_time", timestamp_micros(col("startUs")))
        .withWatermark("event_time", "60 seconds")
        .groupBy(session_window(col("event_time"), "60 seconds"), col("traceId"))
        .agg(count(lit(1)).as("span_count"))
      val sink = s"sessions_${System.nanoTime()}"
      val q = out.writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        input.addData(Seq(span("t1", "a", t0), span("t1", "b", t0 + 1000000L)))
        q.processAllAvailable()
        input.addData(Seq(span("t2", "x", t0 + 600000000L)))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table(sink).collect()
      rows.find(_.getAs[String]("traceId") == "t1").get.getAs[Long]("span_count") shouldBe 2L
    }

    it("assembleSessions seals the same buffers as the state-function path on a dense timeline") {
      // each trace's spans are within the gap of each other (dense) and
      // a far-future span drives the watermark past every deadline —
      // the declared equivalence domain of the two assembly forms
      val timeline = Seq(
        Seq(span("t1", "a", t0), span("t1", "b", t0 + 1000000L),
          span("t2", "p", t0 + 2000000L)),
        Seq(span("t2", "q", t0 + 30000000L)), // +30 s, inside t2's gap
        Seq(span("t9", "z", t0 + 600000000L))) // watermark driver

      val stateful = runBatches(gapSeconds = 60, maxSpans = 100)(timeline: _*)
        .filter(_.traceId != "t9")
        .map(b => b.traceId -> b.spans.size).toMap

      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val input = MemoryStream[Span]
      val out = SpanBufferStream.assembleSessions(input.toDS(), gapSeconds = 60)
      val sink = s"sessions_eq_${System.nanoTime()}"
      val q = out.writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        timeline.foreach { b => input.addData(b); q.processAllAvailable() }
      } finally q.stop()
      val sessions = spark.table(sink).collect()
        .filter(_.getAs[String]("trace_id") != "t9")
      // dense traces: exactly one session each, same span counts
      val perTrace = sessions.map(r =>
        r.getAs[String]("trace_id") -> r.getAs[Long]("span_count")).toMap
      sessions.length shouldBe perTrace.size // no trace split into two sessions
      perTrace shouldBe stateful.map { case (k, v) => k -> v.toLong }
    }

    it("accumulates one trace across micro-batches before sealing") {
      val sealed_ = runBatches(gapSeconds = 60, maxSpans = 100)(
        Seq(span("t1", "a", t0)),
        Seq(span("t1", "b", t0 + 1000000L)),
        Seq(span("t2", "x", t0 + 600000000L)))
      val t1 = sealed_.filter(_.traceId == "t1")
      t1 should have size 1
      t1.head.spans.map(_.spanId).toSet shouldBe Set("a", "b")
    }
  }

  describe("attribution journey fold (state-boundedness contract)") {
    import SpanBufferStream.{AttrAcc, AttrEvent, OpenJourney}
    val channels = Vector("view", "click", "signup")
    def ev(i: Long, svc: String) = AttrEvent(svc, i * 1000000L, i)

    it("keeps O(channels) state for a never-quiet, never-purchasing user") {
      // 10k touches, watermark trailing 100 events behind — the exact
      // scenario the r9 verdict flagged as the unbounded-state killer
      var acc = Map.empty[String, AttrAcc]
      var open: Option[OpenJourney] = None
      var tail = Seq.empty[AttrEvent]
      (0 until 100).foreach { chunk =>
        val fresh = (0 until 100).map(j => ev(chunk * 100L + j, channels((chunk + j) % 3)))
        val sealUs = (chunk * 100L + 100L - 100L) * 1000000L // wm lags 100 events
        val (a, o, t) = SpanBufferStream.foldJourneys(acc, open, tail ++ fresh, sealUs)
        acc = a; open = o; tail = t
        tail.size should be <= 200 // at most the in-window suffix
      }
      acc shouldBe empty // no purchase ever closed a journey
      open.get.size shouldBe 9900L // all below-watermark touches compacted
      open.get.counts.keySet.subsetOf(channels.toSet) shouldBe true
    }

    it("incremental fold over advancing seals equals the full replay") {
      val evs = Seq(
        ev(1, "view"), ev(2, "click"), ev(3, "purchase"), ev(4, "signup"),
        ev(5, "view"), ev(6, "purchase"), ev(7, "click"), ev(8, "view"),
        ev(9, "purchase"), ev(10, "view"))
      val (full, _, _) = SpanBufferStream.foldJourneys(
        Map.empty, None, evs, Long.MaxValue)
      // replay in 1-event chunks with the seal trailing 2 events behind
      var acc = Map.empty[String, AttrAcc]
      var open: Option[OpenJourney] = None
      var tail = Seq.empty[AttrEvent]
      evs.zipWithIndex.foreach { case (e, i) =>
        val (a, o, t) = SpanBufferStream.foldJourneys(
          acc, open, tail :+ e, math.max(0L, (i.toLong - 1L)) * 1000000L)
        acc = a; open = o; tail = t
      }
      val (fin, _, _) = SpanBufferStream.foldJourneys(acc, open, tail, Long.MaxValue)
      fin shouldBe full
    }

    it("seals strictly below the watermark (a tie-timestamped event may still arrive)") {
      val purchase = ev(5, "purchase")
      val (acc, open, tail) = SpanBufferStream.foldJourneys(
        Map.empty, None, Seq(ev(1, "view"), purchase), purchase.startUs)
      acc shouldBe empty // purchase AT the seal must not fold yet
      tail should contain(purchase)
      open.get.counts shouldBe Map("view" -> 1L)
      // a late same-timestamp, smaller-spanId touch still joins the journey
      val late = AttrEvent("click", purchase.startUs, purchase.spanId - 1)
      val (acc2, _, _) = SpanBufferStream.foldJourneys(
        acc, open, tail :+ late, Long.MaxValue)
      acc2("click").touches shouldBe 1L
    }

    it("credits first/last/linear per the batch C124 rule") {
      val evs = Seq(ev(1, "view"), ev(2, "click"), ev(3, "view"), ev(4, "purchase"))
      val (acc, open, _) = SpanBufferStream.foldJourneys(
        Map.empty, None, evs, Long.MaxValue)
      open shouldBe None
      acc("view") shouldBe AttrAcc(1L, 1L, 2L * (1000000L / 3L), 2L)
      acc("click") shouldBe AttrAcc(0L, 0L, 1000000L / 3L, 1L)
    }
  }
}
