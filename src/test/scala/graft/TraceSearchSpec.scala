package graft

import graft.operators.{SpanOps, TraceSearch}
import graft.operators.TraceSearch._
import graft.operators.WhitelistIndex.WhitelistField
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

/** The one-pass trace search against the semi-join / intersect
  * formulation it replaced, and range-flag enforcement on the
  * expression-tree search — the Spark analogue of the reference
  * rejecting range filters on fields whose ES mapping was not
  * range-indexed (commons
  * config/entities/WhitelistIndexFieldConfiguration.scala).
  */
class TraceSearchSpec extends AnyFunSpec with Matchers with SparkTestBase {

  private val whitelist = Seq(
    WhitelistField("kval", "long", aliases = Seq("k"), enableRangeQuery = true),
    WhitelistField("region", "string"),
    WhitelistField("iserror", "boolean", aliases = Seq("err")))

  private def taggedSpans = {
    val s = spark
    import s.implicits._
    Seq(
      ("t1", 1L, """{"k": "95", "region": "EU", "err": "true"}""", 100L),
      ("t1", 2L, """{"k": "10", "region": "US", "err": "false"}""", 200L),
      ("t2", 3L, """{"k": "99", "region": "EU", "err": "false"}""", 300L))
      .toDF("trace_id", "span_id", "tags", "start_us")
  }

  /** Matching ids as the intersection of each group's distinct ids. */
  private def referenceIds(spans: DataFrame, groups: Seq[Column]): DataFrame =
    groups.map(g => spans.filter(g).select("trace_id").distinct()).reduce(_.intersect(_))

  /** Matching ids, then a semi join fetches and summarizes their traces. */
  private def referenceSearch(spans: DataFrame, groups: Seq[Column], limit: Int): DataFrame =
    spans.join(referenceIds(spans, groups), Seq("trace_id"), "left_semi")
      .groupBy("trace_id")
      .agg(min("start_us").as("trace_start_us"), count(lit(1)).as("span_count"))
      .orderBy(col("trace_start_us").desc, col("trace_id"))
      .limit(limit)

  private val Hour = 3600000000L

  /** Seeded spans over 60 traces and two days, plus the corner cases: a
    * null-id trace whose spans satisfy every group below, and trace
    * "late" whose only "pay" span starts after the search window. */
  private lazy val corpus: DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val services = Seq("web", "pay", "db", "auth")
    val random = (0 until 600).map { i =>
      (Option(s"t${rnd.nextInt(60)}"), i.toLong, services(rnd.nextInt(4)),
        s"op_${rnd.nextInt(3)}", rnd.nextLong(48 * Hour), (1 + rnd.nextInt(500)) * 1000L)
    }
    val nullId = Seq("web", "pay", "db", "auth").zipWithIndex.map { case (svc, k) =>
      (Option.empty[String], 1000L + k, svc, s"op_$k", k * Hour, 400000L) }
    val late = Seq(("web", Hour), ("pay", 30 * Hour)).zipWithIndex.map { case ((svc, at), k) =>
      (Option("late"), 2000L + k, svc, "op_0", at, 1000L) }
    (random ++ nullId ++ late).toDF("trace_id", "span_id", "service", "operation", "start_us", "duration_us")
  }

  private val window = RangeUs("start_us", 0, 24 * Hour)

  /** 1-, 2- and 3-group trees, with Or and Not inside groups. */
  private val trees: Seq[Seq[Expr]] = Seq(
    Seq(And(Seq(Eq("service", "pay"), window))),
    Seq(And(Seq(Or(Seq(Eq("service", "pay"), Eq("service", "auth"))), window)),
      And(Seq(Not(Eq("operation", "op_1")), RangeUs("duration_us", 100000, 500000)))),
    Seq(And(Seq(Eq("service", "web"), window)),
      Or(Seq(Eq("service", "db"), And(Seq(Eq("operation", "op_2"), Not(window))))),
      Not(Or(Seq(Eq("service", "web"), Eq("service", "db"))))))

  describe("one-pass search") {
    it("searchTraces equals the semi-join search, drops a null id and out-of-window matches") {
      val out = SpanOps.searchTraces(corpus, "pay", 0, 24 * Hour, 1000).collect().toSeq
      out shouldBe referenceSearch(corpus, Seq(TraceSearch.compile(And(Seq(Eq("service", "pay"), window)))),
        1000).collect().toSeq
      out should not be empty
      out.map(_.getString(0)) should not contain "late"
      out.exists(_.isNullAt(0)) shouldBe false
    }

    it("TraceSearch.search equals the semi-join over intersected groups for 1-3 group trees") {
      for (tree <- trees) withClue(tree) {
        val out = TraceSearch.search(corpus, tree, 1000).collect().toSeq
        out shouldBe referenceSearch(corpus, tree.map(TraceSearch.compile), 1000).collect().toSeq
        out should not be empty
        out.exists(_.isNullAt(0)) shouldBe false
        // the limit cuts the same newest-first prefix
        TraceSearch.search(corpus, tree, 3).collect().toSeq shouldBe out.take(3)
      }
    }

    it("matchingTraceIds equals the intersect, keeping a null id like intersect does") {
      for (tree <- trees) withClue(tree) {
        def ids(df: DataFrame) = df.collect().map(r => Option(r.getString(0))).toSet
        val expected = ids(referenceIds(corpus, tree.map(TraceSearch.compile)))
        expected should contain(None)
        ids(TraceSearch.matchingTraceIds(corpus, tree)) shouldBe expected
      }
    }
  }

  describe("validateRangeFields") {
    it("accepts a range on a range-enabled whitelist field and finds the traces") {
      val out = TraceSearch.matchingTraceIdsTagged(taggedSpans,
        Seq(And(Seq(RangeUs("kval", 90, 100), RangeUs("start_us", 0, 1000)))),
        whitelist).collect().map(_.getString(0)).sorted.toSeq
      out shouldBe Seq("t1", "t2")
    }

    it("rejects a range on a whitelist field without enableRangeQuery, before any plan builds") {
      val ex = intercept[IllegalArgumentException] {
        TraceSearch.matchingTraceIdsTagged(taggedSpans,
          Seq(RangeUs("region", 0, 10)), whitelist)
      }
      ex.getMessage should include("region")
      ex.getMessage should include("enableRangeQuery")
    }

    it("rejects range predicates nested anywhere in the boolean tree") {
      val ex = intercept[IllegalArgumentException] {
        TraceSearch.validateRangeFields(
          Seq(And(Seq(Eq("region", "EU"),
            Or(Seq(Not(RangeUs("iserror", 0, 1)), Eq("kval", "5")))))),
          whitelist)
      }
      ex.getMessage should include("iserror")
    }

    it("always admits ranges on the intrinsic numeric span fields") {
      noException should be thrownBy TraceSearch.validateRangeFields(
        Seq(RangeUs("start_us", 0, 10), RangeUs("duration_us", 0, 10)), whitelist)
    }

    it("equality predicates are never range-gated (keyword mappings serve them)") {
      noException should be thrownBy TraceSearch.validateRangeFields(
        Seq(Eq("region", "EU"), Eq("iserror", "true")), whitelist)
    }
  }
}
