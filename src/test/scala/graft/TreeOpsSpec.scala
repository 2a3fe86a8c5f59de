package graft

import graft.operators.TreeOps
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

class TreeOpsSpec extends AnyFunSpec with Matchers with SparkTestBase {

  /** (span_id, parent_span_id) edges, one trace "t". */
  private def depths(edges: (Long, Option[Long])*): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    val df = edges.toSeq
      .map { case (id, p) => ("t", id, p) }
      .toDF("trace_id", "span_id", "parent_span_id")
    TreeOps.spanDepths(df).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
  }

  /** Driver-side references over one trace's (span → parent) map: a
    * parent absent from the map anchors the span and still costs its
    * hop toward depth. */
  private def refDepth(par: Map[Long, Option[Long]])(i: Long): Long =
    par(i).fold(0L)(p => if (par.contains(p)) refDepth(par)(p) + 1L else 1L)
  private def refPath(par: Map[Long, Option[Long]], svc: Map[Long, String])(i: Long): String =
    par(i).filter(par.contains).fold(svc(i))(p => refPath(par, svc)(p) + "/" + svc(i))

  describe("spanDepths") {
    it("computes depth on a branching tree with multiple roots") {
      //   1            10
      //  / \            |
      // 2   3          11
      //     |
      //     4
      val out = depths(
        1L -> None, 2L -> Some(1L), 3L -> Some(1L), 4L -> Some(3L),
        10L -> None, 11L -> Some(10L))
      out shouldBe Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 10L -> 0L, 11L -> 1L)
    }

    it("treats a dangling parent as the traversal boundary") {
      // 7's parent 99 never appears: 7 counts only its known hop
      val out = depths(7L -> Some(99L), 8L -> Some(7L))
      out shouldBe Map(7L -> 1L, 8L -> 2L)
    }

    it("matches a driver-side traversal on seeded random forests") {
      val s = spark
      import s.implicits._
      val rng = new scala.util.Random(42)
      for (trial <- 1 to 3) {
        val n = 200 + trial * 100
        // random forest: node i's parent is a random earlier node (or
        // a root with p≈0.1) — guarantees acyclicity by construction
        val parents: Map[Long, Option[Long]] =
          (0L until n).map { i =>
            i -> (if (i == 0 || rng.nextDouble() < 0.1) None
                  else Some(rng.nextLong(i)))
          }.toMap
        val df = parents.toSeq.map { case (id, p) => ("t", id, p) }
          .toDF("trace_id", "span_id", "parent_span_id")
        val got = TreeOps.spanDepths(df).collect()
          .map(r => r.getLong(1) -> r.getLong(2)).toMap
        got.keySet shouldBe parents.keySet
        got.foreach { case (id, d) => d shouldBe refDepth(parents)(id) }
      }
    }

    it("walk matches the driver-side reference on a trace-local forest with dangling parents") {
      val s = spark
      import s.implicits._
      val rng = new scala.util.Random(23)
      // per-trace random trees incl. a dangling-parent orphan per trace
      // (parent id outside the trace's id block) — the boundary case
      // where the walk must still charge the hop
      val rows = (0 until 15).flatMap { t =>
        val ids = (0L until 25L).map(_ + t * 1000L)
        ids.zipWithIndex.map { case (id, i) =>
          val parent =
            if (i == 0) None
            else if (i == 1) Some(999999L + t) // dangling
            else Some(ids(rng.nextInt(i)))
          (s"t$t", id, parent)
        }
      }
      val df = rows.toDF("trace_id", "span_id", "parent_span_id")
      val got = TreeOps.spanDepths(df).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val expected = rows.groupBy(_._1).flatMap { case (t, rs) =>
        val par = rs.map(r => r._2 -> r._3).toMap
        rs.map(r => (t, r._2) -> refDepth(par)(r._2))
      }
      got shouldBe expected
      got(("t0", 0L)) shouldBe 0L // root
      got(("t0", 1L)) shouldBe 1L // dangling parent still costs its hop
    }

    it("localParents walk groups binary ids by content, not identity") {
      // 16-byte production-style ids: fresh Array[Byte] instances with
      // equal content must land in one trace group and parent lookups
      // must hit (r10 advice: identity-keyed maps silently missed)
      val s = spark
      import s.implicits._
      def tid(): Array[Byte] = Array.fill[Byte](16)(7)
      def sid(n: Byte): Array[Byte] = Array.fill[Byte](8)(n)
      val df = Seq(
        (tid(), sid(1), Option.empty[Array[Byte]]),
        (tid(), sid(2), Option(sid(1))),
        (tid(), sid(3), Option(sid(2))))
        .toDF("trace_id", "span_id", "parent_span_id")
      val out = TreeOps.spanDepths(df).collect()
        .map(r => r.getAs[Array[Byte]](1)(0) -> r.getLong(2)).toMap
      out shouldBe Map(1.toByte -> 0L, 2.toByte -> 1L, 3.toByte -> 2L)
    }

    it("localParents walk keeps a null trace_id apart from the string 'null'") {
      val s = spark
      import s.implicits._
      // the null-trace chain and the "null"-keyed trace each contain a
      // span id the other's chain references as parent: if the groups
      // merged (String.valueOf(null) == "null"), depths would change
      val df = Seq(
        (Option.empty[String], 1L, Option.empty[Long]),
        (Option.empty[String], 2L, Option(1L)),
        (Option("null"), 1L, Option.empty[Long]),
        (Option("null"), 3L, Option(2L))) // 2 exists only in the null trace
        .toDF("trace_id", "span_id", "parent_span_id")
      val out = TreeOps.spanDepths(df).collect()
        .map(r => (Option(r.getString(0)), r.getLong(1)) -> r.getLong(2)).toMap
      out((None, 2L)) shouldBe 1L
      // span 3's parent 2 is ABSENT from trace "null": dangling => depth 1
      out((Some("null"), 3L)) shouldBe 1L
    }

    it("traceContiguous walk equals the shuffled walk on partition-contiguous input") {
      val s = spark
      import s.implicits._
      val rng = new scala.util.Random(37)
      val rows = (0 until 12).flatMap { t =>
        val ids = (0L until 15L).map(_ + t * 100L)
        ids.zipWithIndex.map { case (id, i) =>
          val parent = if (i == 0) None else Some(ids(rng.nextInt(i)))
          (s"t$t", id, parent)
        }
      }
      val df = rows.toDF("trace_id", "span_id", "parent_span_id")
        .repartition(3, org.apache.spark.sql.functions.col("trace_id"))
        .sortWithinPartitions("trace_id")
      def depths(contig: Boolean) =
        TreeOps.spanDepths(df, traceContiguous = contig)
          .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      depths(contig = true) shouldBe depths(contig = false)
    }

    it("traceContiguous walk fails loudly on interleaved trace blocks") {
      val s = spark
      import s.implicits._
      // one partition, traces interleaved by span_id order: t-a, t-b, t-a
      val df = Seq(
        ("ta", 1L, Option.empty[Long]),
        ("tb", 2L, Option.empty[Long]),
        ("ta", 3L, Option(1L)))
        .toDF("trace_id", "span_id", "parent_span_id").coalesce(1)
      val ex = intercept[org.apache.spark.SparkException] {
        TreeOps.spanDepths(df, traceContiguous = true).collect()
      }
      ex.getMessage should include("contiguity")
    }

    it("localParents walk fails loudly on a parent cycle") {
      val s = spark
      import s.implicits._
      val df = Seq(("t", 1L, Some(2L)), ("t", 2L, Some(1L)))
        .toDF("trace_id", "span_id", "parent_span_id")
      val ex = intercept[org.apache.spark.SparkException] {
        TreeOps.spanDepths(df).collect()
      }
      ex.getMessage should include("parent cycle")
    }
  }

  describe("pathRollup") {
    /** (span_id, parent, service) rows, one trace → the rolled-up
      * path → n_spans map. */
    def paths(rows: (Long, Option[Long], String)*): Map[String, Long] = {
      val s = spark
      import s.implicits._
      val df = rows.toSeq.map { case (id, p, svc) => ("t", id, p, svc, 1L) }
        .toDF("trace_id", "span_id", "parent_span_id", "service", "duration_us")
      TreeOps.pathRollup(df).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }

    it("assembles root-to-span paths on a branching tree") {
      val out = paths(
        (1L, None, "api"), (2L, Some(1L), "auth"), (3L, Some(1L), "db"),
        (4L, Some(3L), "cache"), (10L, None, "web"), (11L, Some(1L), "db"))
      out shouldBe Map(
        "api" -> 1L, "api/auth" -> 1L, "api/db" -> 2L,
        "api/db/cache" -> 1L, "web" -> 1L)
    }

    it("assembles a 20-deep chain in root-to-span order") {
      // the fingerprint and the path string are both order-sensitive:
      // every prefix s0/.../sk is its own path, each in exact order
      val rows = (0L until 20L).map(i =>
        (i, if (i == 0) None else Some(i - 1), s"s$i"))
      paths(rows: _*) shouldBe
        (0 until 20).map(k => (0 to k).map("s" + _).mkString("/") -> 1L).toMap
    }

    it("anchors a dangling-parent fragment at the orphan") {
      paths((5L, Some(999L), "orphan"), (6L, Some(5L), "child")) shouldBe
        Map("orphan" -> 1L, "orphan/child" -> 1L)
    }

    it("matches the driver-side path reference on a trace-local forest") {
      val s = spark
      import s.implicits._
      val rng = new scala.util.Random(11)
      val services = Array("api", "auth", "db", "cache", "web")
      // parents stay INSIDE the trace (the TraceDataset contract):
      // each trace is an independent random tree over its own spans
      val rows = (0 until 20).flatMap { t =>
        val ids = (0L until 20L).map(_ + t * 100L)
        ids.zipWithIndex.map { case (id, i) =>
          val parent = if (i == 0 || rng.nextDouble() < 0.1) None
                       else Some(ids(rng.nextInt(i)))
          (s"t$t", id, parent, services(rng.nextInt(services.length)),
            rng.nextLong(1000000L))
        }
      }
      val df = rows.toDF(
        "trace_id", "span_id", "parent_span_id", "service", "duration_us")
      val got = TreeOps.pathRollup(df).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val expected = rows.groupBy(_._1).values.toSeq.flatMap { rs =>
        val par = rs.map(r => r._2 -> r._3).toMap
        val svc = rs.map(r => r._2 -> r._4).toMap
        rs.map(r => refPath(par, svc)(r._2) -> r._5)
      }.groupMapReduce(_._1)(r => (1L, r._2)) { case ((n, d), (m, e)) => (n + m, d + e) }
      got shouldBe expected
    }

    it("traceContiguous rollup equals the shuffled rollup on partition-contiguous input") {
      val s = spark
      import s.implicits._
      val rng = new scala.util.Random(41)
      val services = Array("api", "auth", "db")
      val rows = (0 until 10).flatMap { t =>
        val ids = (0L until 12L).map(_ + t * 50L)
        ids.zipWithIndex.map { case (id, i) =>
          val parent = if (i == 0) None else Some(ids(rng.nextInt(i)))
          (s"t$t", id, parent, services(rng.nextInt(services.length)),
            rng.nextLong(1000L), (t % 2).toLong)
        }
      }
      val df = rows.toDF("trace_id", "span_id", "parent_span_id", "service",
          "duration_us", "half")
        .repartition(3, org.apache.spark.sql.functions.col("trace_id"))
        .sortWithinPartitions("trace_id")
      def rolled(contig: Boolean) =
        TreeOps.pathRollup(df, groupCols = Seq("half"),
            traceContiguous = contig).collect()
          .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
          .toMap
      rolled(contig = true) shouldBe rolled(contig = false)
    }

    it("localParents emits every (path, groupVal) cell when a path spans both groups") {
      // the flamegraph case: one path occurs in BOTH halves inside the
      // SAME trace — the walk must emit the path string once per
      // (fingerprint, groupVals), or min(path) leaves a null cell
      val s = spark
      import s.implicits._
      val df = Seq(
        ("t0", 1L, Option.empty[Long], "api", 10L, 0L),
        ("t0", 2L, Option(1L), "db", 20L, 0L),
        ("t0", 3L, Option(1L), "db", 30L, 1L), // same path api/db, other half
        ("t1", 9L, Option.empty[Long], "api", 5L, 1L))
        .toDF("trace_id", "span_id", "parent_span_id", "service",
          "duration_us", "half")
      val got = TreeOps.pathRollup(df, groupCols = Seq("half"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      got shouldBe Map(
        ("api", 0L) -> (1L, 10L), ("api/db", 0L) -> (1L, 20L),
        ("api/db", 1L) -> (1L, 30L), ("api", 1L) -> (1L, 5L))
    }

    it("fails loudly on a parent cycle") {
      val s = spark
      import s.implicits._
      val df = Seq(
        ("t0", 1L, Option(2L), "a", 1L),
        ("t0", 2L, Option(1L), "b", 1L))
        .toDF("trace_id", "span_id", "parent_span_id", "service", "duration_us")
      val ex = intercept[org.apache.spark.SparkException] {
        TreeOps.pathRollup(df).collect()
      }
      ex.getMessage should include("parent cycle")
    }

    it("keeps deep-chain paths exact across fingerprint composition") {
      val s = spark
      import s.implicits._
      val rows = (0L until 37L).map(i =>
        ("t", i, if (i == 0) None else Some(i - 1), s"s$i", 10L))
      val df = rows.toDF(
        "trace_id", "span_id", "parent_span_id", "service", "duration_us")
      val got = TreeOps.pathRollup(df).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      // every depth is its own distinct path of exactly one span
      got should have size 37
      got should contain (((0 until 37).map("s" + _).mkString("/"), 1L, 10L))
      got should contain (("s0", 1L, 10L))
    }
  }
}
