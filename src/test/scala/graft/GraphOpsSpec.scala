package graft

import graft.operators.GraphOps
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

class GraphOpsSpec extends AnyFunSpec with Matchers with SparkTestBase {

  private def cc(edges: (Long, Long)*): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    GraphOps.connectedComponents(edges.toSeq.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  describe("connectedComponents") {
    it("labels a chain, a clique, and a singleton pair by their min node") {
      // chain 1-2-3-4 (diameter 3, needs several propagation rounds),
      // clique {10,11,12}, pair {20,21}
      val out = cc((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
      out shouldBe Map(
        1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L, 12L -> 10L,
        20L -> 20L, 21L -> 20L)
    }

    it("propagates the min across a long chain (diameter > a couple rounds)") {
      val chain = (0L until 15L).map(i => (i, i + 1))
      val out = cc(chain: _*)
      out.values.toSet shouldBe Set(0L)
      out.keySet shouldBe (0L to 15L).toSet
    }

    it("handles edge direction irrelevance and duplicate edges") {
      val out = cc((5L, 3L), (3L, 5L), (5L, 3L), (3L, 1L))
      out shouldBe Map(1L -> 1L, 3L -> 1L, 5L -> 1L)
    }
  }

  private def reach(edges: (String, String)*): Map[(String, String), Long] = {
    val s = spark
    import s.implicits._
    GraphOps.reachability(edges.toSeq.toDF("src", "dst"), "src", "dst")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
  }

  describe("reachability") {
    it("walks a chain with exact min hops and no reverse pairs") {
      val out = reach(("a", "b"), ("b", "c"), ("c", "d"))
      out shouldBe Map(
        ("a", "b") -> 1L, ("b", "c") -> 1L, ("c", "d") -> 1L,
        ("a", "c") -> 2L, ("b", "d") -> 2L, ("a", "d") -> 3L)
    }

    it("terminates on a cycle and records the self round-trip") {
      val out = reach(("a", "b"), ("b", "c"), ("c", "a"))
      out(("a", "a")) shouldBe 3L
      out(("b", "b")) shouldBe 3L
      out(("a", "c")) shouldBe 2L
      out.size shouldBe 9 // 3x3 all-pairs on a 3-cycle
    }

    it("takes the shortest route when a shortcut exists and keeps self-loops at 1") {
      val out = reach(("a", "b"), ("b", "c"), ("a", "c"), ("c", "c"))
      out(("a", "c")) shouldBe 1L // shortcut beats the 2-hop path
      out(("c", "c")) shouldBe 1L // self-loop edge
    }

    it("leaves no persisted RDD behind") {
      val s = spark
      import s.implicits._
      val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")).toDF("src", "dst")
      val before = spark.sparkContext.getPersistentRDDs.size
      GraphOps.reachability(e, "src", "dst").collect()
      spark.sparkContext.getPersistentRDDs.size shouldBe before
    }
  }

  describe("labelPropagation") {
    it("separates two tight triangles joined by a weak bridge") {
      val s = spark
      import s.implicits._
      // triangles {a,b,c} and {x,y,z} with weight-5 internal edges,
      // weight-1 bridge c-x; mirrored for undirected votes
      val raw = Seq(
        ("a", "b", 5L), ("b", "c", 5L), ("a", "c", 5L),
        ("x", "y", 5L), ("y", "z", 5L), ("x", "z", 5L),
        ("c", "x", 1L))
      val e = (raw ++ raw.map { case (u, v, w) => (v, u, w) }).toDF("src", "dst", "w")
      val out = GraphOps.labelPropagation(e, "src", "dst", "w", iters = 4)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      out.keySet shouldBe Set("a", "b", "c", "x", "y", "z")
      // each triangle converges to its lexicographic minimum, and the
      // weak bridge never flips either side
      Set(out("a"), out("b"), out("c")).size shouldBe 1
      Set(out("x"), out("y"), out("z")).size shouldBe 1
      out("a") should not be out("x")
    }

    it("keeps an isolated node's own label and breaks vote ties to the smaller label") {
      val s = spark
      import s.implicits._
      // m hears equal-weight votes from labels a and z -> a wins; the
      // edge list never mentions q so a caller including it in a
      // larger run would keep q (here: m's sources a, z keep selves
      // having no in-edges... they DO have none, so they keep label)
      val e = Seq(("m", "a", 3L), ("m", "z", 3L)).toDF("src", "dst", "w")
      val out = GraphOps.labelPropagation(e, "src", "dst", "w", iters = 1)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      out("m") shouldBe "a"
      out("a") shouldBe "a" // no in-edges: keeps own label
      out("z") shouldBe "z"
    }
  }

  describe("pageRank") {
    it("concentrates mass on the a<->b cycle and conserves the total") {
      val s = spark
      import s.implicits._
      // a, c, d all point at b; b returns to a. The a<->b 2-cycle makes
      // even/odd iterations trade which of the two leads (genuine
      // power-iteration behavior on a near-bipartite graph), so the
      // iteration-robust claims are: both cycle members beat the
      // spokes, spokes tie exactly, and with no dangling nodes the
      // total mass stays 1 (up to reduce-order ulps).
      val edges = Seq(
        ("a", "b", 3L), ("c", "b", 1L), ("d", "b", 1L), ("b", "a", 2L))
        .toDF("src", "dst", "w")
      val ranks = GraphOps.pageRank(edges, "src", "dst", "w", iters = 10)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      ranks.keySet shouldBe Set("a", "b", "c", "d")
      ranks("a") should be > ranks("c")
      ranks("b") should be > ranks("c")
      ranks("c") shouldBe ranks("d") // symmetric spokes tie exactly
      ranks.values.sum shouldBe 1.0 +- 1e-9
    }

    it("splits outflow by edge weight") {
      val s = spark
      import s.implicits._
      // x sends 3/4 of its mass to h, 1/4 to l; one iteration isolates
      // the transition probabilities
      val edges = Seq(("x", "h", 3L), ("x", "l", 1L), ("h", "x", 1L), ("l", "x", 1L))
        .toDF("src", "dst", "w")
      val r = GraphOps.pageRank(edges, "src", "dst", "w", iters = 1)
        .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
      val base = 0.15 / 3
      r("h") shouldBe base + 0.85 * (1.0 / 3) * 0.75 +- 1e-12
      r("l") shouldBe base + 0.85 * (1.0 / 3) * 0.25 +- 1e-12
    }

    it("pools dangling mass so the rank vector stays a distribution on a dangling graph") {
      val s = spark
      import s.implicits._
      // z has no out-edges: its mass is pooled back uniformly each
      // round, so the total stays exactly 1 up to summation ulps
      val edges = Seq(("a", "b", 1L), ("b", "z", 1L), ("a", "z", 2L))
        .toDF("src", "dst", "w")
      val fixed = GraphOps.pageRank(edges, "src", "dst", "w", iters = 8)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      fixed.values.sum shouldBe 1.0 +- 1e-9
      // the dangling sink still dominates (both its in-edges), and
      // every node keeps at least the teleport floor
      fixed("z") should be > fixed("a")
      fixed.values.foreach(_ should be >= 0.15 / 3 - 1e-12)
    }
  }

  describe("fixed-round kernels") {
    // the IllegalArgumentException is thrown inside the one task, so
    // the driver sees it as the cause of the job failure
    def rootIllegalArgument(t: Throwable): Option[IllegalArgumentException] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .collectFirst { case e: IllegalArgumentException => e }

    it("leave no persisted RDD behind") {
      val s = spark
      import s.implicits._
      val e = Seq(("a", "b", 1L), ("b", "c", 2L), ("c", "a", 1L), ("a", "d", 1L))
        .toDF("src", "dst", "w")
      val before = spark.sparkContext.getPersistentRDDs.size
      GraphOps.pageRank(e, "src", "dst", "w", iters = 3).collect()
      GraphOps.labelPropagation(e, "src", "dst", "w", iters = 3).collect()
      spark.sparkContext.getPersistentRDDs.size shouldBe before
    }

    it("break label ties in binary UTF-8 order, not UTF-16 order") {
      val s = spark
      import s.implicits._
      // U+FF61 is EF BD A1 in UTF-8 and 0xFF61 in UTF-16; U+1F600 is
      // F0 9F 98 80 and the surrogate pair D83D DE00: the two orders
      // disagree, and Spark and DuckDB compare strings by UTF-8 bytes
      val e = Seq(("m", "\uFF61", 3L), ("m", "\uD83D\uDE00", 3L)).toDF("src", "dst", "w")
      val out = GraphOps.labelPropagation(e, "src", "dst", "w", iters = 1)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      out("m") shouldBe "\uFF61"
    }

    it("fail loudly on a null node id") {
      val s = spark
      import s.implicits._
      val e = Seq(("a", "b", 1L), (null, "a", 1L), ("b", null, 1L)).toDF("src", "dst", "w")
      for ((op, run) <- Seq[(String, () => Any)](
          "pageRank" -> (() => GraphOps.pageRank(e, "src", "dst", "w", iters = 3).collect()),
          "labelPropagation" -> (() => GraphOps.labelPropagation(e, "src", "dst", "w", iters = 3).collect()),
          "reachability" -> (() => GraphOps.reachability(e, "src", "dst").collect()))) {
        val thrown = intercept[Exception](run())
        val cause = rootIllegalArgument(thrown)
        withClue(thrown.toString) { cause should not be empty }
        cause.get.getMessage should include(op)
      }
    }

    it("fail loudly above the one-task bound, naming the operator and the count") {
      val s = spark
      import s.implicits._
      val n = GraphOps.MaxOneTaskNodes + 1
      // n distinct [a-z]+ words, and a chain over n nodes
      val words = (0 until n).map(i => "w" + Integer.toString(i, 26).map(c =>
        if (c.isDigit) ('a' + (c - '0')).toChar else (c + 10).toChar))
      val chain = words.zip(words.tail :+ words.head).toDF("src", "dst")
      for ((op, run) <- Seq[(String, () => Any)](
          "reachability" -> (() => GraphOps.reachability(chain, "src", "dst").collect()),
          "bpeMerges" -> (() => graft.operators.TextOps
            .bpeMerges(Seq(words.mkString(" ")).toDF("text"), "text", rounds = 1).collect()))) {
        val thrown = intercept[Exception](run())
        val cause = rootIllegalArgument(thrown)
        withClue(thrown.toString) { cause should not be empty }
        cause.get.getMessage should (include(op) and include(n.toString))
      }
    }

    for (name <- Seq("trace_service_rank", "text_textrank_terms", "text_term_communities",
        "trace_pagerank", "trace_hits", "trace_service_reachability", "trace_cycle_detect",
        "trace_shortest_path", "trace_worst_path", "text_kcore", "text_graph_triangles",
        "text_bpe_merges", "text_bpe_encode"))
      it(s"build $name with no Spark job on the building thread") {
        SparkEntry.queries(name)(spark, sfDir).collect()
        jobsDuring(SparkEntry.queries(name)(spark, sfDir)) shouldBe 0
      }
  }
}
