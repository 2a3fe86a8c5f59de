package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Small-graph operators over edge lists — the cluster-forming step a
  * dedup pipeline runs AFTER candidate pair generation (near-duplicate
  * pairs from minhash/simhash/cosine form components, and each
  * component keeps one canonical document), plus the rankings, walks
  * and peels over the service and vocabulary graphs.
  *
  * Two Spark realizations, by the size of the graph:
  *   - ONE convergence loop, [[connectedComponents]], runs distributed,
  *     one job per round, because its graph is corpus-scale (dedup
  *     pairs): iterative min-label propagation (HashToMin-style), each
  *     round one join + one partial-aggregated groupBy, with per-round
  *     lineage truncated by localCheckpoint so the plan doesn't grow
  *     with iterations. Rounds needed = graph diameter, which for
  *     dedup clusters (cliques and near-cliques) is 1–2; `maxIter`
  *     bounds adversarial chains.
  *   - Everything over a BOUNDED graph ([[pageRank]],
  *     [[labelPropagation]], [[reachability]], [[pathSquaring]],
  *     [[kCore]], [[triangles]]) is a plain Scala kernel run as one
  *     lazy task ([[inOneTask]]): the caller's corpus-scale edge
  *     aggregation stays distributed and map-combined, its bounded
  *     output moves to one partition, and a plain loop runs every
  *     round there. Nothing runs at build time, and nothing is
  *     checkpointed, counted or cached. The bound is a contract, not
  *     an option: a kernel handed more than [[MaxOneTaskNodes]] nodes
  *     fails its task with an IllegalArgumentException.
  */
object GraphOps {

  /** The most nodes (or, for BPE, vocabulary words) a one-task kernel
    * accepts, set by the one cubic kernel, [[pathSquaring]]. Timed in
    * one task on random out-degree-8 graphs (its matrix is dense by
    * round 3), it took 0.65 s at 256 nodes, 2.4 s at 512 and 17.7 s at
    * 1024 — ×8 per doubling, so minutes above this bound — and held
    * two pairs of 1024² arrays (18 MB). Every other kernel took under
    * 1.5 s at 1024 nodes. The service and vocabulary graphs of every
    * pack have 5 and 31 nodes. */
  final val MaxOneTaskNodes = 1024

  /** Throws an IllegalArgumentException naming `op` and the count when
    * `n` `what` exceed [[MaxOneTaskNodes]]. */
  private[operators] def requireOneTask(op: String, n: Int, what: String): Unit =
    if (n > MaxOneTaskNodes)
      throw new IllegalArgumentException(
        s"$op: $n $what exceed the one-task bound of $MaxOneTaskNodes")

  /** A kernel's output schema: non-nullable fields. */
  private[operators] def nonNull(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (name, t) => StructField(name, t, nullable = false) })

  /** Connected components of the undirected graph given by (src, dst)
    * edge rows → (node, component) where component = the component's
    * minimum node id. Nodes appear iff they occur in some edge.
    *
    * Throws IllegalStateException if the fixpoint hasn't converged
    * within `maxIter` rounds (component diameter exceeds the bound) —
    * a silently truncated propagation would report one component as
    * several, and the caller couldn't tell. Raise `maxIter` for
    * long-chain graphs. Superseded per-iteration checkpoints are
    * unpersisted as soon as the next round is materialized, so
    * block-manager storage stays O(1) frames regardless of rounds.
    *
    * The RETURNED frame is itself a localCheckpoint (the label set can
    * be arbitrarily large, so it is not copied to the driver the way
    * kmeansCentroids copies its k-row result). Callers that are done
    * with it may `unpersist()` it; otherwise Spark's ContextCleaner
    * reclaims the blocks once the frame is garbage-collected — the
    * cost of holding it is one cached (node, component) pair per edge
    * endpoint, not a permanent leak. */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String, maxIter: Int = 20): DataFrame = {
    // materialize the edge list ONCE before mirroring it — the union
    // would otherwise execute the (possibly expensive) edge subtree
    // twice, e.g. the whole minhash banding pipeline
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b")).localCheckpoint()
    val bidir = e
      .union(e.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .localCheckpoint()
    e.unpersist()

    var labels = bidir.select(col("a").as("node")).distinct()
      .withColumn("component", col("node"))
      .localCheckpoint()

    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val neighborMin = bidir
        .join(labels, col("a") === col("node"))
        .groupBy(col("b").as("nb"))
        .agg(min("component").as("ncomp"))
      val updated = labels
        .join(neighborMin, col("node") === col("nb"), "left")
        .select(col("node"),
          least(col("component"), coalesce(col("ncomp"), col("component"))).as("component"))
        .localCheckpoint()
      converged = updated.as("u")
        .join(labels.select(col("node"), col("component").as("old")), "node")
        .filter(col("component") =!= col("old"))
        .isEmpty
      labels.unpersist()
      labels = updated
      iter += 1
    }
    bidir.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds " +
          "(component diameter exceeds the bound); raise maxIter")
    labels
  }

  /** Weighted PageRank over an edge list → (node, rank), a FIXED
    * number of power iterations (deterministic by construction — no
    * float convergence test), run as one task by [[inOneTask]].
    * Transition probabilities are exact-int divisions
    * `w.toDouble / Σw(src).toDouble` (the out-weight summed as a Long);
    * ranks start at `1.0 / n` over the n distinct endpoints, and each
    * round is `(1 - 0.85) / n + 0.85 * (infl + dm / n)`, where `dm` is
    * the rank held by nodes with no out-edge: dangling mass is pooled
    * back uniformly (the standard stochastic fix), so the rank vector
    * stays a distribution on any graph. Sums run over the edges sorted
    * by (src, dst), so the result does not depend on partitioning.
    * Node ids are strings and weights integral; a null id or weight
    * fails the task with an IllegalArgumentException.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1, s"pageRank needs at least one iteration, got $iters")
    val out = nonNull("node" -> StringType, "rank" -> DoubleType)
    inOneTask(edgeList("pageRank", edges, srcCol, dstCol, Some(wCol)), out) { rows =>
      val g = new Graph("pageRank", rows)
      val k = g.nodes.length
      val n = k.toDouble
      val outw = new Array[Long](k)
      val hasOut = new Array[Boolean](k)
      g.src.indices.foreach { i =>
        outw(g.src(i)) = Math.addExact(outw(g.src(i)), g.w(i))
        hasOut(g.src(i)) = true
      }
      val p = Array.tabulate(g.src.length)(i => g.w(i).toDouble / outw(g.src(i)).toDouble)
      val teleport = (1 - Damping) / n
      var rank = Array.fill(k)(1.0 / n)
      for (_ <- 1 to iters) {
        val infl = new Array[Double](k)
        g.src.indices.foreach(i => infl(g.dst(i)) += rank(g.src(i)) * p(i))
        var dm = 0.0
        (0 until k).foreach(v => if (!hasOut(v)) dm += rank(v))
        rank = Array.tabulate(k)(v => teleport + Damping * (infl(v) + dm / n))
      }
      (0 until k).map(v => Row(g.nodes(v), rank(v)))
    }
  }

  private final val Damping = 0.85

  /** Synchronous weighted label propagation — community detection by
    * iterated neighbor vote: each round, every node adopts the label
    * with the largest incident edge-weight sum among its neighbors'
    * CURRENT labels (ties to the smallest label in binary UTF-8 order,
    * Spark's and DuckDB's string order; nodes with no out-edge keep
    * their label), for a FIXED `iters` rounds — deterministic by
    * construction, like [[pageRank]]'s fixed power iterations (LPA's
    * usual async/random variant is explicitly not reproducible).
    * Nodes start labeled by themselves. Input edges are treated as
    * DIRECTED votes (src listens to dst); pass a mirrored relation
    * for the undirected semantics. The rounds run as one task
    * ([[inOneTask]]); node ids are strings and weights integral, and a
    * null id or weight fails the task with an IllegalArgumentException.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String, iters: Int): DataFrame = {
    require(iters >= 1, s"labelPropagation needs at least one iteration, got $iters")
    val out = nonNull("node" -> StringType, "label" -> StringType)
    inOneTask(edgeList("labelPropagation", edges, srcCol, dstCol, Some(wCol)), out) { rows =>
      val g = new Graph("labelPropagation", rows)
      var label = Array.range(0, g.nodes.length)
      for (_ <- 1 to iters) {
        val next = label.clone()
        // edges are sorted by src: tally each src's run of votes
        var i = 0
        while (i < g.src.length) {
          val u = g.src(i)
          val tally = scala.collection.mutable.HashMap[Int, Long]()
          while (i < g.src.length && g.src(i) == u) {
            val l = label(g.dst(i))
            tally(l) = Math.addExact(tally.getOrElse(l, 0L), g.w(i))
            i += 1
          }
          // node indices follow binary UTF-8 order, so the smaller
          // index is the smaller label
          next(u) = tally.reduce { (a, b) =>
            if (b._2 > a._2 || (b._2 == a._2 && b._1 < a._1)) b else a }._1
        }
        label = next
      }
      g.nodes.indices.map(v => Row(g.nodes(v), g.nodes(label(v))))
    }
  }

  /** All-pairs minimum-hop reachability (transitive closure annotated
    * with shortest hop counts) over a directed edge list →
    * (src, dst, hops), hops ≥ 1: one BFS per source in one task
    * ([[inOneTask]]), over the (src, dst) pairs made distinct, map-side
    * combined, before they move there. A node is
    * recorded at the first hop that reaches it, so a pair lands at its
    * minimum hop and a source reached again records its shortest round
    * trip; a finite graph always drains, so there is no hop bound. */
  def reachability(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val out = nonNull("src" -> StringType, "dst" -> StringType, "hops" -> LongType)
    inOneTask(edgeList("reachability", edges, srcCol, dstCol, None).distinct(), out) { rows =>
      val g = new Graph("reachability", rows)
      val adj = g.src.indices.groupMap(g.src(_))(g.dst(_)).withDefaultValue(Seq.empty)
      g.nodes.indices.flatMap { s =>
        val hops = new Array[Long](g.nodes.length) // 0 = not reached yet
        var (frontier, h) = (Seq(s), 0L)
        while (frontier.nonEmpty) {
          h += 1
          frontier = frontier.flatMap(adj).distinct.filter(hops(_) == 0L)
          frontier.foreach(hops(_) = h)
        }
        hops.indices.filter(hops(_) > 0L).map(t => Row(g.nodes(s), g.nodes(t), hops(t)))
      }
    }
  }

  /** Best path weights over a weighted directed edge list →
    * (src, dst, w) by 3 synchronous rounds of tropical matrix squaring
    * (the rounds the C101/C112 oracles unroll),
    * `d'(s, t) = best(d(s, t), d(s, m) + d(m, t))`: every walk of at
    * most 8 edges, so a max-plus walk stays bounded on a cyclic graph,
    * and a (s, s) row is the best cycle through s. `best` is min for
    * the cheapest chains, max for the costliest. Sums are
    * Math.addExact, the ANSI long `+`. Runs in one task ([[inOneTask]]). */
  def pathSquaring(edges: DataFrame, srcCol: String, dstCol: String, wCol: String)(
      best: (Long, Long) => Long): DataFrame = {
    val out = nonNull("src" -> StringType, "dst" -> StringType, "w" -> LongType)
    inOneTask(edgeList("pathSquaring", edges, srcCol, dstCol, Some(wCol)), out) { rows =>
      val g = new Graph("pathSquaring", rows)
      val k = g.nodes.length
      val has = new Array[Boolean](k * k)
      val d = new Array[Long](k * k)
      def put(c: Int, v: Long): Unit = {
        d(c) = if (has(c)) best(d(c), v) else v
        has(c) = true
      }
      g.src.indices.foreach(i => put(g.src(i) * k + g.dst(i), g.w(i)))
      for (_ <- 1 to 3) {
        val (ph, pd) = (has.clone(), d.clone())
        for (s <- 0 until k; m <- 0 until k if ph(s * k + m); t <- 0 until k if ph(m * k + t))
          put(s * k + t, Math.addExact(pd(s * k + m), pd(m * k + t)))
      }
      has.indices.filter(has).map(c => Row(g.nodes(c / k), g.nodes(c % k), d(c)))
    }
  }

  /** The `k`-core peel of an undirected edge list → (node,
    * core_degree): `rounds` synchronous rounds, each dropping every
    * edge with an endpoint of degree < k in the previous round's edge
    * set, so the result is exact for `rounds` whether or not the peel
    * has converged. `k` and `rounds` are parameters so that text_kcore
    * passes the same two constants its oracle SQL unrolls. Runs in one
    * task ([[inOneTask]]). */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
      rounds: Int): DataFrame = {
    val out = nonNull("node" -> StringType, "core_degree" -> LongType)
    inOneTask(edgeList("kCore", edges, aCol, bCol, None), out) { rows =>
      val g = new Graph("kCore", rows)
      var alive = g.undirected
      for (_ <- 1 to rounds) {
        val deg = g.degrees(alive)
        alive = alive.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
      }
      val deg = g.degrees(alive)
      deg.indices.filter(deg(_) > 0).map(v => Row(g.nodes(v), deg(v).toLong))
    }
  }

  /** Exact triangle counts over an undirected edge list → (node,
    * degree, n_triangles), by DEGREE ORIENTATION: every edge points
    * from its lower-(degree, id) endpoint to the higher, so each
    * triangle is found once, as a wedge u→v, u→w closed by v→w, with
    * work bounded by Σ d_out² instead of the hub-quadratic unoriented
    * wedge count. Runs in one task ([[inOneTask]]). */
  def triangles(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val out = nonNull("node" -> StringType, "degree" -> LongType, "n_triangles" -> LongType)
    inOneTask(edgeList("triangles", edges, aCol, bCol, None), out) { rows =>
      val g = new Graph("triangles", rows)
      val und = g.undirected
      val deg = g.degrees(und)
      // node indices follow the id order and a < b, so a degree tie
      // orients by id
      val outs = Array.fill(g.nodes.length)(Set.empty[Int])
      und.foreach { case (a, b) => if (deg(a) <= deg(b)) outs(a) += b else outs(b) += a }
      val tri = new Array[Long](g.nodes.length)
      for (u <- outs.indices; v <- outs(u); w <- outs(v) if outs(u)(w))
        Seq(u, v, w).foreach(x => tri(x) += 1)
      deg.indices.filter(deg(_) > 0).map(v => Row(g.nodes(v), deg(v).toLong, tri(v)))
    }
  }

  /** Runs `kernel` over ALL of `rows` inside ONE task and returns its
    * `out`-shaped rows: the rows travel to a single partition (one
    * small shuffle) and the kernel sees them as one array. For
    * iterations over a bounded relation — a service or vocabulary
    * graph that the corpus-scale aggregation upstream has already
    * collapsed — where a distributed job per round costs more than the
    * rounds themselves. The kernel checks the bound
    * ([[requireOneTask]]). Lazy: building the frame starts no job, and
    * nothing is cached or checkpointed. */
  def inOneTask(rows: DataFrame, out: StructType)(kernel: Array[Row] => Seq[Row]): DataFrame =
    rows.repartition(1)
      .mapPartitions((part: Iterator[Row]) => kernel(part.toArray).iterator)(Encoders.row(out))

  /** The (src, dst, w) relation the kernels read: string node ids and
    * integral weights widened to Long (1 per edge when `wCol` is
    * None), checked on the schema so a wrong caller fails at build
    * time. */
  private def edgeList(op: String, edges: DataFrame, srcCol: String, dstCol: String,
      wCol: Option[String]): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      wCol.fold(lit(1L))(col).as("w"))
    val Seq(st, dt, wt) = e.schema.map(_.dataType)
    require(st == StringType && dt == StringType,
      s"$op: node ids must be strings, got $st and $dt")
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(wt),
      s"$op: edge weights must be integral, got $wt")
    e.withColumn("w", col("w").cast(LongType))
  }

  /** One kernel call's edge rows: node ids indexed in binary UTF-8
    * order (Spark's and DuckDB's string order) and the edges as
    * parallel (src, dst, w) arrays sorted by (src, dst, w), so every
    * sum over them runs in a fixed order. A null id or weight, or more
    * than [[MaxOneTaskNodes]] nodes, throws an IllegalArgumentException
    * naming `op`: a null would otherwise never join, and a null node
    * would count as dangling. */
  private final class Graph(op: String, rows: Array[Row]) {
    rows.foreach { r =>
      if (r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2))
        throw new IllegalArgumentException(
          s"$op: null node id or weight in edge (${r.get(0)}, ${r.get(1)}, ${r.get(2)})")
    }
    val nodes: Array[String] = rows.flatMap(r => Array(r.getString(0), r.getString(1)))
      .distinct.map(UTF8String.fromString).sortWith(_.binaryCompare(_) < 0).map(_.toString)
    requireOneTask(op, nodes.length, "nodes")
    private val index = nodes.zipWithIndex.toMap
    private val sorted = rows.map(r => (index(r.getString(0)), index(r.getString(1)), r.getLong(2)))
      .sorted
    val src: Array[Int] = sorted.map(_._1)
    val dst: Array[Int] = sorted.map(_._2)
    val w: Array[Long] = sorted.map(_._3)

    /** The edges as distinct undirected (lower, higher) index pairs,
      * self-loops dropped. */
    def undirected: Array[(Int, Int)] =
      src.indices.filter(i => src(i) != dst(i))
        .map(i => (math.min(src(i), dst(i)), math.max(src(i), dst(i)))).distinct.toArray

    /** Each node's degree over undirected `pairs`. */
    def degrees(pairs: Array[(Int, Int)]): Array[Int] = {
      val deg = new Array[Int](nodes.length)
      pairs.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
      deg
    }
  }
}
