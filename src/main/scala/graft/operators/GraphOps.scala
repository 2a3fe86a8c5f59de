package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Small-graph operators over edge lists — the cluster-forming step a
  * dedup pipeline runs AFTER candidate pair generation (near-duplicate
  * pairs from minhash/simhash/cosine form components, and each
  * component keeps one canonical document), plus the fixed-round
  * rankings over the service and vocabulary graphs.
  *
  * Two Spark realizations, by what ends the iteration:
  *   - CONVERGENCE loops ([[connectedComponents]], [[reachability]])
  *     run distributed, one job per round, because the stop test is
  *     an action: iterative min-label propagation (HashToMin-style) or
  *     BFS frontier expansion, each round one join + one
  *     partial-aggregated groupBy, with per-round lineage truncated by
  *     localCheckpoint so the plan doesn't grow with iterations. Rounds
  *     needed = graph diameter, which for dedup clusters (cliques and
  *     near-cliques) is 1–2; `maxIter` bounds adversarial chains.
  *   - FIXED-ROUND kernels ([[pageRank]], [[labelPropagation]]) run as
  *     one lazy task ([[inOneTask]]): the caller's corpus-scale edge
  *     aggregation stays distributed and map-combined, its bounded
  *     (src, dst, w) output moves to one partition, and a plain loop
  *     runs every round there. Nothing runs at build time, and nothing
  *     is checkpointed, counted or cached.
  */
object GraphOps {

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
    val out = StructType(Seq(StructField("node", StringType, nullable = false),
      StructField("rank", DoubleType, nullable = false)))
    inOneTask(edgeList("pageRank", edges, srcCol, dstCol, wCol), out) { rows =>
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
    val out = StructType(Seq(StructField("node", StringType, nullable = false),
      StructField("label", StringType, nullable = false)))
    inOneTask(edgeList("labelPropagation", edges, srcCol, dstCol, wCol), out) { rows =>
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

  /** Runs `kernel` over ALL of `rows` inside ONE task and returns its
    * `out`-shaped rows: the rows travel to a single partition (one
    * small shuffle) and the kernel sees them as one array. For
    * fixed-round iterations over a bounded relation — a service or
    * vocabulary graph that the corpus-scale aggregation upstream has
    * already collapsed — where a distributed job per round costs more
    * than the rounds themselves. The caller owns the bound: `rows` must
    * fit one task's memory. Lazy: building the frame starts no job, and
    * nothing is cached or checkpointed. */
  def inOneTask(rows: DataFrame, out: StructType)(kernel: Array[Row] => Seq[Row]): DataFrame =
    rows.repartition(1)
      .mapPartitions((part: Iterator[Row]) => kernel(part.toArray).iterator)(Encoders.row(out))

  /** The (src, dst, w) relation the fixed-round kernels read: string
    * node ids and integral weights widened to Long, checked on the
    * schema so a wrong caller fails at build time. */
  private def edgeList(op: String, edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"), col(wCol).as("w"))
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
    * sum over them runs in a fixed order. A null id or weight throws
    * an IllegalArgumentException naming `op`: it would otherwise never
    * join, and a null node would count as dangling. */
  private final class Graph(op: String, rows: Array[Row]) {
    rows.foreach { r =>
      if (r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2))
        throw new IllegalArgumentException(
          s"$op: null node id or weight in edge (${r.get(0)}, ${r.get(1)}, ${r.get(2)})")
    }
    val nodes: Array[String] = rows.flatMap(r => Array(r.getString(0), r.getString(1)))
      .distinct.map(UTF8String.fromString).sortWith(_.binaryCompare(_) < 0).map(_.toString)
    private val index = nodes.zipWithIndex.toMap
    private val sorted = rows.map(r => (index(r.getString(0)), index(r.getString(1)), r.getLong(2)))
      .sorted
    val src: Array[Int] = sorted.map(_._1)
    val dst: Array[Int] = sorted.map(_._2)
    val w: Array[Long] = sorted.map(_._3)
  }

  /** All-pairs minimum-hop reachability (transitive closure annotated
    * with shortest hop counts) over a directed edge list →
    * (src, dst, hops), hops ≥ 1: BFS frontier expansion, where round
    * h+1 joins ONLY the hop-h frontier against the edge list and
    * anti-joins pairs already in the closure — so each pair is
    * recorded exactly at its minimum hop and cycles terminate
    * naturally (an exhausted frontier IS the fixpoint; no hop bound
    * in the result semantics). Throws if `maxIter` rounds pass with a
    * non-empty frontier (graph diameter exceeds the bound) rather
    * than silently truncating the closure.
    *
    * Scale: the edge list is distinct-projected and checkpointed once
    * before iterating; each round shuffles the CURRENT frontier (the
    * newly discovered pairs only — never the accumulated closure)
    * against the edges on dst=src plus one anti-join against the
    * closure so far. No round rescans the raw input, and lineage is
    * truncated per round like [[connectedComponents]]. For
    * service-graph-sized node sets every per-round join broadcasts;
    * at web-graph scale the identical plan shuffles on the same keys.
    */
  def reachability(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 20): DataFrame = {
    val e = edges.select(col(srcCol).as("esrc"), col(dstCol).as("edst"))
      .distinct().localCheckpoint()
    var closure = e.select(col("esrc").as("src"), col("edst").as("dst"),
      lit(1L).as("hops")).localCheckpoint()
    var frontier = closure
    var iter = 1
    var drained = frontier.isEmpty
    while (!drained && iter < maxIter) {
      val next = frontier.join(e, frontier("dst") === e("esrc"))
        .select(frontier("src"), e("edst").as("dst"))
        .distinct()
        .join(closure, Seq("src", "dst"), "left_anti")
        .withColumn("hops", lit(iter + 1L))
        .localCheckpoint()
      val merged = closure.union(next).localCheckpoint()
      // old frontier/closure frames are superseded; merged and next are
      // their own checkpoints, so the blocks can go immediately
      if (!(frontier eq closure)) frontier.unpersist()
      closure.unpersist()
      closure = merged
      frontier = next
      drained = frontier.isEmpty
      iter += 1
    }
    if (!drained)
      throw new IllegalStateException(
        s"reachability did not converge within $maxIter rounds " +
          "(graph diameter exceeds the bound); raise maxIter")
    frontier.unpersist(); e.unpersist()
    closure
  }
}
