package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Two-state Viterbi as a PARALLEL tropical-semiring scan.
  *
  * The burst-detection DP
  * `V_s(h) = emit_s(h) + min(V_s(h−1), V_{s'}(h−1) + T)` looks
  * inherently sequential, but each hour is a 2×2 matrix over the
  * (min, +) semiring — `A_h[a][b] = (a≠b ? T : 0) + emit_b(h)` — and
  * min-plus matrix multiplication is ASSOCIATIVE, so the product over
  * an hour range folds pairwise: ceil(log2 H) rounds of merging
  * adjacent segments, each round one map-combined aggregate keyed by
  * (key, idx div 2). A month of hours resolves in 10 rounds
  * regardless of how many keys or how much data produced the hourly
  * costs; the classic sequential pass would be H chained steps.
  *
  * Input: one row per (key, idx, e0, e1) with `idx` the DENSE 0-based
  * position and e0/e1 the two states' integer emission costs.
  * Output: (key, m00, m01, m10, m11) — the full-range path-cost
  * matrix (entry [a][b] = cheapest path entering at state a, leaving
  * at state b, transitions charged INSIDE the range only, plus every
  * hour's emission including the first's — the first hour's matrix is
  * built transition-free). min(m00, m01) is the unconstrained optimum
  * starting baseline; all four entries are exact longs.
  */
object TropicalScan {

  def viterbi2(hourly: DataFrame, keyCol: String, idxCol: String,
      e0Col: String, e1Col: String, transPenalty: Column,
      maxRounds: Int = 24): DataFrame = {
    // atomic matrices; the range-initial hour (idx 0) charges no
    // entering transition: both rows equal its emissions
    var seg = hourly.select(col(keyCol).as("key"), col(idxCol).as("idx"),
        when(col(idxCol) === 0L, col(e0Col))
          .otherwise(col(e0Col)).as("m00"),
        when(col(idxCol) === 0L, col(e1Col))
          .otherwise(transPenalty + col(e1Col)).as("m01"),
        when(col(idxCol) === 0L, col(e0Col))
          .otherwise(transPenalty + col(e0Col)).as("m10"),
        when(col(idxCol) === 0L, col(e1Col))
          .otherwise(col(e1Col)).as("m11"))
      .localCheckpoint()
    // r13: fold ARITY-B per round instead of pairwise, and derive the
    // round count arithmetically instead of a per-round count job.
    // min-plus matrix product is associative, so pivoting up to B
    // consecutive segments onto one row and folding them left-to-right
    // in an expression yields the identical matrices; ceil(log_B)
    // rounds (3 at a month of hours for B=8) replace ceil(log2) (10),
    // and each removed round was a checkpoint + a driver-synchronized
    // group count.
    val B = 4
    // One pass doubles as the dense-idx contract check: the round count
    // below is ARITHMETIC (groupMax = ceil(groupMax/B) per round), so a
    // sparse idx would otherwise exit the loop with multiple unfolded
    // segments per key and silently emit several rows per key. Dense
    // 0-based idx ⇒ per key n non-null, n distinct idx values with
    // min(idx) = 0 and max(idx) = n−1; violations fail loudly here
    // instead. (Same single small job that derived groupMax before —
    // the check rides the existing aggregate.)
    val hd = seg.groupBy("key")
      .agg(count(lit(1)).as("n"), count("idx").as("nn"), countDistinct("idx").as("nd"),
        min("idx").as("mn"), max("idx").as("mx"))
      .agg(coalesce(max("n"), lit(0L)).as("gm"),
        coalesce(max(when(col("nn") =!= col("n") || col("nd") =!= col("n") ||
          col("mn") =!= 0L || col("mx") =!= col("n") - 1L, 1L)
          .otherwise(0L)), lit(0L)).as("bad"))
      .head()
    require(hd.getLong(1) == 0L,
      "viterbi2 requires a DENSE 0-based idx per key (non-null, distinct, min(idx)=0, " +
        "max(idx)=count-1): a sparse idx would fold incompletely and emit multiple rows per key")
    var groupMax: Long = hd.getLong(0)
    var rounds = 0
    type M = (Column, Column, Column, Column)
    // acc ⊗ next with identity carry-through: a null next side (tail
    // group shorter than B — idx is dense, so present sides are a
    // prefix, and a null LEFT operand implies a null right) leaves acc
    // unchanged. Folded as a BALANCED tree, not left-to-right — each
    // combine roughly quadruples expression size, so a linear fold
    // grows exponentially in B (measured: the B=8 left-fold compiled
    // past Janino's limits and ran interpreted at 10× the pairwise
    // form) while the tree stays depth log2(B).
    def combine(a: M, b: M): M = (
      when(b._1.isNull, a._1).otherwise(least(a._1 + b._1, a._2 + b._3)),
      when(b._1.isNull, a._2).otherwise(least(a._1 + b._2, a._2 + b._4)),
      when(b._1.isNull, a._3).otherwise(least(a._3 + b._1, a._4 + b._3)),
      when(b._1.isNull, a._4).otherwise(least(a._3 + b._2, a._4 + b._4)))
    def treeFold(ms: Seq[M]): M =
      if (ms.size == 1) ms.head
      else {
        val (l, r) = ms.splitAt(ms.size / 2)
        combine(treeFold(l), treeFold(r))
      }
    while (groupMax > 1 && rounds < maxRounds) {
      val paired = seg
        .withColumn("idx2", expr(s"idx div $B"))
        .withColumn("side", expr(s"idx % $B"))
      val pivoted = paired.groupBy("key", "idx2")
        .agg(
          min(when(col("side") === 0, col("m00"))).as("s0_00"),
          (for (i <- 0 until B; e <- Seq("00", "01", "10", "11")
                if i > 0 || e != "00") yield
            min(when(col("side") === i, col(s"m$e"))).as(s"s${i}_$e")): _*)
      val folded = treeFold((0 until B).map(i =>
        (col(s"s${i}_00"), col(s"s${i}_01"),
          col(s"s${i}_10"), col(s"s${i}_11")): M))
      val merged = pivoted
        .select(col("key"), col("idx2").as("idx"),
          folded._1.as("m00"), folded._2.as("m01"),
          folded._3.as("m10"), folded._4.as("m11"))
        .localCheckpoint()
      seg.unpersist()
      seg = merged
      rounds += 1
      // deterministic shrink: group sizes divide by B exactly
      groupMax = (groupMax + B - 1) / B
    }
    require(groupMax <= 1, s"viterbi2 did not fold to one segment per key in $maxRounds rounds")
    seg.select("key", "m00", "m01", "m10", "m11")
  }
}
