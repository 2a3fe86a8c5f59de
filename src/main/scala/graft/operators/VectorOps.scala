package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Embedding similarity operators (SURVEY.md §2 B5–B7).
  *
  * All arithmetic runs in codegen'd higher-order functions over
  * `array<double>` — a strict left fold, so results are bit-deterministic
  * regardless of partitioning (no float reduce-order drift).
  *
  * Scale posture: the brute-force path broadcasts the (small) query set
  * and streams the corpus once — linear scan, no shuffle. The LSH path
  * buckets by random-hyperplane sign bits so candidate generation is a
  * bucket-key shuffle instead of a cross join.
  */
object VectorOps {

  /** ‖v‖ via an ordered fold (deterministic summation) — sqrt of the
    * native [[graft.functions.ArrDot]] self-dot, whose left-fold is the
    * identical IEEE sequence as `aggregate(v, 0.0, acc + x*x)`. */
  def norm(v: Column): Column = sqrt(dot(v, v))

  /** v·w as the native codegen'd [[graft.functions.ArrDot]] — the
    * higher-order `aggregate(zip_with(...))` form evaluates INTERPRETED
    * and sat on every candidate-pair relation (embed_lof's kernel alone
    * measured 423 s at sf10); same left-fold, bit-identical scores. */
  def dot(v: Column, w: Column): Column =
    org.apache.spark.sql.GraftPlanBridge.columnOf(graft.functions.ArrDot(
      org.apache.spark.sql.GraftPlanBridge.expressionOf(v),
      org.apache.spark.sql.GraftPlanBridge.expressionOf(w)))

  /** Exact integer squared L2 distance as the native codegen'd
    * [[graft.functions.ArrL2Sq]] (overflow throws, matching the ANSI
    * Column form it replaces). */
  def l2sq(v: Column, w: Column): Column =
    org.apache.spark.sql.GraftPlanBridge.columnOf(graft.functions.ArrL2Sq(
      org.apache.spark.sql.GraftPlanBridge.expressionOf(v),
      org.apache.spark.sql.GraftPlanBridge.expressionOf(w)))

  /** Exact integer dot product as the native codegen'd
    * [[graft.functions.ArrDotL]] — the bigint sibling of [[dot]], for
    * the milli-quantized surfaces whose scores are longs end to end
    * (r13: the interpreted `aggregate(zip_with(a*b))` folds sat on
    * every row of the JL / perceptron / MMR scans). */
  def dotl(v: Column, w: Column): Column =
    org.apache.spark.sql.GraftPlanBridge.columnOf(graft.functions.ArrDotL(
      org.apache.spark.sql.GraftPlanBridge.expressionOf(v),
      org.apache.spark.sql.GraftPlanBridge.expressionOf(w)))

  /** 16-dim Johnson–Lindenstrauss ±1 sign projection (B75/B78). The
    * sign matrix is fully deterministic — bit 16 parity of the
    * multiplicative hash (i + j·64)·2654435761 — so it precomputes to
    * 16 literal ±1 rows at plan-build time and each output dim is ONE
    * native [[graft.functions.ArrDotL]] call, replacing the
    * interpreted 16×64 `transform(sequence, aggregate(sequence))`
    * double loop (same formula, same exact integer sums — the output
    * array is bit-identical). */
  def jlProject(q: Column): Column = {
    val rows = (0 until 16).map { j =>
      typedLit((0 until 64).map { i =>
        val h = ((i + j * 64L) * 2654435761L % 2147483648L) * 2246822519L
        1L - 2L * (java.lang.Long.bitCount(h) % 2)
      })
    }
    array(rows.map(r => dotl(q, r)): _*)
  }

  /** Corpus with precomputed norms; embeddings cast to array<double>. */
  def withNorms(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))

  /** Per-(label, position) element sums and counts, accumulated in
    * exact DECIMAL so the value is independent of partition order —
    * the reproducible form of a per-class centroid. One posexplode +
    * one map-combinable shuffle on (label, pos): n·d rows in flight but
    * each partial partition collapses to ≤ labels·d rows before the
    * exchange, so the shuffle is tiny at any corpus size. */
  def labelCentroidSums(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(
        sum(col("x").cast(DecimalType(18, 9))).cast(DecimalType(38, 9)).as("sdec"),
        count(lit(1)).as("n"))

  /** Each vector's cosine to its label's centroid — the class-outlier
    * score. cos(v, S/n) = cos(v, S), so the mean never needs a lossy
    * division: the exact sum vector S (pos-ordered double array) is
    * broadcast and every distance is one ordered fold over the scan.
    */
  def centroidCosine(embeddings: DataFrame): DataFrame = {
    val cent = labelCentroidSums(embeddings)
      .groupBy("label")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("sdec").cast("double").as("sv")))),
        t => t.getField("sv")).as("cv"))
    val e = embeddings
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
      .filter(norm(col("v")) > 0)
    // guard the CENTROID norm too: a label whose element sums are all
    // exactly zero would divide to NULL, and NULL ordering differs
    // between Spark (first ASC) and DuckDB (last) — degenerate labels
    // are excluded instead of emitted (mirrored in the oracle)
    e.join(broadcast(cent), "label")
      .filter(norm(col("cv")) > 0)
      .select(col("vec_id"), col("label"),
        round(dot(col("v"), col("cv")) / (norm(col("v")) * norm(col("cv"))), 6)
          .as("cos_centroid"))
  }

  /** Brute-force cosine top-k: broadcast the query set, scan the corpus
    * once, per-query top-k via window rank on the rounded score. */
  def annTopKBrute(embeddings: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val n = withNorms(embeddings)
    val q = n.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = n.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6).as("score"))
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .orderBy("q_id", "rnk")
  }

  /** Int8 scalar-quantized ANN with exact re-rank — the memory-bound
    * scale path: per-vector symmetric quantization (scale = max|v|/127,
    * q_i = round-half-up(v_i/scale) ∈ [-127,127]) shrinks the corpus
    * representation 8× so the coarse pass streams integer dots (exact
    * in int64 — 64 products ≤ 127²·64 ≪ 2⁵³, so the double cast both
    * engines compare with is exact too); only the top `rerank`
    * candidates per query rejoin their full vectors for the exact
    * cosine that produces the final top-k. Everything is deterministic
    * IEEE arithmetic, so the whole pipeline (quantize → coarse rank →
    * rescore) replays bit-for-bit in the DuckDB oracle — the coarse
    * stage needs no recall hand-waving to be hash-checked, and
    * VectorOpsSpec measures actual recall vs the brute path.
    * Zero-norm vectors have no cosine direction — they'd rescore to
    * 0/0 = NaN, and Spark's descending sort puts NaN FIRST, so one
    * all-zero row would outrank every real neighbor. They are excluded
    * from both corpus and query sides (the scale-1 guard below keeps
    * the quantizer total anyway). */
  def annTopKQuantized(
      embeddings: DataFrame, queryPred: Column, k: Int, rerank: Int): DataFrame = {
    val quant = withNorms(embeddings)
      .filter(col("nrm") > 0.0)
      .withColumn("mx", array_max(transform(col("v"), x => abs(x))))
      .withColumn("scale", when(col("mx") === 0.0, lit(1.0)).otherwise(col("mx") / 127.0))
      .withColumn("q", transform(col("v"), x => floor(x / col("scale") + lit(0.5))))
      .select("vec_id", "v", "nrm", "scale", "q")
    val queries = quant.filter(queryPred).select(
      col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"),
      col("scale").as("qscale"), col("q").as("qq"))
    val qdot = aggregate(
      zip_with(col("q"), col("qq"), (a, b) => a * b), lit(0L), (acc, x) => acc + x)
    val coarse = quant.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("v"), col("nrm"), col("qv"), col("qnrm"),
        (qdot.cast("double") * col("scale") * col("qscale")).as("qscore"))
    val wc = Window.partitionBy("q_id").orderBy(col("qscore").desc, col("neighbor_id"))
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("neighbor_id"))
    coarse.withColumn("crnk", row_number().over(wc))
      .filter(col("crnk") <= rerank)
      .select(col("q_id"), col("neighbor_id"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6).as("score"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .orderBy("q_id", "rnk")
  }

  /** All pairs above a cosine threshold within a bounded id range —
    * near-duplicate detection by embedding (exact, quadratic; the LSH
    * variant below is the scale path). */
  def cosineNearDupPairs(embeddings: DataFrame, maxId: Int, threshold: Double): DataFrame = {
    val n = withNorms(embeddings).filter(col("vec_id") < maxId)
    val a = n.select(col("vec_id").as("d1"), col("v").as("v1"), col("nrm").as("n1"))
    val b = n.select(col("vec_id").as("d2"), col("v").as("v2"), col("nrm").as("n2"))
    a.join(b, col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6).as("score"))
      .filter(col("score") >= threshold)
      .orderBy("d1", "d2")
  }

  /** Deterministic pseudo-random hyperplane weights for [[lshBucket]]
    * — pure driver-side constants (hash-mixed index products), public
    * so oracles can embed the identical literals. */
  def lshWeights(dim: Int, bits: Int): Seq[Seq[Double]] =
    (0 until bits).map { b =>
      (0 until dim).map { i =>
        val h = scala.util.hashing.MurmurHash3.productHash((b, i))
        (h % 1000).toDouble / 1000.0
      }
    }

  private def planeSql(w: Seq[Double]): String = {
    val terms = w.zipWithIndex
      .map { case (x, i) => s"v[${i + 1}] * ($x)" }.mkString(" + ")
    s"(CASE WHEN ($terms) >= 0 THEN '1' ELSE '0' END)"
  }

  /** DuckDB SQL for the bucket key over a column `v`, embedding the
    * same literal weights as a left-associated chain — single source
    * for every LSH oracle (bit-identical IEEE sign bits). */
  def lshPlanesSql(dim: Int, bits: Int): String =
    lshWeights(dim, bits).map(planeSql).mkString(" || ")

  /** DuckDB SQL for ONE band's bucket key out of a `bitsPerBand ×
    * bands` plane family — same literal slice the Spark side uses. */
  def lshBandSql(dim: Int, bitsPerBand: Int, bands: Int, band: Int): String =
    lshWeights(dim, bitsPerBand * bands)
      .slice(band * bitsPerBand, (band + 1) * bitsPerBand)
      .map(planeSql).mkString(" || ")

  private def bucketFromWeights(v: Column, dim: Int, ws: Seq[Seq[Double]]): Column = {
    def planeDot(w: Seq[Double]): Column =
      (0 until dim).map(i => element_at(v, i + 1) * lit(w(i))).reduce(_ + _)
    concat(ws.map(w => when(planeDot(w) >= 0, "1").otherwise("0")): _*)
  }

  /** Random-hyperplane LSH bucket key: `bits` sign bits from
    * deterministic pseudo-hyperplanes (hash-mixed index products —
    * reproducible across runs, no RNG state). The per-plane dot is a
    * left-associated sum of v[i]*w[i] terms, so an oracle writing the
    * same literal chain reproduces the exact IEEE result. */
  def lshBucket(v: Column, dim: Int, bits: Int): Column =
    bucketFromWeights(v, dim, lshWeights(dim, bits))

  /** Element-wise mean of double arrays — the reduce step of
    * distributed Lloyd's iterations. A typed Aggregator, so the cell
    * mean computes with map-side partial aggregation: each partition
    * contributes ONE (sum, count) pair per cell and only k×dim partials
    * shuffle, never the vectors themselves. */
  private val vectorMean: Aggregator[(Long, Array[Double]), (Array[Double], Long), Array[Double]] =
    new Aggregator[(Long, Array[Double]), (Array[Double], Long), Array[Double]] {
      override def zero: (Array[Double], Long) = (Array.emptyDoubleArray, 0L)
      override def reduce(b: (Array[Double], Long), a: (Long, Array[Double])): (Array[Double], Long) = {
        val v = a._2
        if (b._2 == 0L) (v.clone(), 1L)
        else {
          var i = 0
          while (i < v.length) { b._1(i) += v(i); i += 1 }
          (b._1, b._2 + 1)
        }
      }
      override def merge(x: (Array[Double], Long), y: (Array[Double], Long)): (Array[Double], Long) =
        if (x._2 == 0L) y
        else if (y._2 == 0L) x
        else {
          var i = 0
          while (i < x._1.length) { x._1(i) += y._1(i); i += 1 }
          (x._1, x._2 + y._2)
        }
      override def finish(b: (Array[Double], Long)): Array[Double] =
        b._1.map(_ / b._2)
      override def bufferEncoder: Encoder[(Array[Double], Long)] =
        Encoders.tuple(ExpressionEncoderHelper.doubleArray, Encoders.scalaLong)
      override def outputEncoder: Encoder[Array[Double]] =
        ExpressionEncoderHelper.doubleArray
    }

  private object ExpressionEncoderHelper {
    val doubleArray: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }

  /** One-row DataFrame holding the centroid set as a deterministic
    * array<struct> (sorted by c_id) — the broadcastable form every
    * cell-assignment step attaches row-locally. */
  private def centroidArray(centroids: DataFrame): DataFrame =
    centroids.agg(sort_array(collect_list(struct(col("c_id"), col("cv"), col("cnrm")))).as("cents"))

  /** Per-row affinity list over the attached centroid array, best cell
    * first: ascending sort on (-cosine, c_id) structs. */
  private def affSorted: Column =
    array_sort(transform(col("cents"), c =>
      struct((-dot(col("v"), c("cv")) / (col("nrm") * c("cnrm"))).as("neg"),
        c("c_id").as("c_id"))))

  /** Coarse centroids by distributed Lloyd's iterations (cosine
    * affinity): init = first k corpus vectors, then `iters` rounds of
    * {row-local nearest-cell assignment (broadcast centroid array, no
    * shuffle), per-cell mean via [[vectorMean]] (k×dim partials
    * shuffle)}. Exactly the 100 TB k-means shape — per iteration, the
    * corpus is scanned once and never shuffled. Cells that lose all
    * members disappear (standard Lloyd's degeneracy; k can shrink). */
  def kmeansCentroids(embeddings: DataFrame, k: Int, iters: Int): DataFrame = {
    val s = embeddings.sparkSession
    import s.implicits._
    val n = withNorms(embeddings)
    var cents = n.filter(col("vec_id") < k)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cnrm"))
    // each round MATERIALIZES its centroids (localCheckpoint) and
    // releases the previous round's blocks — without the truncation,
    // round i's plan nests round i-1's broadcast subtree and the
    // whole corpus assignment re-executes per downstream use while
    // optimizer time grows superlinearly in iters (the exact pattern
    // GraphOps.connectedComponents already guards against)
    var prevCheckpoint: Option[DataFrame] = None
    (0 until iters).foreach { _ =>
      // typed local argmax (assignCellsLocal): the declarative
      // transform + array_sort affinity ranking evaluates INTERPRETED
      // and dominated every Lloyd round at corpus scale; an empty
      // centroid set (degenerate k-means) yields no assignments, the
      // old try_element_at null-cell rule
      val assigned = assignCellsLocal(n, cents)
        .select(col("cell"), col("v"))
        .as[(Long, Array[Double])]
      val next = assigned
        .groupByKey(_._1)
        .agg(vectorMean.toColumn.name("cv"))
        .toDF("c_id", "cv")
        .withColumn("cnrm", norm(col("cv")))
        .localCheckpoint()
      prevCheckpoint.foreach(_.unpersist())
      prevCheckpoint = Some(next)
      cents = next
    }
    prevCheckpoint match {
      case None => cents // iters = 0: plain corpus-prefix plan, nothing cached
      case Some(last) =>
        // hand back a LOCAL relation: the centroid set is k rows (it
        // already collapses into a single collect_list row for the
        // broadcast), so copying it to the driver costs what the
        // broadcast costs, folds into downstream broadcasts for free,
        // and lets us release the final checkpoint here instead of
        // leaking one cached RDD per call into the block manager
        val rows = java.util.Arrays.asList(last.collect(): _*)
        val out = s.createDataFrame(rows, last.schema)
        last.unpersist()
        out
    }
  }

  /** IVF-style ANN: coarse centroids (first `nCentroids` corpus
    * vectors, optionally refined by [[kmeansCentroids]] Lloyd's
    * rounds), every vector assigned to its nearest centroid, queries
    * probe the `nProbe` nearest centroid cells — the standard
    * recall/cost dial for billion-vector corpora.
    *
    * Cell assignment is SHUFFLE-FREE: the centroid set is folded into a
    * single-row array<struct> and attached to every corpus row via a
    * broadcast nested-loop join, so affinity ranking is a row-local
    * `transform` + `array_sort` (all codegen) — the corpus is scanned
    * once with no exchange until the (tiny) candidate set. A per-vector
    * window over corpus×nCentroids rows here was round 1's slowest
    * bench entry. No distinct is needed downstream: each neighbor lives
    * in exactly one cell, so a (q_id, neighbor) pair arises at most
    * once across probed cells. */
  def annTopKIvf(
      embeddings: DataFrame, queryPred: Column, k: Int,
      nCentroids: Int, nProbe: Int, kmeansIters: Int = 0): DataFrame = {
    val n = withNorms(embeddings)
    val cents =
      if (kmeansIters > 0) kmeansCentroids(embeddings, nCentroids, kmeansIters)
      else n.filter(col("vec_id") < nCentroids)
        .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cnrm"))
    // Bulk assignment: the typed local argmax ([[assignCellsLocal]] —
    // the declarative transform + k-struct array_sort evaluates
    // INTERPRETED and was the corpus-side pole; an empty centroid set
    // yields no assignments, the old null-cell rule). Probe rows are
    // FEW (queryPred), so they keep the sorted-affinity array — the
    // nProbe slice needs the full ranking.
    val assigned = assignCellsLocal(n, cents)
    val probes = n.filter(queryPred)
      .crossJoin(broadcast(centroidArray(cents))).withColumn("aff", affSorted)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"),
        explode(transform(slice(col("aff"), 1, nProbe), a => a("c_id"))).as("cell"))

    val scored = assigned.join(broadcast(probes),
      assigned("cell") === probes("cell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6).as("score"))
    val wq = Window.partitionBy("q_id").orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(wq).cast("long"))
      .filter(col("rnk") <= k)
      .orderBy("q_id", "rnk")
  }

  /** Near-duplicate pairs at scale: LSH-bucket the corpus (hyperplane
    * sign bits), generate candidate ID pairs from a SKINNY
    * (vec_id, bucket) projection — the bucket equi-join shuffles two
    * longs per row, never vectors and never the cross product — then
    * join the vectors back BY ID for the exact cosine verify, so the
    * heavy payload movement hashes over ids (uniform), not over the
    * handful of bucket keys (skewed). The scale path for
    * [[cosineNearDupPairs]]: recall is bounded by bucket collisions,
    * cost by bucket sizes.
    */
  def cosineNearDupPairsLsh(
      embeddings: DataFrame, maxId: Int, threshold: Double, dim: Int, bits: Int): DataFrame = {
    val n = withNorms(embeddings).filter(col("vec_id") < maxId)
      .withColumn("bucket", lshBucket(col("v"), dim, bits))
    val skinny = n.select(col("vec_id"), col("bucket"))
    val candidates = skinny.select(col("vec_id").as("d1"), col("bucket").as("b1"))
      .join(skinny.select(col("vec_id").as("d2"), col("bucket").as("b2")),
        col("b1") === col("b2") && col("d1") < col("d2"))
      .select("d1", "d2")
    candidates
      .join(n.select(col("vec_id").as("d1"), col("v").as("v1"), col("nrm").as("n1")), "d1")
      .join(n.select(col("vec_id").as("d2"), col("v").as("v2"), col("nrm").as("n2")), "d2")
      .select(col("d1"), col("d2"),
        round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6).as("score"))
      .filter(col("score") >= threshold)
  }

  /** Candidate pairs for [[cosineNearDupPairsLshBanded]]: `bands`
    * independent bucket keys of `bitsPerBand` sign bits each; a pair is
    * a candidate when it shares ANY band's bucket (multi-band OR — the
    * standard recall dial: P(candidate) = 1 − (1 − p^bits)^bands for
    * per-bit agreement p). Exposed separately so specs and capacity
    * planning can measure the candidate volume directly.
    *
    * Scale shape: band keys come from the native codegen'd
    * [[graft.functions.LshBandKeys]] expression, computed INSIDE the
    * scan (the declarative plane-sum tree at these widths generates
    * >64 KB of Java per method — Janino rejects it and Spark pays a
    * ~5 s failed-compile + interpreted-eval penalty per run; the
    * expression keeps WSCG intact — see LshBandKeys scaladoc). The
    * equi-join shuffles only (vec_id, bucket) pairs, and the band
    * prefix keeps buckets from colliding across bands. The trailing
    * distinct dedups pairs that agree in several bands — it shuffles
    * two longs per candidate, nothing more. */
  def cosineNearDupCandidatesLshBanded(
      embeddings: DataFrame, maxId: Int, dim: Int, bitsPerBand: Int, bands: Int): DataFrame = {
    graft.GraftExtensions.register(embeddings.sparkSession)
    val skinny = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(col("vec_id") < maxId)
      // lsh_band_keys derives dim from the row's vector, but the weight
      // family (and any literal-dim oracle) is declared by `dim` — a
      // mismatched corpus must fail loudly, not hash-diverge silently.
      // Expressed as a filter (not a dropped assert_true column, which
      // column pruning would erase before it ever evaluated).
      .filter(expr(
        s"CASE WHEN size(v) = $dim THEN true " +
          s"ELSE raise_error('lsh_band_keys: vector dim <> declared $dim') END"))
      .select(col("vec_id"),
        explode(expr(s"lsh_band_keys(v, $bitsPerBand, $bands)")).as("bucket"))
    skinny.select(col("vec_id").as("d1"), col("bucket").as("b1"))
      .join(skinny.select(col("vec_id").as("d2"), col("bucket").as("b2")),
        col("b1") === col("b2") && col("d1") < col("d2"))
      .select("d1", "d2")
      .distinct()
  }

  /** Near-duplicate pairs via banded LSH at production bit widths —
    * the recall-tunable scale path ([[cosineNearDupPairsLsh]] with a
    * single coarse key proves the bucket-join shape; this variant
    * makes the candidate volume sublinear in n² while multi-band OR
    * keeps recall). VectorOpsSpec asserts candidates ≪ all-pairs and
    * 100% recall on planted exact duplicates (identical vectors share
    * every band's bucket by construction); the driver-facing
    * `neardup_cosine_lsh_banded` query hash-checks the full pair set
    * against a per-band UNION oracle. Vectors rejoin by id (uniform
    * hash) only for the exact cosine verify of the surviving
    * candidates. */
  def cosineNearDupPairsLshBanded(
      embeddings: DataFrame, maxId: Int, threshold: Double,
      dim: Int, bitsPerBand: Int, bands: Int): DataFrame = {
    val n = withNorms(embeddings).filter(col("vec_id") < maxId)
    cosineNearDupCandidatesLshBanded(embeddings, maxId, dim, bitsPerBand, bands)
      .join(n.select(col("vec_id").as("d1"), col("v").as("v1"), col("nrm").as("n1")), "d1")
      .join(n.select(col("vec_id").as("d2"), col("v").as("v2"), col("nrm").as("n2")), "d2")
      .select(col("d1"), col("d2"),
        round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6).as("score"))
      .filter(col("score") >= threshold)
  }

  /** Corpus-size cell dial shared by the cell-candidate primaries
    * (dedup_semantic, embed_lof, embed_triplet_mining): k = max(4,
    * floor(sqrt N / 2)) cells keeps expected cell membership ~2*sqrt(N), so
    * within-cell quadratic work is O(N^1.5) — SemDeDup's own scaling
    * answer. IEEE sqrt is correctly rounded on every engine, so the
    * floor agrees bit-for-bit with [[sqrtCellsSql]] (unlike float log,
    * which is not correctly-rounded-guaranteed). */
  def sqrtCells(n: Long): Int =
    math.max(4L, math.floor(math.sqrt(n.toDouble) / 2).toLong).toInt

  /** DuckDB scalar equivalent of [[sqrtCells]] over COUNT(*). */
  val sqrtCellsSql: String =
    "GREATEST(4, CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE)) / 2) AS BIGINT))"

  /** Exact integer-distance cell assignment over a milli-quantized
    * relation `(vec_id, q: array<bigint>)`: seeds = the first k ids,
    * cell = argmin exact squared distance (ties to the lowest seed id).
    * ONE broadcast of k seed vectors + ONE map-combined argmin
    * aggregate (min over a (d2, sid) struct) — the corpus never
    * shuffles; the (vec_id, cell) result joins back by uniform id.
    * An oracle replays it as ROW_NUMBER over (d2, sid). */
  def integerCells(quantized: DataFrame, k: Int): DataFrame = {
    // the argmin rides ONE primitive long: enc = d2 * 2^21 + sid, so
    // min(enc) == argmin (d2, sid) while the aggregate stays a plain
    // HashAggregate. A min(struct(d2, sid)) here planned as
    // SortAggregate (struct isn't mutable-buffer-eligible) and SORTED
    // the N x k crossJoin relation — still carrying both 512-byte
    // arrays — a TB-scale spill that killed the 2M-vector sf100 run
    // on disk. Bounds: sid < 2^21 (2M seeds) and milli-quantized
    // d2 <= ~1.6e10 keep enc far inside long range; ANSI throws
    // loudly if a pathological corpus exceeds it.
    require(k < (1 << 21), s"integerCells: k=$k exceeds the 2^21 sid encoding bound")
    val seeds = quantized.filter(col("vec_id") < k)
      .select(col("vec_id").as("sid"), col("q").as("sq"))
    quantized.crossJoin(broadcast(seeds))
      .groupBy("vec_id")
      .agg(min(l2sq(col("q"), col("sq")) * lit(2097152L) + col("sid")).as("enc"))
      .select(col("vec_id"), (col("enc") % 2097152L).as("cell"))
  }

  // ------------------------- cell-local quadratics (the sf100 lesson)
  //
  // The within-cell pairwise stages first shipped as DECLARATIVE skinny
  // pair joins; correct, but the join EXPANDS O(N * cellsize) rows each
  // carrying a 64-dim vector — at the 2M-vector sf100 pack that is a
  // ~175 GB shuffle and the window/agg state behind it OOM'd the
  // single-box run (measured: dedup_semantic died on disk, embed_lof /
  // embed_triplet_mining / embed_knn_label_eval on executor memory).
  // The TraceDataset contract generalizes: a quadratic whose domain is
  // BOUNDED (cells ~ 2 sqrt(N) members by the sqrtCells dial) belongs
  // partition-local — ONE cell-keyed shuffle moves each vector once
  // (~1 GB at sf100), and the pairwise arithmetic runs as tight local
  // loops that replicate the SQL expressions bit-for-bit (left-fold
  // dots, valueOf-BigDecimal HALF_UP rounding, integer floor division
  // — the AuditStatsSpec brute replays pin the equivalences).

  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue

  /** Memoizing wrapper over [[round6]] for pairwise cell loops.
    * BigDecimal.valueOf parses Double.toString (~1 µs); on a
    * ScaleUp-replicated corpus the same raw cosine recurs thousands of
    * times AND constantly ties the running extremes, so the deferral
    * band fires on a large fraction of pairs (measured: ~100 s of the
    * sf100 triplet stage was rounding). Distinct raw values are
    * bounded by distinct base-vector pairs, so a capped per-cell map
    * collapses the cost; past the cap (a genuinely high-entropy cell,
    * where the band fires rarely anyway) it falls through to the
    * direct computation. */
  private final class Round6Memo {
    private val memo = new java.util.HashMap[java.lang.Double, java.lang.Double]()
    def apply(x: Double): Double = {
      if (memo.size < (1 << 20)) {
        val k = java.lang.Double.valueOf(x)
        var v = memo.get(k)
        if (v == null) { v = java.lang.Double.valueOf(round6(x)); memo.put(k, v) }
        v.doubleValue
      } else round6(x)
    }
  }

  private def dotLocal(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private def d2Local(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Bounded driver collect of [[integerCells]]' seed set (the first k
    * quantized vectors, k = the √N dial — ~700 × 64 longs at sf100),
    * sorted by sid so a strict `<` scan realizes the (d2, min sid)
    * tie rule. */
  private[graft] def collectSeeds(q: DataFrame, k: Int): Array[(Long, Array[Long])] = {
    val s = q.sparkSession
    import s.implicits._
    q.filter(col("vec_id") < k).as[(Long, Array[Long])].collect().sortBy(_._1)
  }

  /** Argmin cell over the broadcast seed array — the typed local twin
    * of [[integerCells]]' min(d2·2^21 + sid) encoding: exact integer
    * d2, ties to the lowest sid (seeds pre-sorted, strict `<`).
    * Replaces the N×k crossJoin→hash-agg relation (2 M × ~700 rows at
    * sf100) plus the corpus-wide join back with zero exchanges — the
    * assignCellsLocal lesson applied to the integer family. */
  private[graft] def seedArgmin(ss: Array[(Long, Array[Long])], qa: Array[Long]): Long = {
    var bestD = Long.MaxValue
    var bestSid = Long.MaxValue
    var i = 0
    while (i < ss.length) {
      val d = d2Local(qa, ss(i)._2)
      if (d < bestD) { bestD = d; bestSid = ss(i)._1 }
      i += 1
    }
    bestSid
  }

  /** Cell-local LOF (k = 5): one integerCells assignment, one
    * cell-keyed shuffle, all kNN / reach-dist / lrd arithmetic inside
    * the bounded cell — identical integers to the former pair-join
    * form. Output (vec_id, kdist, reach_sum, lof_ppm). */
  def lofCellLocal(embeddings: DataFrame): DataFrame = {
    val s = embeddings.sparkSession
    import s.implicits._
    val cells = sqrtCells(embeddings.count())
    val q = milliQuantizedPublic(embeddings)
    val bc = s.sparkContext.broadcast(collectSeeds(q, cells))
    q.as[(Long, Array[Long])]
      .mapPartitions { it =>
        val ss = bc.value
        if (ss.isEmpty) Iterator.empty
        else it.map { case (id, qa) => (seedArgmin(ss, qa), id, qa) }
      }
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val m = it.toArray.sortBy(_._2)
        val n = m.length
        if (n < 2) Iterator.empty
        else {
          // kNN per member: k smallest (d2, id) among cell mates by a
          // PRIMITIVE top-k insertion scan — the former
          // sort-all-distances form allocated and stableSorted n-1
          // boxed tuples PER MEMBER (O(n² log n) per cell and the
          // measured sf100 pole at ~2800-member cells); each unordered
          // pair now also evaluates d2 exactly once and offers both
          // endpoints. Identical (d2, then id) selection rule.
          val ids = Array.tabulate(n)(x => m(x)._2)
          val qs = Array.tabulate(n)(x => m(x)._3)
          val kk = math.min(5, n - 1)
          val nnD = Array.fill(n)(Array.fill(kk)(Long.MaxValue))
          val nnI = Array.fill(n)(Array.fill(kk)(Long.MaxValue))
          def offer(row: Int, d: Long, id: Long): Unit = {
            val ds = nnD(row); val iz = nnI(row)
            val last = kk - 1
            if (d < ds(last) || (d == ds(last) && id < iz(last))) {
              var p = last
              while (p > 0 && (d < ds(p - 1) || (d == ds(p - 1) && id < iz(p - 1)))) {
                ds(p) = ds(p - 1); iz(p) = iz(p - 1); p -= 1
              }
              ds(p) = d; iz(p) = id
            }
          }
          def doPair(i: Int, j: Int): Unit = {
            val d = d2Local(qs(i), qs(j))
            offer(i, d, ids(j))
            offer(j, d, ids(i))
          }
          // cache-blocked sweep (see tripletCellLocal): top-k offers
          // are order-independent, so tiles keep both vector blocks
          // in L2 instead of streaming RAM per pair
          val B = 128
          var bi = 0
          while (bi < n) {
            val biEnd = math.min(bi + B, n)
            var i = bi
            while (i < biEnd) {
              var j = i + 1
              while (j < biEnd) { doPair(i, j); j += 1 }
              i += 1
            }
            var bj = biEnd
            while (bj < n) {
              val bjEnd = math.min(bj + B, n)
              var i2 = bi
              while (i2 < biEnd) {
                var j2 = bj
                while (j2 < bjEnd) { doPair(i2, j2); j2 += 1 }
                i2 += 1
              }
              bj = bjEnd
            }
            bi = biEnd
          }
          val idIdx = new scala.collection.mutable.HashMap[Long, Int]()
          var x = 0
          while (x < n) { idIdx.update(ids(x), x); x += 1 }
          val kdist = Array.tabulate(n)(r => nnD(r)(kk - 1))
          val ri = Array.tabulate(n) { r =>
            var s = 0L
            var b = 0
            while (b < kk) {
              s += math.max(nnD(r)(b), kdist(idIdx(nnI(r)(b)))); b += 1
            }
            math.max(s, 1L)
          }
          (0 until n).iterator.map { r =>
            var sInv = 0L
            var b = 0
            while (b < kk) { sInv += 1000000000000000000L / ri(idIdx(nnI(r)(b))); b += 1 }
            val lof = (BigInt(ri(r)) * BigInt(sInv) / BigInt(5000000000000L)).toLong
            (ids(r), kdist(r), ri(r), lof)
          }
        }
      }
      .toDF("vec_id", "kdist", "reach_sum", "lof_ppm")
      .orderBy(desc("lof_ppm"), col("vec_id"))
  }

  /** Shared milli-quantized (vec_id, q) projection (public twin of the
    * PQ family's private helper). */
  def milliQuantizedPublic(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))").as("q"))

  /** Cell-local hard-example mining: per anchor, the lowest-scoring
    * same-label mate and highest-scoring other-label mate (round6
    * cosine, min-id tie-breaks) — identical doubles to the former
    * pair-join form. Output (anchor, hard_pos, hard_neg, pos_score,
    * neg_score, violation) ordered by (violation desc, anchor).
    *
    * Zero-norm vectors are filtered up front (0/0 would make the score
    * NaN, which BigDecimal rounding rejects); the oracle carries the
    * same `nrm > 0` predicate. Cost cuts vs the r9 loop (the sf100
    * pole, 287 s): each unordered pair scores ONCE (the cosine is
    * bit-symmetric: IEEE a·b and norms commute) and updates both
    * anchors — the min-id tie rule is iteration-order-independent —
    * and the expensive decimal rounding (BigDecimal.valueOf parses a
    * string) runs lazily, only when the raw score sits within 1e-6 of
    * an anchor's current extreme (half-up rounding moves a value by
    * ≤5e-7, so anything farther can neither become the new extreme nor
    * tie it). */
  def tripletCellLocal(embeddings: DataFrame): DataFrame = {
    val s = embeddings.sparkSession
    import s.implicits._
    val cells = sqrtCells(embeddings.count())
    val q = milliQuantizedPublic(embeddings)
    val bc = s.sparkContext.broadcast(collectSeeds(q, cells))
    // v/nrm/label/q all derive per-row, so ONE projection feeds the
    // local seed-argmin — the former three-join form exchanged the
    // 512-byte vector rows three extra times before the cell shuffle
    embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"),
        expr("transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))").as("q"))
      .withColumn("nrm", norm(col("v")))
      .filter(col("nrm") > 0)
      .as[(Long, Array[Double], Int, Array[Long], Double)]
      .mapPartitions { it =>
        val ss = bc.value
        if (ss.isEmpty) Iterator.empty
        else it.map { case (id, v, label, qa, nr) =>
          (seedArgmin(ss, qa), id, v, nr, label)
        }
      }
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val m = it.toArray.sortBy(_._2)
        val n = m.length
        // flat locals: the O(n²) loop reads these ~n²/2 times each —
        // tuple-field pointer chases measurably dominate at 2800-member
        // sf100 cells
        val ids = Array.tabulate(n)(k => m(k)._2)
        val vs = Array.tabulate(n)(k => m(k)._3)
        val nr = Array.tabulate(n)(k => m(k)._4)
        val lb = Array.tabulate(n)(k => m(k)._5)
        val posScore = Array.fill(n)(Double.NaN)
        val posId = Array.fill(n)(Long.MaxValue)
        val negScore = Array.fill(n)(Double.NaN)
        val negId = Array.fill(n)(Long.MaxValue)
        def updPos(k: Int, cid: Long, sc: Double): Unit =
          if (posScore(k).isNaN || sc < posScore(k)) { posScore(k) = sc; posId(k) = cid }
          else if (sc == posScore(k) && cid < posId(k)) posId(k) = cid
        def updNeg(k: Int, cid: Long, sc: Double): Unit =
          if (negScore(k).isNaN || sc > negScore(k)) { negScore(k) = sc; negId(k) = cid }
          else if (sc == negScore(k) && cid < negId(k)) negId(k) = cid
        val r6 = new Round6Memo
        def doPair(i: Int, j: Int): Unit = {
          val raw = dotLocal(vs(i), vs(j)) / (nr(i) * nr(j))
          if (lb(i) == lb(j)) {
            if (posScore(i).isNaN || posScore(j).isNaN ||
                raw <= posScore(i) + 1e-6 || raw <= posScore(j) + 1e-6) {
              val sc = r6(raw)
              updPos(i, ids(j), sc)
              updPos(j, ids(i), sc)
            }
          } else {
            if (negScore(i).isNaN || negScore(j).isNaN ||
                raw >= negScore(i) - 1e-6 || raw >= negScore(j) - 1e-6) {
              val sc = r6(raw)
              updNeg(i, ids(j), sc)
              updNeg(j, ids(i), sc)
            }
          }
        }
        // CACHE-BLOCKED pair sweep: a flat i<j scan streams both
        // 512-byte vectors from RAM for every pair (~3.5 TB per sf100
        // run across the cell set — measured bandwidth-bound at 660
        // ns/pair in-Spark vs 85 ns in-cache); 128×128 tiles keep the
        // two active vector blocks (~128 KB) in L2, and the visit
        // order is free to change because every per-pair update is an
        // order-independent (min/max, tie-to-lowest-id) monoid and the
        // rounding band is conservative under any visit order.
        val B = 128
        var bi = 0
        while (bi < n) {
          val biEnd = math.min(bi + B, n)
          var i = bi
          while (i < biEnd) {
            var j = i + 1
            while (j < biEnd) { doPair(i, j); j += 1 }
            i += 1
          }
          var bj = biEnd
          while (bj < n) {
            val bjEnd = math.min(bj + B, n)
            var i2 = bi
            while (i2 < biEnd) {
              var j2 = bj
              while (j2 < bjEnd) { doPair(i2, j2); j2 += 1 }
              i2 += 1
            }
            bj = bjEnd
          }
          bi = biEnd
        }
        (0 until n).iterator.flatMap { k =>
          if (posScore(k).isNaN || negScore(k).isNaN) None
          else Some((ids(k), posId(k), negId(k), posScore(k), negScore(k),
            negScore(k) - posScore(k)))
        }
      }
      .toDF("anchor", "hard_pos", "hard_neg", "pos_score", "neg_score", "violation")
      .orderBy(desc("violation"), col("anchor"))
  }

  /** Cell-local ε-NN graph degree census — the statistic an
    * HNSW/NN-descent index build watches (how connected is the
    * neighborhood graph at a given similarity threshold): per vector,
    * the count of cell-mates with round6 cosine ≥ `threshold`, rolled
    * into a (degree → n_vecs) histogram. Same fused shape as
    * [[tripletCellLocal]]: one projection, broadcast-seed argmin
    * assignment, one cell shuffle, pairwise arithmetic in a bounded
    * local loop with each unordered pair scored ONCE (IEEE dot/norm
    * products commute) and the BigDecimal rounding deferred to the
    * ±1e-6 band around the threshold. Zero-norm vectors are excluded
    * (NaN cosine; oracle carries the same nrm > 0 predicate).
    * Output (degree, n_vecs) ordered by degree. */
  def annGraphDegreeCellLocal(embeddings: DataFrame, threshold: Double): DataFrame = {
    val s = embeddings.sparkSession
    import s.implicits._
    val cells = sqrtCells(embeddings.count())
    val q = milliQuantizedPublic(embeddings)
    val bc = s.sparkContext.broadcast(collectSeeds(q, cells))
    embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        expr("transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))").as("q"))
      .withColumn("nrm", norm(col("v")))
      .filter(col("nrm") > 0)
      .as[(Long, Array[Double], Array[Long], Double)]
      .mapPartitions { it =>
        val ss = bc.value
        if (ss.isEmpty) Iterator.empty
        else it.map { case (id, v, qa, nr) => (seedArgmin(ss, qa), id, v, nr) }
      }
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val m = it.toArray
        val n = m.length
        val vs = Array.tabulate(n)(k => m(k)._3)
        val nr = Array.tabulate(n)(k => m(k)._4)
        val deg = new Array[Long](n)
        val r6 = new Round6Memo
        def doPair(i: Int, j: Int): Unit = {
          val raw = dotLocal(vs(i), vs(j)) / (nr(i) * nr(j))
          // defer the rounding to the decision band: half-up moves a
          // value ≤ 5e-7, so anything ≥ t+1e-6 is surely an edge and
          // anything ≤ t-1e-6 surely is not
          val edge =
            if (raw >= threshold + 1e-6) true
            else if (raw <= threshold - 1e-6) false
            else r6(raw) >= threshold
          if (edge) { deg(i) += 1L; deg(j) += 1L }
        }
        // cache-blocked sweep (see tripletCellLocal): degree counting
        // commutes, so tiles keep both vector blocks in L2
        val B = 128
        var bi = 0
        while (bi < n) {
          val biEnd = math.min(bi + B, n)
          var i = bi
          while (i < biEnd) {
            var j = i + 1
            while (j < biEnd) { doPair(i, j); j += 1 }
            i += 1
          }
          var bj = biEnd
          while (bj < n) {
            val bjEnd = math.min(bj + B, n)
            var i2 = bi
            while (i2 < biEnd) {
              var j2 = bj
              while (j2 < bjEnd) { doPair(i2, j2); j2 += 1 }
              i2 += 1
            }
            bj = bjEnd
          }
          bi = biEnd
        }
        deg.iterator.map(d => Tuple1(d))
      }
      .toDF("degree")
      .groupBy("degree").agg(count(lit(1)).as("n_vecs"))
      .orderBy("degree")
  }

  /** Cell-local majority-label prediction confusion matrix (the
    * weak-supervision eval): ties to the smallest label; singleton
    * cells drop. Output (label, predicted, n_vecs). */
  def knnLabelEvalCellLocal(embeddings: DataFrame): DataFrame = {
    val s = embeddings.sparkSession
    import s.implicits._
    val cells = sqrtCells(embeddings.count())
    val q = milliQuantizedPublic(embeddings)
    val bc = s.sparkContext.broadcast(collectSeeds(q, cells))
    val pred = embeddings
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))").as("q"))
      .as[(Long, Int, Array[Long])]
      .mapPartitions { it =>
        val ss = bc.value
        if (ss.isEmpty) Iterator.empty
        else it.map { case (id, label, qa) => (seedArgmin(ss, qa), id, label) }
      }
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val m = it.toArray
        if (m.length < 2) Iterator.empty
        else {
          val total = scala.collection.mutable.HashMap.empty[Int, Long]
          m.foreach { case (_, _, l) => total.update(l, total.getOrElse(l, 0L) + 1L) }
          m.iterator.map { case (_, _, la) =>
            var bestL = Int.MaxValue
            var bestC = -1L
            total.foreach { case (l, c) =>
              val cc = if (l == la) c - 1 else c
              if (cc > 0 && (cc > bestC || (cc == bestC && l < bestL))) {
                bestC = cc; bestL = l
              }
            }
            (la.toLong, bestL.toLong)
          }
        }
      }
      .toDF("label", "predicted")
    pred.groupBy("label", "predicted").agg(count(lit(1)).as("n_vecs"))
      .orderBy("label", "predicted")
  }

  /** Nearest-cell assignment by a typed local argmax over the
    * broadcast centroid array — the codegen-immune twin of
    * `affSorted`'s element 1. The declarative form pays an INTERPRETED
    * transform lambda plus a full k-struct array_sort per row to take
    * one element (measured: the dominant cost of dedup_semantic at
    * sf100 — 2 M rows × ~700 centroids); the local loop runs the
    * identical left-fold dots (dotLocal ≡ ArrDot) and the identical
    * (max cosine, min c_id) rule, and its zero-sign tie handling
    * matches the SQL oracle's comparison semantics. Emits (vec_id, v,
    * nrm, cell); empty centroid sets yield an empty result (the
    * try_element_at null-cell rule). Zero-norm rows/centroids are the
    * callers' contract to exclude (semDeDup filters; embeddings carry
    * no zero vectors by the testdata contract) — a NaN cosine never
    * updates the running argmax here, where the old sort ranked NaN
    * last, so the two forms agree only on NaN-free input. */
  private def assignCellsLocal(n: DataFrame, cents: DataFrame): DataFrame = {
    val s = n.sparkSession
    import s.implicits._
    val cArr = cents.select(col("c_id"), col("cv"), col("cnrm"))
      .as[(Long, Array[Double], Double)].collect().sortBy(_._1)
    val bc = s.sparkContext.broadcast(cArr)
    n.select(col("vec_id"), col("v"), col("nrm"))
      .as[(Long, Array[Double], Double)]
      .mapPartitions { it =>
        val cs = bc.value
        if (cs.isEmpty) Iterator.empty
        else it.map { case (id, v, nr) =>
          var bestCos = Double.NegativeInfinity
          var bestId = Long.MaxValue
          var i = 0
          while (i < cs.length) {
            val cos = dotLocal(v, cs(i)._2) / (nr * cs(i)._3)
            if (cos > bestCos || (cos == bestCos && cs(i)._1 < bestId)) {
              bestCos = cos; bestId = cs(i)._1
            }
            i += 1
          }
          // every cosine NaN (zero-norm or NaN component) would leave
          // the sentinel in place — a phantom cell the downstream
          // grouping would silently absorb; fail loudly instead of
          // relying on each caller's nrm > 0 contract (r10 advice)
          require(bestId != Long.MaxValue,
            s"assignCellsLocal: no finite cosine for vec_id=$id " +
              s"(zero-norm or NaN embedding violates the input contract)")
          (id, v, nr, bestId)
        }
      }
      .toDF("vec_id", "v", "nrm", "cell")
  }

  /** Cell-local SemDeDup census: the same cosine-affinity assignment
    * as [[semDeDup]] (broadcast centroid array), but the within-cell
    * greedy min-id drop runs in a bounded local loop instead of a
    * pair join. Output (c_id, n_vecs, n_dropped, n_kept). */
  def semDeDupCellLocal(embeddings: DataFrame, nCentroids: Int, threshold: Double): DataFrame = {
    val s = embeddings.sparkSession
    import s.implicits._
    val n = withNorms(embeddings).filter(col("nrm") > 0)
      .localCheckpoint() // both the centroid slice and the bulk scan read it
    val cents = n.filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cnrm"))
    val assigned = assignCellsLocal(n, cents)
    assigned.select(col("cell"), col("vec_id"), col("v"), col("nrm"))
      .as[(Long, Long, Array[Double], Double)]
      .groupByKey(_._1)
      .mapGroups { (cell, it) =>
        val m = it.toArray.sortBy(_._2)
        // EXACT-DUPLICATE SHORT-CIRCUIT (the neardup_cosine replication
        // lesson): an earlier bit-identical vector scores within ulps
        // of 1.0 — ≥ threshold + 1e-6 for any threshold this side of
        // 0.999 — so the greedy scan's answer for such a j is "hit"
        // without walking the cell. ScaleUp packs replicate rows, so
        // without this the per-j linear scan walks ~half the cell to
        // reach its first similar member (O(cellsize²) dots; the sf100
        // pole). Distinct representatives still take the full scan.
        val dupSafe = threshold <= 0.99
        val firstSeen = new java.util.HashMap[java.lang.Integer,
          scala.collection.mutable.ArrayBuffer[Int]]()
        def hasEarlierCopy(j: Int): Boolean = {
          val h = java.lang.Integer.valueOf(java.util.Arrays.hashCode(m(j)._3))
          val bucket = firstSeen.get(h)
          bucket != null && bucket.exists(i => java.util.Arrays.equals(m(i)._3, m(j)._3))
        }
        def record(j: Int): Unit = {
          val h = java.lang.Integer.valueOf(java.util.Arrays.hashCode(m(j)._3))
          var bucket = firstSeen.get(h)
          if (bucket == null) {
            bucket = new scala.collection.mutable.ArrayBuffer[Int](1)
            firstSeen.put(h, bucket)
          }
          if (!bucket.exists(i => java.util.Arrays.equals(m(i)._3, m(j)._3)))
            bucket += j
        }
        var dropped = 0L
        var j = 0
        while (j < m.length) {
          var hit = dupSafe && hasEarlierCopy(j)
          var i = 0
          while (i < j && !hit) {
            // decimal rounding (a string-parsing BigDecimal, several ×
            // the 64-dim dot) runs only inside the ±1e-6 decision band:
            // half-up rounding moves a value by ≤5e-7, so raw scores
            // farther from the threshold decide without it
            val raw = dotLocal(m(i)._3, m(j)._3) / (m(i)._4 * m(j)._4)
            if (raw >= threshold + 1e-6) hit = true
            else if (raw > threshold - 1e-6 && round6(raw) >= threshold) hit = true
            i += 1
          }
          if (dupSafe) record(j)
          if (hit) dropped += 1
          j += 1
        }
        (cell, m.length.toLong, dropped, m.length - dropped)
      }
      .toDF("c_id", "n_vecs", "n_dropped", "n_kept")
      .orderBy("c_id")
  }

  /** Corpus-size LSH dial: the bit width that keeps EXPECTED bucket
    * occupancy ~64 (bits = ceil(log2(N/64)), clamped to [2, 16]) so the
    * per-band candidate volume grows LINEARLY in N — ~bands · (N/64) ·
    * C(64,2) pairs — instead of quadratically the way any fixed width
    * does. Pure integer ladder (never float log: ln-based log2 can
    * land an ulp past an exact power of two and ceil to the wrong
    * width on one engine); [[lshBitsSqlCase]] renders the identical
    * ladder for the oracle. */
  def lshBitsForCount(n: Long): Int = {
    var b = 2
    while (b < 16 && n > (64L << b)) b += 1
    b
  }

  /** DuckDB CASE ladder equivalent to [[lshBitsForCount]] over a count
    * expression. */
  def lshBitsSqlCase(cntExpr: String): String =
    (2 to 15).map(b => s"WHEN $cntExpr <= ${64L << b} THEN $b")
      .mkString("CASE ", " ", " ELSE 16 END")

  /** DuckDB CTE fragment computing per-(vec_id, band) keys of the
    * [[graft.functions.LshFamily.Lin]] weight family with a RUNTIME bit
    * width: expects upstream CTEs `n(vec_id, v, ...)` (v DOUBLE[dim])
    * and `k(bits BIGINT)`; emits `keys(vec_id, band, bkey)`. The
    * weight lambda is the verbatim SQL mirror of
    * [[graft.functions.LshFamily.Lin.weight]]; the fold is
    * `list_reduce(..., (x, y) -> x + y)` = the expression's
    * left-to-right accumulation (see its scaladoc for the signed-zero
    * note). */
  def lshLinKeysSql(dim: Int, bands: Int): String =
    s"""sb AS (
       |  SELECT n.vec_id, b.band, t.bit,
       |    list_reduce(list_transform(range(0, $dim),
       |      i -> n.v[CAST(i + 1 AS INT)] *
       |           (CAST((((b.band * k.bits + t.bit) * 31 + i * 17 + 7) % 8191)
       |                 * (((b.band * k.bits + t.bit) * 31 + i * 17 + 7) % 8191)
       |                 * (b.band * k.bits + t.bit + 13) % 8191 % 2001 - 1000
       |            AS DOUBLE) / 1000.0)),
       |      (x, y) -> x + y) AS s
       |  FROM n, k, unnest(range(0, $bands)) b(band), unnest(range(0, k.bits)) t(bit)),
       |keys AS (
       |  SELECT vec_id, band,
       |    string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY bit) AS bkey
       |  FROM sb GROUP BY vec_id, band)""".stripMargin

  /** Near-duplicate pairs over the FULL corpus with the bit width
    * derived from the corpus size ([[lshBitsForCount]]) — the primary
    * registered form since r9 (the id-capped exact all-pairs form is a
    * spec anchor only): at every scale factor the expected bucket holds
    * ~64 vectors, candidates ≈ bands · N/64 · C(64,2) (linear in N),
    * signatures compute in the scan stage (native codegen'd
    * expression), candidates come from a skinny banded equi-join (two
    * longs on the wire), and vectors rejoin by id only for the exact
    * cosine verify. The one count() is a parquet-footer job. */
  def cosineNearDupPairsAuto(
      embeddings: DataFrame, threshold: Double, dim: Int, bands: Int): DataFrame = {
    val s = embeddings.sparkSession
    graft.GraftExtensions.register(s)
    // EXACT-duplicate collapse first (the dedup ladder's own rule, and
    // the dedup_editdist lesson applied to vectors): replicated corpora
    // make identical embeddings form true duplicate groups whose
    // pairwise expansion is output-quadratic — the 2M-vector sf100 pack
    // (2 000 distinct embeddings x 1000 copies) would emit ~1e9
    // identical-pair rows and died on disk. Identical vectors carry
    // identical information; one representative (min vec_id) with the
    // group size rides through the banded join, and the whole pipeline
    // shrinks to the DISTINCT-vector count. On a duplicate-free corpus
    // the collapse is a cheap passthrough.
    val grouped = embeddings.groupBy("embedding")
      .agg(min("vec_id").as("vec_id"), count(lit(1)).as("ndup"))
      .localCheckpoint() // counted for the dial + scanned for sigs/verify
    val bits = lshBitsForCount(grouped.count())
    val n = grouped
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("ndup"))
      .withColumn("nrm", norm(col("v")))
    val skinny = n
      .filter(expr(
        s"CASE WHEN size(v) = $dim THEN true " +
          s"ELSE raise_error('lsh_band_keys_lin: vector dim <> declared $dim') END"))
      .select(col("vec_id"),
        explode(expr(s"lsh_band_keys_lin(v, $bits, $bands)")).as("bucket"))
    val cand = skinny.select(col("vec_id").as("d1"), col("bucket").as("b1"))
      .join(skinny.select(col("vec_id").as("d2"), col("bucket").as("b2")),
        col("b1") === col("b2") && col("d1") < col("d2"))
      .select("d1", "d2")
      .distinct()
    cand
      .join(n.select(col("vec_id").as("d1"), col("v").as("v1"), col("nrm").as("n1"),
        col("ndup").as("n1_dups")), "d1")
      .join(n.select(col("vec_id").as("d2"), col("v").as("v2"), col("nrm").as("n2"),
        col("ndup").as("n2_dups")), "d2")
      .select(col("d1"), col("d2"),
        round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6).as("score"),
        col("n1_dups"), col("n2_dups"))
      .filter(col("score") >= threshold)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, public): cluster
    * the corpus into centroid cells, then drop every vector with a
    * lower-id near-duplicate (cosine ≥ threshold) in its OWN cell —
    * the cell bound is what makes semantic dedup tractable: the
    * quadratic runs within cells, never corpus-wide. Returns per-cell
    * (n_vecs, n_dropped, n_kept).
    *
    * Scale shape: cell assignment is the shuffle-free broadcast-array
    * form shared with [[annTopKIvf]]; candidate pairs come from a
    * SKINNY (vec_id, cell) self-join (two longs per pair on the wire),
    * vectors rejoin by uniform vec_id only for the exact verify. The
    * production dial is `nCentroids` ∝ √N (SemDeDup used 50k cells for
    * LAION) so per-cell membership — and with it both the pair volume
    * and the per-task work of the cell-keyed join — stays bounded as
    * the corpus grows; kmeans-refined centroids drop in via
    * [[kmeansCentroids]] unchanged. Zero-norm vectors are excluded up
    * front (cosine undefined). */
  def semDeDup(embeddings: DataFrame, nCentroids: Int, threshold: Double): DataFrame = {
    val n = withNorms(embeddings).filter(col("nrm") > 0)
    val cents = n.filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cnrm"))
    val assigned = n.crossJoin(broadcast(centroidArray(cents)))
      .withColumn("aff", affSorted)
      .select(col("vec_id"), col("v"), col("nrm"),
        try_element_at(col("aff"), lit(1)).getField("c_id").as("cell"))
      .filter(col("cell").isNotNull)
    val skinny = assigned.select(col("vec_id"), col("cell"))
    val candidates = skinny.select(col("vec_id").as("d1"), col("cell").as("c1"))
      .join(skinny.select(col("vec_id").as("d2"), col("cell").as("c2")),
        col("c1") === col("c2") && col("d1") < col("d2"))
      .select(col("c1").as("cell"), col("d1"), col("d2"))
    // greedy min-id canonicalization: d2 is dropped when ANY lower-id
    // cell-mate is within threshold (the distinct collapses multiple
    // witnesses); every vector lives in exactly one cell, so a drop
    // decision is made once
    val dropped = candidates
      .join(assigned.select(col("vec_id").as("d1"), col("v").as("v1"), col("nrm").as("n1")), "d1")
      .join(assigned.select(col("vec_id").as("d2"), col("v").as("v2"), col("nrm").as("n2")), "d2")
      .filter(round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6) >= threshold)
      .select(col("cell"), col("d2")).distinct()
    assigned.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
      .join(dropped.groupBy("cell").agg(count(lit(1)).as("n_dropped")), Seq("cell"), "left")
      .select(col("cell").as("c_id"), col("n_vecs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_vecs") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
      .orderBy("c_id")
  }

  /** ANN via LSH buckets: shuffle on bucket key, local top-k per bucket,
    * then global top-k per query over surviving candidates. Recall vs
    * the brute path is checked in VectorOpsSpec. */
  def annTopKLsh(embeddings: DataFrame, queryPred: Column, k: Int, dim: Int, bits: Int): DataFrame = {
    val n = withNorms(embeddings).withColumn("bucket", lshBucket(col("v"), dim, bits))
    val q = n.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"),
        col("bucket").as("q_bucket"))
    val scored = n.join(broadcast(q),
      col("bucket") === col("q_bucket") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6).as("score"))
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .orderBy("q_id", "rnk")
  }

  /** Product-quantization ANN — the billion-vector memory tier (64
    * dims become `m` small codes; queries score against an m×`codes`
    * lookup table instead of raw vectors) — in EXACT integer
    * arithmetic end to end so the whole pipeline (codebook training
    * included) is reproducible bit-for-bit by an independent engine:
    *
    *  1. milli-quantize, split each vector into `m` subvectors
    *     row-locally;
    *  2. codebook init = subvectors of the first `codes` vectors, then
    *     `iters` Lloyd rounds: assignment = argmin exact squared
    *     distance against the BROADCAST codebook (ties to the lowest
    *     code id), centroid update = per-dimension integer mean
    *     (round-half-away via sign·((2·abs+n) div 2n)), empty cells
    *     keep their previous centroid. Per round: one corpus scan +
    *     one map-combined argmin shuffle — the 100 TB k-means shape
    *     (at real scale you train on a sample; the shape is the same);
    *  3. ADC query scoring: the per-(query, subspace, code) distance
    *     table is nq·m·`codes` rows — corpus codes join it BROADCAST
    *     and sum `m` lookups per (query, vector). The corpus is
    *     scanned, never shuffled wider than the (q_id, vec_id) rollup.
    *
    * Output: (q_id, neighbor_id, dist, rnk), dist the exact integer
    * ADC distance, top-`k` per query by (dist, neighbor_id).
    */
  def annTopKPq(embeddings: DataFrame, queryPred: Column, k: Int,
      m: Int = 8, codes: Int = 16, iters: Int = 2): DataFrame = {
    val s = embeddings.sparkSession
    val sub = 64 / m
    val q = milliQuantized(embeddings)
    val sv = pqSplit(q, m, sub)
    val cb = pqTrain(s, sv, codes, iters)
    val cbDf = pqCodebookDf(s, cb)
    val corpusCodes = pqAssign(sv, cb).select("vec_id", "m", "code")
    val queries = sv.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("m"), col("sv").as("qsv"))
    val qd = queries.join(cbDf, "m")
      .withColumn("qd", l2sq(col("qsv"), col("cv")))
      .select("q_id", "m", "code", "qd")
    val adc = corpusCodes.join(broadcast(qd), Seq("m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id").agg(sum("qd").as("dist"))
    val w = Window.partitionBy("q_id").orderBy(col("dist"), col("vec_id"))
    adc.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("dist"), col("rnk"))
      .orderBy("q_id", "rnk")
  }

  /** (vec_id, q): the corpus in exact milli-quantized integer space —
    * the shared entry point of the PQ family. */
  private def milliQuantized(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))").as("q"))

  /** Row-local subvector split: (vec_id, q) → (vec_id, m, sv). */
  private def pqSplit(q: DataFrame, m: Int, sub: Int): DataFrame =
    q.select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${m - 1}), mi -> struct(CAST(mi AS BIGINT) AS m, slice(q, mi * $sub + 1, $sub) AS sv))")).as("e"))
      .select(col("vec_id"), col("e.m").as("m"), col("e.sv").as("sv"))

  /** Broadcastable (m, code, cv) frame of a driver-held codebook. */
  private def pqCodebookDf(s: SparkSession,
      cb: Array[(Long, Long, Array[Long])]): DataFrame =
    broadcast(
      s.createDataFrame(cb.toSeq.map { case (mm, cc, cv) => (mm, cc, cv.toSeq) })
        .toDF("m", "code", "cv"))

  /** Exact integer squared L2, driver-local — the identical
    * Math.*Exact sequence as [[graft.functions.ArrL2Sq]], so local and
    * distributed argmins agree bit-for-bit (and overflow throws). */
  private def l2sqLocal(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L
    var i = 0
    while (i < a.length) {
      val d = Math.subtractExact(a(i), b(i))
      s = Math.addExact(s, Math.multiplyExact(d, d))
      i += 1
    }
    s
  }

  /** Argmin code per (vec_id, subspace) against the driver-held
    * codebook — exact integer squared distance, ties to the lowest
    * code id. r13: a typed row-local loop over the broadcast codebook
    * (the assignCellsLocal pattern). The former declarative form
    * (explode-join to n·m·codes rows + min(struct(d, code))) planned
    * as a SORTAGGREGATE — structs are not hash-buffer-eligible — and
    * sorted a 128×-expanded corpus on every training round and every
    * bulk assignment. Row-local argmin is one narrow pass, no join,
    * no aggregate, and the codes-sorted strict `<` keeps the same
    * lowest-code tie rule. */
  private def pqAssign(sv: DataFrame,
      cb: Array[(Long, Long, Array[Long])]): DataFrame = {
    val s = sv.sparkSession
    import s.implicits._
    val byM: Map[Long, Array[(Long, Array[Long])]] =
      cb.groupBy(_._1).map { case (mm, rows) =>
        mm -> rows.map(r => (r._2, r._3)).sortBy(_._1)
      }
    val bc = s.sparkContext.broadcast(byM)
    sv.select(col("vec_id"), col("m"), col("sv"))
      .as[(Long, Long, Array[Long])]
      .mapPartitions { it =>
        val cbv = bc.value
        it.map { case (id, mm, v) =>
          // name the invariant instead of surfacing a bare
          // NoSuchElementException from an executor task (r13 advice)
          val codes = cbv.getOrElse(mm,
            sys.error(s"pqAssign: no codebook for subspace $mm"))
          var best = Long.MaxValue
          var bestCode = Long.MaxValue
          var i = 0
          while (i < codes.length) {
            val d = l2sqLocal(v, codes(i)._2)
            if (d < best) { best = d; bestCode = codes(i)._1 }
            i += 1
          }
          require(bestCode != Long.MaxValue,
            s"pqAssign: empty codebook for subspace $mm")
          (id, mm, bestCode, v)
        }
      }
      .toDF("vec_id", "m", "code", "sv")
  }

  /** Integer Lloyd codebook training over a (vec_id, m, sv) relation:
    * init = the first `codes` vectors' subvectors, then `iters` rounds
    * of broadcast-argmin assignment + round-half-away integer centroid
    * means (empty cells keep their previous centroid). The codebook
    * lives on the driver by contract (m·codes rows — the
    * kmeansCentroids bounded-collect rationale); the corpus-sized
    * work stays distributed: one scan + one map-combined shuffle per
    * round. */
  private def pqTrain(s: SparkSession, sv: DataFrame, codes: Int,
      iters: Int): Array[(Long, Long, Array[Long])] = {
    var cb: Array[(Long, Long, Array[Long])] = sv.filter(col("vec_id") < codes)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getSeq[Long](2).toArray))
    (1 to iters).foreach { _ =>
      val upd = pqAssign(sv, cb)
        .select(col("m"), col("code"), posexplode(col("sv")).as(Seq("i0", "x")))
        .groupBy("m", "code", "i0").agg(sum("x").as("sx"), count(lit(1)).as("n"))
        .collect()
      val byKey = upd.groupBy(r => (r.getLong(0), r.getLong(1)))
      cb = cb.map { case (mm, cc, old) =>
        byKey.get((mm, cc)).fold((mm, cc, old)) { rows =>
          val cv = old.clone()
          rows.foreach { r =>
            val (i0, sx, n) = (r.getInt(2), r.getLong(3), r.getLong(4))
            cv(i0) = math.signum(sx) * ((2L * math.abs(sx) + n) / (2L * n))
          }
          (mm, cc, cv)
        }
      }
    }
    cb
  }

  /** IVF-PQ — the production billion-vector composition (FAISS's
    * IVFPQ): a coarse quantizer routes every vector to one of `kc`
    * cells, PQ codes the RESIDUAL (vector − cell centroid), and
    * queries scan only their `nProbe` nearest cells with a per-cell
    * residual lookup table. Exact integer end to end like
    * [[annTopKPq]] — the coarse quantizer IS integer PQ with a single
    * full-width subspace, so both quantizers share [[pqTrain]]/
    * [[pqAssign]] and the oracle unrolls both.
    *
    * Scale shape: cell assignment and residuals are row-local against
    * broadcast centroids; the ADC join keys on (cell, m, code), so a
    * query's lookup table only ever meets the codes of its probed
    * cells — the IVF pruning happens IN the join key, not as a
    * post-filter.
    *
    * Output: (q_id, neighbor_id, dist, rnk) — top-`k` by exact ADC
    * residual distance among the probed cells' members.
    */
  def annTopKIvfPq(embeddings: DataFrame, queryPred: Column, k: Int,
      kc: Int = 8, coarseIters: Int = 2, m: Int = 8, codes: Int = 16,
      pqIters: Int = 2, nProbe: Int = 2): DataFrame = {
    val (cent, cbrDf, codesDf) =
      ivfPqTrainAssign(embeddings, kc, coarseIters, m, codes, pqIters)
    ivfPqProbe(embeddings, cent, cbrDf, codesDf, queryPred, k, m, nProbe)
  }

  /** The BUILD side of IVF-PQ, split out (r13) so the index artifacts
    * can persist (IndexStore) and every later query pays only the
    * probe: trains both quantizers and codes the corpus. Returns
    * (cent: (cell, ccv), codebook: (m, code, cv), codes: (vec_id, m,
    * code, cell)) — cent/codebook are driver-bounded (kc / m·codes
    * rows), codes is corpus-sized. */
  private[graft] def ivfPqTrainAssign(embeddings: DataFrame, kc: Int,
      coarseIters: Int, m: Int, codes: Int, pqIters: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val s = embeddings.sparkSession
    val sub = 64 / m
    val q = milliQuantized(embeddings)
    // coarse quantizer: one full-width subspace
    val svc = pqSplit(q, 1, 64)
    val cbc = pqTrain(s, svc, kc, coarseIters)
    val cells = pqAssign(svc, cbc).select(col("vec_id"), col("code").as("cell"))
    val cent = pqCodebookDf(s, cbc).select(col("code").as("cell"), col("cv").as("ccv"))
    // residuals row-local against the broadcast centroid map
    val resid = q.join(cells, "vec_id").join(broadcast(cent), "cell")
      .select(col("vec_id"), expr("zip_with(q, ccv, (a, b) -> a - b)").as("q"))
    val svr = pqSplit(resid, m, sub)
    val cbr = pqTrain(s, svr, codes, pqIters)
    val cbrDf = pqCodebookDf(s, cbr)
    val codesDf = pqAssign(svr, cbr).select("vec_id", "m", "code")
      .join(cells, "vec_id")
    (cent, cbrDf, codesDf)
  }

  /** The PROBE side: rank cells by exact coarse distance, probe
    * `nProbe`, score members via the broadcast per-query residual LUT.
    * `cent`/`cbrDf`/`codesDf` may come fresh from [[ivfPqTrainAssign]]
    * or from their persisted parquet form — explicit broadcast() hints
    * here keep the plan identical either way. */
  private[graft] def ivfPqProbe(embeddings: DataFrame, cent: DataFrame,
      cbrDf: DataFrame, codesDf: DataFrame, queryPred: Column, k: Int,
      m: Int, nProbe: Int): DataFrame = {
    val sub = 64 / m
    val q = milliQuantized(embeddings)
    // query side: rank cells by exact coarse distance, probe nProbe
    val qset = q.filter(queryPred).select(col("vec_id").as("q_id"), col("q"))
    val qcell = qset.crossJoin(broadcast(cent))
      .select(col("q_id"), col("cell"), col("q"), col("ccv"),
        l2sq(col("q"), col("ccv")).as("cd"))
    val wp = Window.partitionBy("q_id").orderBy(col("cd"), col("cell"))
    val probed = qcell.withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nProbe)
      .select(col("q_id"), col("cell"),
        expr("zip_with(q, ccv, (a, b) -> a - b)").as("q"))
    val qsv = probed.select(col("q_id"), col("cell"), explode(expr(
        s"transform(sequence(0, ${m - 1}), mi -> struct(CAST(mi AS BIGINT) AS m, slice(q, mi * $sub + 1, $sub) AS sv))")).as("e"))
      .select(col("q_id"), col("cell"), col("e.m").as("m"), col("e.sv").as("qsv"))
    val lut = qsv.join(broadcast(cbrDf), "m")
      .withColumn("qd", l2sq(col("qsv"), col("cv")))
      .select("q_id", "cell", "m", "code", "qd")
    val adc = codesDf.join(broadcast(lut), Seq("cell", "m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id").agg(sum("qd").as("dist"))
    val w = Window.partitionBy("q_id").orderBy(col("dist"), col("vec_id"))
    adc.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("dist"), col("rnk"))
      .orderBy("q_id", "rnk")
  }

  /** Dominant principal component by power iteration, in EXACT integer
    * arithmetic end to end so an independent engine reproduces it
    * bit-for-bit (no float matvec to drift):
    *
    *  1. quantize to milli-units, center on integer-rounded means
    *     (one d-row aggregate, inlined as literals);
    *  2. exact centered second-moment matrix: row-local upper-triangle
    *     products, ONE map-combined shuffle to d(d+1)/2 keys — the
    *     embed_covariance shape, corpus-size-independent exchange;
    *  3. `iters` rounds of BigInt matvec on the DRIVER (the matrix is
    *     d×d — bounded by contract like kmeans centroids; at 100 TB the
    *     expensive parts stay distributed and this stays 64×64), each
    *     round renormalized to max-abs 1e6 by sign·(abs·1e6 div max) —
    *     trunc==floor on the non-negative operand, so Spark BigInt and
    *     any floor-division SQL engine agree;
    *  4. sign-canonicalize (largest-|component|, ties to low index,
    *     made positive), Rayleigh quotient as the eigenvalue estimate;
    *  5. project the corpus onto the component — a scan with the
    *     vector INLINED as literals (no join), top-`topK` by |proj|.
    *
    * Output rows (kind, idx, value), all-long values:
    * ('lambda', 0, λ in milli-units²), ('load', i, v_i per-million),
    * ('proj', vec_id, exact integer projection) — ordered by kind, idx.
    */
  def pcaTopComponent(embeddings: DataFrame, iters: Int, topK: Int): DataFrame = {
    val s = embeddings.sparkSession
    val d = 64
    val q = embeddings.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))").as("q"))
    // pass 1: per-dimension integer means (round-half-away-from-zero,
    // via the sign/abs idiom shared with every engine)
    val muRows = q.select(posexplode(col("q")).as(Seq("i0", "xi")))
      .groupBy("i0").agg(sum("xi").as("sx"), count(lit(1)).as("n"))
      .collect()
    require(muRows.length == d, s"expected $d dims, got ${muRows.length}")
    val mu = Array.ofDim[Long](d)
    muRows.foreach { r =>
      val (sx, n) = (r.getLong(1), r.getLong(2))
      mu(r.getInt(0)) = math.signum(sx) * ((2L * math.abs(sx) + n) / (2L * n))
    }
    val muSql = mu.mkString("array(", ",", ")")
    val qc = q.selectExpr("vec_id",
      s"transform(q, (x, i) -> x - element_at(CAST($muSql AS ARRAY<BIGINT>), i + 1)) AS qc")
    // pass 2: exact centered second-moment upper triangle
    val covRows = qc
      .select(posexplode(col("qc")).as(Seq("i0", "xi")), col("qc"))
      .select(col("i0"), col("xi"),
        posexplode(expr("slice(qc, i0 + 1, size(qc) - i0)")).as(Seq("joff", "xj")))
      .select((col("i0") + 1).as("i"), (col("i0") + col("joff") + 1).as("j"),
        (col("xi") * col("xj")).as("p"))
      .groupBy("i", "j").agg(sum("p").as("c"))
      .collect()
    val cov = Array.ofDim[BigInt](d, d)
    covRows.foreach { r =>
      val (i, j, c) = (r.getInt(0) - 1, r.getInt(1) - 1, BigInt(r.getLong(2)))
      cov(i)(j) = c; cov(j)(i) = c
    }
    // pass 3: BigInt power iteration
    val Scale = BigInt(1000000)
    var v = Array.fill[BigInt](d)(Scale)
    (1 to iters).foreach { _ =>
      val u = Array.tabulate(d)(i => (0 until d).map(j => cov(i)(j) * v(j)).sum)
      val m = u.map(_.abs).max
      v = u.map(ui => BigInt(ui.signum) * (ui.abs * Scale / m))
    }
    val pivot = (0 until d).maxBy(i => (v(i).abs, -i))
    if (v(pivot) < 0) v = v.map(-_)
    val lambda = ((0 until d).flatMap(i => (0 until d).map(j => cov(i)(j) * v(i) * v(j))).sum /
      v.map(x => x * x).sum).toLong
    // pass 4: projections — the component inlined, scan-local native dot
    val proj = qc.select(col("vec_id"),
        dotl(col("qc"), typedLit(v.map(_.toLong).toSeq)).as("p"))
      .orderBy(abs(col("p")).desc, col("vec_id")).limit(topK)
      .select(lit("proj").as("kind"), col("vec_id").as("idx"), col("p").as("value"))
    val head = s.createDataFrame(
      ("lambda", 0L, lambda) +: (0 until d).map(i => ("load", (i + 1).toLong, v(i).toLong)))
      .toDF("kind", "idx", "value")
    head.unionAll(proj).orderBy("kind", "idx")
  }
}
