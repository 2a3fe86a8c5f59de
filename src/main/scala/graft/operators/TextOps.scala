package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text/dedup operators shared by the query pack (SURVEY.md §2 B-block).
  * Hash primitives are md5-substring based so the DuckDB oracles can
  * mirror them bit-for-bit; the scale path swaps in the native
  * [[graft.functions.FnvHash64]] expression (one pass, no hex strings).
  */
object TextOps {

  val SimHashBits = 48 // md5-substring hashes are 48-bit so votes/shifts stay in exact long range

  /** 48-bit token hash, identical to the oracle's
    * CAST(('0x'||substr(md5(tok),1,12)) AS BIGINT). */
  def tokenHash48(tok: Column): Column =
    conv(substring(md5(tok), 1, 12), 16, 10).cast("long")

  /** SimHash over the distinct token set of each document: per-bit ±1
    * votes from each token's hash, sign of the vote becomes the bit.
    * One explode + one partial-aggregated groupBy; the 48 conditional
    * sums stay inside whole-stage codegen. */
  def simHash(docs: DataFrame, idCol: String, tokensCol: String): DataFrame = {
    val votes = (0 until SimHashBits).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$i")
    }
    val sig = (0 until SimHashBits)
      .map(i => when(col(s"v$i") > 0, lit(1L << i)).otherwise(0L))
      .reduce(_ + _)
    docs
      .select(col(idCol), explode(array_distinct(col(tokensCol))).as("tok"))
      .withColumn("h", tokenHash48(col("tok")))
      .groupBy(idCol)
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol), sig.as("simhash"))
  }

  /** SimHash signatures via the native codegen'd expression
    * ([[graft.functions.SimHash48]], registered as `simhash48` through
    * GraftExtensions) — bit-identical to [[simHash]] (spec-proven) but
    * computed entirely inside the scan stage: no explode, no 48-column
    * aggregation, ZERO shuffle before candidate banding. The path to
    * run at 10^9 documents. */
  def simHashNative(docs: DataFrame, idCol: String, tokensCol: String): DataFrame = {
    graft.GraftExtensions.register(docs.sparkSession)
    docs.selectExpr(s"`$idCol`", s"simhash48(`$tokensCol`) AS simhash")
      // token-less docs have no signature on either path: the
      // declarative explode emits no row, the native expression null —
      // drop them so the two stay row-identical
      .filter(col("simhash").isNotNull)
  }

  /** Candidate pairs within `maxHamming` of each other, via pigeonhole
    * banding: split the 48-bit signature into maxHamming+1 chunks — if
    * two signatures differ in ≤ maxHamming bits, at least one chunk is
    * bit-identical (pigeonhole), so bucketing on (chunk_idx, chunk_value)
    * and equi-joining finds every qualifying pair while shuffling only
    * (id, chunk) rows. Round 1 generated candidates with an all-pairs
    * theta join — O(N²) at corpus scale; this is the scale-safe shape
    * (same output, verified against the unchanged DuckDB oracle).
    * Hot chunk values (skewed buckets) are split by AQE skew-join;
    * `maxBucket` additionally DROPS degenerate buckets outright — a
    * bucket shared by more than `maxBucket` documents contributes
    * O(bucket²) candidate pairs while carrying almost no signal (a
    * chunk value that common doesn't discriminate), so production LSH
    * dedup caps it. Capped buckets can lose pairs by design; leave the
    * default for exact pigeonhole semantics.
    * A pair colliding in several chunks emits duplicates → distinct. */
  def simHashPairs(
      sig: DataFrame, idCol: String, sigCol: String, maxHamming: Int,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val nChunks = maxHamming + 1
    val chunkBits = (SimHashBits + nChunks - 1) / nChunks
    val chunks = sig.select(col(idCol).as("pid"), col(sigCol).as("psig"),
      posexplode(array((0 until nChunks).map(c =>
        shiftright(col(sigCol), c * chunkBits).bitwiseAND((1L << chunkBits) - 1)): _*))
        .as(Seq("chunk", "ckey")))
    val bounded =
      if (maxBucket == Int.MaxValue) chunks
      else {
        // count per bucket with a partial-agg pass; the join back is on
        // the same (chunk, ckey) keys so it reuses the hash exchange
        val sizes = chunks.groupBy("chunk", "ckey").agg(count(lit(1)).as("bsize"))
          .filter(col("bsize") <= maxBucket)
          .select("chunk", "ckey")
        chunks.join(sizes, Seq("chunk", "ckey"), "left_semi")
      }
    bounded.as("a").join(bounded.as("b"),
      col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") &&
        col("a.pid") < col("b.pid"))
      .select(col("a.pid").as("d1"), col("b.pid").as("d2"),
        bit_count(col("a.psig").bitwiseXOR(col("b.psig"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Matching oracle SQL for [[simHash]], given a CTE named `corpus`
    * with (doc_id, text) — emits per-doc 48-bit simhash. */
  def simHashSql: String = {
    val votes = (0 until SimHashBits)
      .map(i => s"SUM(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i")
      .mkString(",\n      ")
    val sig = (0 until SimHashBits)
      .map(i => s"(CASE WHEN v$i > 0 THEN CAST(1 AS BIGINT) << $i ELSE 0 END)")
      .mkString(" + ")
    s"""votes AS (
       |  SELECT doc_id,
       |      $votes
       |  FROM (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) AS h
       |        FROM (SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |              FROM corpus) t)
       |  GROUP BY doc_id),
       |sig AS (SELECT doc_id, $sig AS simhash FROM votes)""".stripMargin
  }

  /** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003 — the MOSS scheme): hash every char k-gram with a
    * polynomial base-31 hash mod 1000003 (exact long arithmetic — max
    * term is codepoint·31^(k-1), so k ≤ 9 stays inside long range),
    * slide a window of w consecutive hashes, select each window's
    * minimum (rightmost position on ties). Returns the selected set
    * `(idCol, selpos, fp)` — selpos is the 1-based gram position.
    *
    * Guarantee (WinnowingSpec): two docs sharing a substring of length
    * ≥ k + w - 1 share at least one fingerprint value, while between
    * ⌈(L-w+1)/w⌉ and L-w+1 of a doc's L grams are kept.
    *
    * Scale: the char array is a materialized column BEFORE the
    * transform lambda (the split-in-lambda quadratic lesson); only the
    * LONG hash explodes, never gram strings (the 25×-explode lesson);
    * window expansion is a constant-w offset explode grouped on the
    * high-cardinality (doc, window-start) key — partial-agg combines,
    * no per-doc windows, no broadcast. */
  def winnow(docs: DataFrame, idCol: String, textCol: String,
             k: Int = 6, w: Int = 4): DataFrame = {
    require(k >= 2 && k <= 9, s"k=$k outside exact-long-hash range [2,9]")
    require(w >= 2, s"w=$w: winnowing needs a window of at least 2")
    val poly = (0 until k)
      .map(j => s"ascii(c[i+$j]) * ${BigInt(31).pow(k - 1 - j)}L")
      .mkString("(", " + ", s") % 1000003L")
    val base = docs
      .filter(length(col(textCol)) >= k + w - 1)
      .select(col(idCol), (length(col(textCol)) - (k - 1)).cast("long").as("L"),
        split(col(textCol), "").as("c"))
    val hs = base
      .select(col(idCol), col("L"),
        posexplode(expr(s"transform(sequence(0, size(c) - $k), i -> $poly)"))
          .as(Seq("p0", "h")))
      .select(col(idCol), col("L"), (col("p0") + 1).cast("long").as("pos"), col("h"))
    val wexp = hs
      .select(col(idCol), col("L"), col("pos"), col("h"),
        explode(expr(s"sequence(0, ${w - 1})")).as("off"))
      .select(col(idCol), (col("pos") - col("off")).as("ws"), col("pos"), col("h"), col("L"))
      .filter(col("ws") >= 1 && col("ws") <= col("L") - (w - 1))
    val wm = wexp.groupBy(idCol, "ws").agg(min("h").as("wmin"))
    wexp.join(wm, Seq(idCol, "ws"))
      .filter(col("h") === col("wmin"))
      .groupBy(idCol, "ws").agg(max("pos").as("selpos"), max("wmin").as("fp"))
      .select(col(idCol), col("selpos"), col("fp")).distinct()
  }

  /** Winnowing via the native codegen'd expression
    * ([[graft.functions.WinnowFps]], registered as `winnow_fps`
    * through GraftExtensions) — row-identical to [[winnow]]
    * (WinnowNativeSpec pins it) but selected entirely inside the scan
    * stage: no char-array materialization, no w× window expansion, no
    * pre-selection shuffle. Only the ~2/(w+1)-density fingerprint
    * stream ever reaches an exchange — the 10^9-document path
    * (17.7 → sub-second selection at sf0.1). Short texts
    * (< k+w-1 codepoints) produce a null set that `explode` drops,
    * matching the declarative filter. */
  def winnowNative(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 6, w: Int = 4): DataFrame = {
    graft.GraftExtensions.register(docs.sparkSession)
    docs
      .selectExpr(s"`$idCol`", s"explode(winnow_fps(`$textCol`, $k, $w)) AS pk")
      .select(col(idCol), shiftright(col("pk"), 20).as("selpos"),
        col("pk").bitwiseAND(lit((1L << 20) - 1)).as("fp"))
  }

  /** Byte-pair-encoding merge training over a corpus — the tokenizer
    * step of a training-data pipeline, done the way production BPE
    * trainers do it: the corpus is scanned ONCE into a (word, freq)
    * relation, and every merge round runs over that vocab-sized
    * relation (pair counting weights by word frequency), never over
    * the raw text again. Words are lowercase `[a-z]+` runs, so merged
    * symbols can live as single chars at codepoints 0x100+round
    * without colliding with any input symbol; a pair is then always
    * exactly two chars and `replace`'s left-to-right non-overlapping
    * greedy application — identical in Spark and ANSI SQL — is the
    * classic BPE merge.
    *
    * Per round: one map-combined pair-count aggregate over the vocab,
    * a deterministic 1-ROW collect of the argmax pair (count DESC,
    * pair ASC — the bounded-collect contract, same as
    * kmeansCentroids' k rows: the driver must know the pair to plan
    * the next round), then a row-local rewrite of the vocab.
    * Lineage truncated per round. Returns (round, pair, cnt) — the
    * learned merge table, `rounds` rows (fewer if the vocab runs out
    * of repeated pairs).
    */
  /** Distributed suffix-array construction by PREFIX DOUBLING
    * (Manber–Myers / the Karp–Miller–Rosenberg scheme): round k knows
    * each suffix's rank by its first 2^k characters; round k+1 ranks
    * the pair (rank(i), rank(i+2^k)) — lexicographic order of the
    * first 2^(k+1) characters — so the full order resolves in
    * ceil(log2 L) rounds of JOIN + DENSE-RANK instead of comparing
    * O(L * L) characters. This is the pointer-doubling idea applied
    * to string ordering, and the building block of
    * suffix-array-based exact-substring dedup (Lee
    * et al. 2022 build theirs single-node; the doubling form is how
    * it distributes).
    *
    * Per round: rank(i+k) arrives by a pos-keyed self-join (out-of-
    * range = -1, which sorts before every real rank — exactly the
    * shorter-suffix-first rule); the pair relation is DISTINCTed
    * (<= L rows) and densely renumbered with
    * [[ShardedWindow.rowNumber]] over shard `rank div 64` — a
    * range-style two-phase global numbering, never a one-task sort;
    * ranks join back on the pair. Early-stops the moment all ranks
    * are distinct; lineage truncated per round.
    *
    * Input: ONE row with the text in `txtCol` (ASCII — initial ranks
    * are `ascii()` codepoints, which agree with byte order there).
    * Output: (pos, sa_rank) — 1-based lexicographic rank per 0-based
    * suffix start. */
  def suffixArrayRanks(str: DataFrame, txtCol: String, maxIter: Int = 40): DataFrame = {
    // Initial ranks pack the first EIGHT characters base-128 (128^8 =
    // 2^56, inside long; lexicographic for the ASCII input contract;
    // an absent character packs 0 — exactly the shorter-suffix-first
    // rule), so the loop starts with 8-character context instead of 1.
    // On natural-language text most 8-grams are already distinct, so
    // the early-stop usually fires after 0–1 materialized rounds —
    // the r10 bench regression was 12 driver-synchronized rounds of
    // fixed job overhead at demo scale, not data volume.
    val packed = (1 to 8)
      .map(i => ascii(expr(s"substring(txt, p0 + $i, 1)")).cast("long"))
      .reduceLeft((acc, c) => acc * 128L + c)
    // No checkpoint on the seed frame: it is a trivial explode over the
    // caller's (checkpointed) one-row string — each of the handful of
    // scans below recomputes in ~0.1 s where the materialization itself
    // cost ~0.4 s at bench scale. Callers own making `str` a cheap read.
    val base = str.select(col(txtCol).as("txt"))
      // empty-string guard: sequence(0, -1) DESCENDS (the §5 trap) and
      // would fabricate positions 0 and -1 for a zero-length input
      .filter(length(col("txt")) > 0)
    // ONE tiny job (r14; was two — an isEmpty over the guard filter
    // plus a count() that re-ran the position explode) fetches both
    // the ASCII-contract flag and the suffix count from the un-exploded
    // input row(s): n = Σ length(txt), and the guard stays LOUD (r11
    // advice) — ascii() returns the full codepoint, so any char ≥ 128
    // carries into the next base-128 digit and silently corrupts the
    // seed order (and NUL would tie with the absent-char 0).
    val meta = base.select(length(col("txt")).cast("long").as("len"),
      col("txt").rlike("[^\\x01-\\x7f]").as("non_ascii")).collect()
    require(!meta.exists(_.getBoolean(1)),
      s"suffixArrayRanks: input column '$txtCol' contains codepoints outside " +
        "1..127; base-128 packed seeding is only lexicographic for ASCII")
    var r = base
      .select(explode(sequence(lit(0), length(col("txt")) - 1)).as("p0"), col("txt"))
      .select(col("p0").cast("long").as("pos"), packed.as("rank"))
    val n = meta.map(_.getLong(0)).sum

    // One doubling step: rank the (rank(i), rank(i+kk)) pairs — ranks
    // need only be ORDER-ISOMORPHIC integers between rounds, dense
    // 1..m is what the per-step renumbering happens to produce.
    def step(cur: DataFrame, kk: Long): DataFrame = {
      val shifted = cur.select((col("pos") - kk).as("pos"), col("rank").as("rank2"))
        .filter(col("pos") >= 0)
      val paired = cur.join(shifted, Seq("pos"), "left")
        .select(col("pos"), col("rank"), coalesce(col("rank2"), lit(-1L)).as("rank2"))
      val pairs = paired.select("rank", "rank2").distinct()
      val ranked = ShardedWindow.rowNumber(pairs, Seq.empty, expr("rank div 64"),
        Seq(col("rank"), col("rank2")), "new_rank")
      paired.join(ranked, Seq("rank", "rank2"))
        .select(col("pos"), col("new_rank").as("rank"))
    }

    var k = 8L
    var iter = 0
    var roundRan = false
    var done = r.select(countDistinct("rank")).head.getLong(0) == n
    while (!done && k < n) {
      iter += 1
      require(iter <= maxIter, s"suffixArrayRanks did not converge in $maxIter rounds")
      // QUADRUPLING (the pointer-loop lesson): two steps per materialized
      // round — the intermediate recomputes inside the round's single
      // job, halving the dominant per-round fixed cost at bench scale.
      val next = step(step(r, k), 2 * k).localCheckpoint()
      r.unpersist()
      r = next
      roundRan = true
      k *= 4
      done = r.select(countDistinct("rank")).head.getLong(0) == n
    }
    // Every round's renumbering already emits DENSE 1..m ranks, so the
    // loop's last output satisfies the 1..n contract directly. Only
    // the round-free exits — 8-gram seeds already unique, or k ≥ n at
    // entry — still hold raw packed codes (a latent leak in the 1-char
    // seed form too, for all-distinct-character inputs) and need the
    // one extra two-phase renumber.
    if (roundRan) r.select(col("pos"), col("rank").as("sa_rank"))
    else ShardedWindow.rowNumber(r, Seq.empty, expr("rank div 64"),
        Seq(col("rank")), "sa_rank")
      .select(col("pos"), col("sa_rank"))
  }

  def bpeMerges(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val s = docs.sparkSession
    var wf = docs
      .select(explode(expr(s"regexp_extract_all(lower(`$textCol`), '[a-z]+', 0)")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .localCheckpoint()
    val merges = scala.collection.mutable.Buffer[(Long, String, Long)]()
    var r = 1
    var dry = false
    while (r <= rounds && !dry) {
      // sequence(1, len-1) needs the >=2 guard: Spark's sequence
      // DESCENDS for start > stop (len 1 would yield positions [1,0])
      val top = wf.filter(length(col("w")) >= 2)
        .select(col("f"), explode(
          expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
        .groupBy("pair").agg(sum("f").as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(1)
        .collect()
      if (top.isEmpty) dry = true
      else {
        val (pair, cnt) = (top(0).getString(0), top(0).getLong(1))
        merges += ((r.toLong, pair, cnt))
        val next = wf
          .withColumn("w", replace(col("w"), lit(pair), lit((256 + r).toChar.toString)))
          .localCheckpoint()
        wf.unpersist()
        wf = next
        r += 1
      }
    }
    wf.unpersist()
    import s.implicits._
    merges.toSeq.toDF("round", "pair", "cnt")
  }
}
