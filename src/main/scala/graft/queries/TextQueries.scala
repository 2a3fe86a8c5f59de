package graft.queries

import graft.{GraftExtensions, Tables}
import graft.operators.{ShardedWindow, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text-analysis + dedup coverage (SURVEY.md §2 B-block) over
  * `documents`. The corpus has no exact duplicates, so dedup demos run
  * on a doubled corpus (each text twice under different doc_ids) —
  * deterministic and identical on both engines.
  *
  * All tokenization is `\s+` splitting of `trim(text)`; both engines
  * use the same regexes (Java regex vs RE2 agree on these patterns).
  */
object TextQueries {

  /** Tokens of a document, as both engines see them. */
  private def toks(c: Column): Column = split(trim(c), "\\s+")

  /** The d=4 CMS hash rows (j, a_j, b_j) shared by the Spark build and
    * the DuckDB oracle of `text_cms_topk`. Declared ahead of the query
    * map that closes over it (object-init order). */
  private val CmsHashes = Seq((0L, 3L, 7L), (1L, 5L, 11L), (2L, 17L, 23L), (3L, 29L, 41L))

  /** DuckDB SQL for `text_term_communities`: identical mirrored
    * co-occurrence edges and `iters` unrolled synchronous vote rounds
    * (argmax by weight sum, ties to the smallest label, isolated
    * nodes carry). Declared before the query map (object-init order,
    * the CmsHashes lesson) as a def. */
  private def lpaOracleSql(iters: Int): String = {
    val rounds = (1 to iters).map { r =>
      s"""v$r AS (SELECT e.src, l.label AS cand, CAST(SUM(e.w) AS BIGINT) AS wsum
         |        FROM e JOIN l${r - 1} l ON e.dst = l.node GROUP BY 1, 2),
         |t$r AS (SELECT src, cand FROM (
         |          SELECT src, cand,
         |            ROW_NUMBER() OVER (PARTITION BY src ORDER BY wsum DESC, cand) AS rn
         |          FROM v$r) q WHERE rn = 1),
         |l$r AS MATERIALIZED (
         |  SELECT l.node, COALESCE(t.cand, l.label) AS label
         |  FROM l${r - 1} l LEFT JOIN t$r t ON l.node = t.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH t AS (SELECT regexp_split_to_array(trim(text), '\\s+') AS t
       |           FROM documents WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 2),
       |bg AS (SELECT t[CAST(s.i AS INT)] AS w1, t[CAST(s.i AS INT) + 1] AS w2
       |       FROM (SELECT t, unnest(range(1, len(t))) AS i FROM t) s(t, i)),
       |bic AS (SELECT w1, w2, COUNT(*) AS c FROM bg WHERE w1 <> w2 GROUP BY 1, 2),
       |e AS MATERIALIZED (
       |  SELECT src, dst, CAST(SUM(c) AS BIGINT) AS w FROM (
       |    SELECT w1 AS src, w2 AS dst, c FROM bic
       |    UNION ALL
       |    SELECT w2 AS src, w1 AS dst, c FROM bic) u
       |  GROUP BY 1, 2),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
       |$rounds,
       |sz AS (SELECT label AS s_label, COUNT(*) AS community_size FROM l$iters GROUP BY 1)
       |SELECT node AS term, label AS community,
       |       CAST(community_size AS BIGINT) AS community_size
       |FROM l$iters JOIN sz ON label = s_label
       |ORDER BY term""".stripMargin
  }

  /** Token COUNT without materializing the array: #separator-runs + 1
    * on the trimmed text ≡ size(toks(c)) for every input (incl. empty:
    * split("") is [""], count 1 = 0 + 1), but skips the ~n_tokens
    * UTF8String allocations per document — at 5 M docs the difference
    * is most of a corpus pass. Use wherever only the count is needed;
    * oracles keep computing len(regexp_split_to_array(...)). */
  private def tokCount(c: Column): Column =
    (regexp_count(trim(c), lit("\\s+")) + 1).cast("long")

  // language stopword lexicons — single source for text_langid and
  // corpus_select on both engines
  private val LangRegex = Seq(
    "en" -> "\\b(the|and|of|to|in|is)\\b",
    "es" -> "\\b(el|la|de|los|que|y)\\b",
    "de" -> "\\b(der|die|und|das|ist|nicht)\\b",
    "fr" -> "\\b(le|les|des|et|est|une)\\b")

  /** Deterministic argmax language from the stopword scores. */
  private def langPredicted(text: Column): Column = {
    val s = LangRegex.map { case (l, re) => l -> regexp_count(text, lit(re)) }.toMap
    when(s("en") >= s("es") && s("en") >= s("de") && s("en") >= s("fr") && s("en") > 0, "en")
      .when(s("es") >= s("de") && s("es") >= s("fr") && s("es") > 0, "es")
      .when(s("de") >= s("fr") && s("de") > 0, "de")
      .when(s("fr") > 0, "fr")
      .otherwise("unk")
  }

  /** DuckDB equivalent of [[langPredicted]] over column `tcol`. */
  private def langPredictedSql(tcol: String): String = {
    def n(l: String) =
      s"len(regexp_extract_all($tcol, '${LangRegex.toMap.apply(l)}'))"
    s"""CASE WHEN ${n("en")} >= ${n("es")} AND ${n("en")} >= ${n("de")} AND ${n("en")} >= ${n("fr")} AND ${n("en")} > 0 THEN 'en'
       |     WHEN ${n("es")} >= ${n("de")} AND ${n("es")} >= ${n("fr")} AND ${n("es")} > 0 THEN 'es'
       |     WHEN ${n("de")} >= ${n("fr")} AND ${n("de")} > 0 THEN 'de'
       |     WHEN ${n("fr")} > 0 THEN 'fr'
       |     ELSE 'unk' END""".stripMargin
  }

  /** Doubled corpus (each text twice under doc_id and doc_id+1000),
    * docs under `maxId` — the single source of the dedup-demo corpus
    * construction; the +1000 offset must stay in lockstep everywhere
    * or doc↔cluster join keys silently stop matching. */
  private def doubledCorpus(s: SparkSession, dir: String, maxId: Int): DataFrame = {
    // no filter for the unbounded case — an added doc_id < MaxValue
    // predicate would (unlike the oracle SQL) also drop null doc_ids
    val all = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val base = if (maxId == Int.MaxValue) all else all.filter(col("doc_id") < maxId)
    base.union(base.select((col("doc_id") + 1000).as("doc_id"), col("text")))
  }

  /** Recursive-CTE connected-components closure over a `pairs(d1,d2)`
    * CTE → `canon(doc_id, cluster_id)`. Single source for
    * dedup_clusters and corpus_select (keep in lockstep with
    * [[graft.operators.GraphOps.connectedComponents]]). */
  private val ccSql: String =
    """bidir AS (SELECT d1 AS a, d2 AS b FROM pairs
      |          UNION ALL SELECT d2, d1 FROM pairs),
      |lab(node, label) AS (
      |  SELECT DISTINCT a AS node, a AS label FROM bidir
      |  UNION
      |  SELECT e.b AS node, l.label FROM lab l JOIN bidir e ON e.a = l.node),
      |canon AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM lab GROUP BY node)""".stripMargin

  /** Probe 3-grams for the decontamination demo (B17) — literal
    * stand-ins for a benchmark's n-gram index; chosen to hit a
    * nontrivial slice of the corpus. */
  private val ProbeShingles = Seq(
    "part filter scan", "row column sort", "stream table hash", "window fast query")

  /** Query terms for the BM25 retrieval demo (B34) — fixed stand-ins
    * for a user query. `dup` is the one rare term in the synthetic
    * vocabulary (df ≈ 5% vs ≈ 78% for the rest), so the idf weighting
    * is visible in the ranking: docs containing it dominate the top. */
  private val Bm25Terms = Seq("dup", "stream", "filter", "window")

  /** BM25 top-20 candidate generation — the scoring pipeline of
    * text_bm25 (B34), factored so the cross-encoder-style rerank (B94)
    * retrieves with the SAME first stage it reranks (retrieval and
    * rerank reading different candidate sets is the classic eval bug).
    * Returns (doc_id, score DESC top-20). One corpus tokenize pass:
    * the tf and df branches share the (doc_id, term) exchange via
    * ReusedExchange (see the inline repartition note). */
  private def bm25Top20(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), toks(col("text")).as("t"),
        tokCount(col("text")).as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_tokens"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("t")).as("term"))
      .filter(col("term").isin(Bm25Terms: _*))
      // one explicit exchange both the tf and df branches hash to
      // byte-identically → ReusedExchange: ONE corpus tokenize +
      // explode pass, not two (the text_ngram_novelty lesson; the
      // (doc_id, term) clustering satisfies the (doc_id, dl, term)
      // grouping as a key subset)
      .repartition(col("doc_id"), col("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term").as("df_term")).agg(count(lit(1)).as("df"))
    val denom = col("tf").cast("double") + lit(1.2) *
      (lit(0.25) + lit(0.75) *
        ((col("dl") * col("n_docs")).cast("double") / col("tot_tokens")))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    tf.join(broadcast(dfreq), col("term") === col("df_term"))
      .crossJoin(broadcast(stats))
      .withColumn("sc",
        round(idf * (lit(2.2) * col("tf") / denom), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
      .groupBy("doc_id")
      .agg(sum("sc").cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  /** DuckDB CTE chain ending in `bm(doc_id, score)` = [[bm25Top20]] —
    * single source for the text_bm25 and text_rerank_cross oracles. */
  private lazy val Bm25CteSql: String =
    s"""d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t,
       |        len(regexp_split_to_array(trim(text), '\\s+')) AS dl
       |      FROM documents),
       |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot_tokens FROM d),
       |tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf
       |       FROM (SELECT doc_id, dl, unnest(t) AS term FROM d)
       |       WHERE term IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
       |       GROUP BY 1, 2, 3),
       |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |bm AS (SELECT doc_id,
       |  CAST(SUM(CAST(ROUND(
       |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
       |    (2.2 * tf.tf / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
       |       (CAST(dl * n_docs AS DOUBLE) / tot_tokens)))), 6) AS DECIMAL(18,6)))
       |    AS DOUBLE) AS score
       |FROM tf JOIN dfreq USING (term), stats
       |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20)""".stripMargin

  /** Per-language keep rates (percent buckets of 100) for the
    * stratified sampling demo (B15b) — downsample the dominant
    * language, keep the rest whole. Built with foldRight below so the
    * FIRST declared match wins on both engines (DuckDB CASE evaluates
    * in declaration order; a foldLeft would wrap later entries
    * outermost and give Spark last-match-wins semantics). */
  private val StratifiedRates = Seq("en" -> 25L, "es" -> 60L, "de" -> 60L)

  /** The 3-gram shingling definition — single source (separator,
    * n-gram width, per-doc distinct) for jaccard, minhash, and the
    * native-expression path. Operates on a tokens column `t`. */
  private val shingleArr: Column = array_distinct(expr(
    "transform(sequence(0, size(t) - 3), i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))"))

  /** Tokenized corpus (docs under `maxId`, doubled when `doubled`)
    * with ≥3 tokens — the input [[shingleArr]] applies to. */
  private def shingleBase(
      s: SparkSession, dir: String, maxId: Int, doubled: Boolean): DataFrame = {
    val corpus =
      if (doubled) doubledCorpus(s, dir, maxId)
      else Tables.documents(s, dir).filter(col("doc_id") < maxId)
        .select(col("doc_id"), col("text"))
    corpus
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
  }

  /** Distinct shingle ARRAY per doc. */
  private[graft] def shingleArrays(
      s: SparkSession, dir: String, maxId: Int, doubled: Boolean): DataFrame =
    shingleBase(s, dir, maxId, doubled).select(col("doc_id"), shingleArr.as("shingles"))

  /** Exploded (doc_id, shingle) rows. PLAN SHAPE MATTERS here, twice:
    * (1) the generator must be the inline expression — materializing
    * the array in a projection and exploding the attribute is ~25×
    * slower on Spark 4.1 (measured 7.3 s vs 0.3 s on 150 docs);
    * (2) the trailing distinct is a semantic no-op (arrays are already
    * per-doc distinct) kept ON PURPOSE: it plants a hash exchange that
    * ReusedExchange shares across jaccard's three reads of this
    * relation and gives the planner real cardinality stats. */
  private def shingles(s: SparkSession, dir: String, maxId: Int, doubled: Boolean): DataFrame =
    shingleBase(s, dir, maxId, doubled)
      .select(col("doc_id"), explode(shingleArr).as("shingle"))
      .distinct()

  /** MinHash+LSH candidate pairs (8 hashes, 4 bands of 2): native
    * minhash_sig signatures (map-side), band keys in one pass, banded
    * equi-join. Shared by dedup_minhash and dedup_clusters. */
  private def minhashPairs(s: SparkSession, dir: String, maxId: Int, doubled: Boolean): DataFrame = {
    graft.GraftExtensions.register(s)
    val sig = shingleArrays(s, dir, maxId, doubled)
      .selectExpr("doc_id", "minhash_sig(shingles, 8) AS sig")
    // all 4 band keys in ONE pass over sig (a union of per-band
    // selects would re-execute the signature subtree per band per
    // join side)
    val bands = sig.select(col("doc_id"), posexplode(array(
      (0 to 3).map(b => md5(concat_ws("_",
        element_at(col("sig"), 2 * b + 1), element_at(col("sig"), 2 * b + 2)))): _*))
      .as(Seq("band", "bh")))
    bands.as("a").join(bands.as("b"),
      col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  /** Declarative SQL for [[minhashPairs]], CTE chain ending in `pairs`. */
  private def minhashPairsSql(maxId: Int, doubled: Boolean): String =
    shinglesSql(maxId, doubled) +
      """,
        |hs AS (SELECT doc_id, j,
        |         CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || shingle), 1, 8)) AS BIGINT) AS h
        |       FROM sh CROSS JOIN (SELECT unnest(range(8)) AS j) seeds),
        |sig AS (SELECT doc_id,
        |  MIN(CASE WHEN j=0 THEN h END) AS s0, MIN(CASE WHEN j=1 THEN h END) AS s1,
        |  MIN(CASE WHEN j=2 THEN h END) AS s2, MIN(CASE WHEN j=3 THEN h END) AS s3,
        |  MIN(CASE WHEN j=4 THEN h END) AS s4, MIN(CASE WHEN j=5 THEN h END) AS s5,
        |  MIN(CASE WHEN j=6 THEN h END) AS s6, MIN(CASE WHEN j=7 THEN h END) AS s7
        |  FROM hs GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, CAST(0 AS BIGINT) AS band, md5(CAST(s0 AS VARCHAR) || '_' || CAST(s1 AS VARCHAR)) AS bh FROM sig
        |  UNION ALL SELECT doc_id, 1, md5(CAST(s2 AS VARCHAR) || '_' || CAST(s3 AS VARCHAR)) FROM sig
        |  UNION ALL SELECT doc_id, 2, md5(CAST(s4 AS VARCHAR) || '_' || CAST(s5 AS VARCHAR)) FROM sig
        |  UNION ALL SELECT doc_id, 3, md5(CAST(s6 AS VARCHAR) || '_' || CAST(s7 AS VARCHAR)) FROM sig),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)""".stripMargin

  private def shinglesSql(maxId: Int, doubled: Boolean): String = {
    val corpus =
      if (doubled)
        s"""(SELECT doc_id, text FROM documents WHERE doc_id < $maxId
           | UNION ALL
           | SELECT doc_id + 1000 AS doc_id, text FROM documents WHERE doc_id < $maxId)"""
          .stripMargin
      else s"(SELECT doc_id, text FROM documents WHERE doc_id < $maxId)"
    s"""WITH corpus AS (SELECT * FROM $corpus),
       |toksrc AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM corpus),
       |w AS (SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS pos FROM toksrc),
       |sh AS (SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
       |       FROM w a
       |       JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |       JOIN w c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2)""".stripMargin
  }

  val defs: Map[String, QueryDef] = Map(
    // B1: exact dedup by content hash — keep lowest id
    "dedup_exact" -> QueryDef.sql(
      (s, dir) =>
        doubledCorpus(s, dir, Int.MaxValue)
          .groupBy(md5(col("text")).as("text_hash"))
          .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
          .orderBy("text_hash"),
      """SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM (SELECT doc_id, text FROM documents
        |      UNION ALL SELECT doc_id + 1000, text FROM documents) t
        |GROUP BY md5(text) ORDER BY text_hash""".stripMargin),

    // B10: token counting — whitespace + BPE-ish regex
    "text_tokens" -> QueryDef.sql(
      (s, dir) => Tables.documents(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"),
          tokCount(col("text")).as("ws_tokens"),
          regexp_count(col("text"), lit("[a-z]+|[0-9]|[^a-z0-9\\s]")).cast("long").as("bpe_ish_tokens"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9\s]')) AS bpe_ish_tokens
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin),

    // Chunk-level dedup stats (the paragraph-dedup shape, CCNet-style,
    // on 10-token chunks since the synthetic docs have no paragraph
    // breaks): every chunk is hashed corpus-wide, the FIRST occurrence
    // (by doc_id, chunk position) survives, and each doc reports how
    // many of its chunks it owns. One explode + one window shuffle on
    // the chunk hash — the chunk text itself never re-shuffles (md5
    // rides the exchange), which is what keeps this viable when chunks
    // are kilobytes. Chunking explodes the chunk INDICES through a
    // Generate and slices each chunk from the token-array attribute
    // ABOVE it: the split runs once per doc in the generator's child,
    // and slice-of-attribute is O(chunk). (An inline split inside a
    // transform() lambda — or a projected alias that CollapseProject
    // inlines into one — re-runs the regex per element: O(n^2/10) per
    // doc, the 25× trap this shape previously carried.)
    "dedup_chunks" -> QueryDef.sql(
      (s, dir) => {
        val chunks = Tables.documents(s, dir)
          .select(col("doc_id"), toks(col("text")).as("t"))
          .select(col("doc_id"), col("t"), posexplode(expr(
            "sequence(0, CAST(floor((size(t) - 1) / 10) AS INT))"))
            .as(Seq("ord", "chunk_idx")))
          .select(col("doc_id"), col("chunk_idx"),
            md5(concat_ws(" ", slice(col("t"), col("chunk_idx") * 10 + 1, lit(10)))).as("h"))
        val w = Window.partitionBy("h").orderBy("doc_id", "chunk_idx")
        chunks
          .withColumn("rn", row_number().over(w))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_first"))
          .orderBy("doc_id")
      },
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |chunks AS (
        |  -- DuckDB generate_series takes only constants (no lateral or
        |  -- subquery bounds): unnest an index list built per row instead
        |  SELECT doc_id, s.i AS chunk_idx,
        |         md5(array_to_string(t[(s.i * 10 + 1):((s.i + 1) * 10)], ' ')) AS h
        |  FROM (SELECT doc_id, t,
        |          unnest(range(0, CAST(floor((len(t) - 1) / 10) AS INT) + 1)) AS i
        |        FROM toks) s(doc_id, t, i)),
        |r AS (SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rn
        |      FROM chunks)
        |SELECT doc_id, COUNT(*) AS n_chunks,
        |       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // PII redaction — the scrub pass every training corpus runs before
    // tokenization. The synthetic docs carry no PII, so the demo
    // appends a deterministic pseudo-identity (same expression on both
    // engines) and the operator redacts it: emails → <EMAIL>, then
    // long digit runs → <NUM>. Row-local regexp work inside the scan
    // stage; redaction order matters (emails first — their local part
    // may contain digit runs) and is pinned by the nesting.
    "text_redact_pii" -> QueryDef.sql(
      (s, dir) => {
        val aug = concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com ref "), (col("doc_id") * 7919 + 1000000).cast("string"))
        val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
        Tables.documents(s, dir)
          .select(col("doc_id"),
            regexp_replace(regexp_replace(aug, emailRe, "<EMAIL>"),
              "[0-9]{6,}", "<NUM>").as("redacted"),
            regexp_count(aug, lit(emailRe)).cast("long").as("n_emails"))
          .orderBy("doc_id")
      },
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com ref '
        |           || CAST(doc_id * 7919 + 1000000 AS VARCHAR),
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{6,}', '<NUM>', 'g') AS redacted,
        |  len(regexp_extract_all(
        |      text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com ref '
        |           || CAST(doc_id * 7919 + 1000000 AS VARCHAR),
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Quality-quantile gate: keep the best 60% of docs per language by
    // alpha ratio — curation by RELATIVE quality (a fixed threshold
    // over- or under-prunes languages with different score
    // distributions). percent_rank is (rank-1)/(n-1) on both engines,
    // and the (quality desc, doc_id) order is TOTAL (doc_id unique),
    // so rank == row_number and the formula is computed explicitly
    // from a ShardedWindow row number: parallelism = #(lang, q-band)
    // sub-shards, not #langs (5 at any scale). The shard is a pure
    // function of the leading order key (q desc → -(q*20) ascending),
    // so ties stay in one shard and the numbering is exact; n per
    // lang joins in as a broadcast aggregate.
    "corpus_quality_gate" -> QueryDef.sql(
      (s, dir) => {
        val q = round(length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") /
          length(col("text")), 6)
        val scored = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), q.as("q"))
        val n = scored.groupBy("lang").agg(count(lit(1)).as("n"))
        val ranked = ShardedWindow.rowNumber(
          scored,
          keys = Seq("lang"),
          shard = -floor(col("q") * 20),
          order = Seq(col("q").desc, col("doc_id")),
          out = "rn")
        ranked.join(broadcast(n), "lang")
          // n == 1 → percent_rank defines 0.0 (not 0/0 = NaN)
          .withColumn("pr", when(col("n") === 1, 0.0).otherwise(
            (col("rn") - 1).cast("double") / (col("n") - 1).cast("double")))
          .filter(col("pr") <= 0.6)
          .select("doc_id", "lang", "q")
          .orderBy("doc_id")
      },
      """SELECT doc_id, lang, q FROM (
        |  SELECT doc_id, lang,
        |    ROUND(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
        |          / length(text), 6) AS q,
        |    percent_rank() OVER (PARTITION BY lang
        |      ORDER BY ROUND(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
        |                     / length(text), 6) DESC, doc_id) AS pr
        |  FROM documents) t
        |WHERE pr <= 0.6 ORDER BY doc_id""".stripMargin),

    // Deterministic sequence packing: docs packed into ~512-token bins
    // by running token count, per language shard — the context-window
    // packing pass a pretraining pipeline runs before tokenized
    // shuffling. The assignment is bin = floor(tokens_before / budget)
    // (a doc straddling a boundary starts in its bin — bounded
    // overflow, the standard streaming-pack tradeoff), which unlike
    // greedy first-fit is a pure cumsum — here the ShardedWindow
    // two-phase form (sub-shard on doc_id div 64, local cumsum,
    // broadcast exclusive offsets), so parallelism is #(lang, chunk)
    // sub-shards instead of #langs: at 100 TB a language no longer
    // sorts in one task.
    "corpus_pack" -> QueryDef.sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"),
            tokCount(col("text")).as("n_tokens"))
        ShardedWindow.runningSum(
          docs,
          keys = Seq("lang"),
          shard = expr("doc_id div 64"),
          order = Seq(col("doc_id")),
          value = col("n_tokens"),
          out = "cum")
          .withColumn("bin", floor((col("cum") - col("n_tokens")) / 512L))
          .groupBy("lang", "bin")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("bin_tokens"))
          .orderBy("lang", "bin")
      },
      """WITH t AS (SELECT doc_id, lang,
        |             len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        |           FROM documents),
        |c AS (SELECT doc_id, lang, n_tokens,
        |        SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM t)
        |SELECT lang, CAST(FLOOR((cum - n_tokens) / 512) AS BIGINT) AS bin,
        |       COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
        |FROM c GROUP BY lang, bin ORDER BY lang, bin""".stripMargin),

    // Corpus-level heavy hitters: top-25 terms by document frequency —
    // the vocabulary/stopword audit every curation pass runs. Explode
    // rides directly on the inline tokenize (never a projected array —
    // the CollapseProject 25× trap), per-doc distinct via the shingle
    // dedup inside array_distinct, counts partial-agg map-side, and the
    // global top-k is TakeOrderedAndProject — no full sort of the term
    // dictionary at 100 TB. Ties break on the term itself.
    // B-block: TF-IDF — each document's most distinctive term. The
    // idf is the RATIONAL form tf·(N/df), not log(N/df): one exact
    // int64 product and one correctly-rounded IEEE division give
    // bit-identical doubles on both engines, where ln() could differ
    // in the last ulp and flip a ranking. Monotone in df like log-idf,
    // so per-document ranking semantics are standard. Scale shape: tf
    // is one shuffle on (doc, term); df reuses tf (one more shuffle on
    // term — hot stopword keys hit the AGGREGATE partial-combine, not
    // a join fan-out); the doc-count joins in as a 1-row broadcast;
    // the final argmax is a per-doc window, partitioned on doc_id.
    "text_tfidf" -> QueryDef.sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        val tf = docs.select(col("doc_id"), explode(toks(col("text"))).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val scored = tf.join(dfreq, "term").crossJoin(broadcast(nDocs))
          .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df"))
        val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
        scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("doc_id"), col("term").as("top_term"), col("score"))
          .orderBy("doc_id")
      },
      """WITH tf AS (SELECT doc_id, term, COUNT(*) AS tf
        |            FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |                  FROM documents)
        |            GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (SELECT doc_id, term, CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df AS score
        |           FROM tf JOIN dfreq USING (term), n),
        |r AS (SELECT doc_id, term, score,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
        |      FROM scored)
        |SELECT doc_id, term AS top_term, score FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin),

    "text_top_terms" -> QueryDef.sql(
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), explode(array_distinct(toks(col("text")))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("n_docs"))
        .orderBy(col("n_docs").desc, col("term"))
        .limit(25),
      """SELECT term, COUNT(*) AS n_docs
        |FROM (SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |      FROM documents)
        |GROUP BY term ORDER BY n_docs DESC, term LIMIT 25""".stripMargin),

    // Sketch family #4 (alongside bloom / HLL / t-digest): COUNT-MIN
    // term frequencies — fixed-memory mergeable counting for when only
    // point estimates of candidate terms are needed at corpus scale.
    // Built by Spark's treeAggregate sketch (stat.countMinSketch,
    // fixed seed → deterministic); probed with the exact top-20 terms.
    // Rows-only by the sketch contract (not SQL-expressible);
    // CountMinSpec bounds the overestimate at eps·total and proves
    // CMS can never undercount.
    "text_top_terms_approx" -> QueryDef.rowsOnly(
      (s, dir) => {
        import s.implicits._
        val terms = Tables.documents(s, dir)
          .select(explode(toks(col("text"))).as("term"))
        val sketch = terms.stat.countMinSketch("term", eps = 0.001, confidence = 0.99, seed = 42)
        val bc = s.sparkContext.broadcast(sketch)
        val top = terms.groupBy("term").agg(count(lit(1)).as("n_exact"))
          .orderBy(col("n_exact").desc, col("term")).limit(20)
        top.as[(String, Long)].map { case (t, n) => (t, n, bc.value.estimateCount(t)) }
          .toDF("term", "n_exact", "n_est")
          .orderBy(col("n_exact").desc, col("term"))
      }),

    // B9: quality scoring — length / alpha / digit / stopword ratios
    "text_quality" -> QueryDef.sql(
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          round(length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") / length(col("text")), 6)
            .as("alpha_ratio"),
          round(length(regexp_replace(col("text"), "[^0-9]", "")).cast("double") / length(col("text")), 6)
            .as("digit_ratio"),
          round(regexp_count(col("text"), lit("\\b(the|and|of|to|a|in)\\b")).cast("double") /
            tokCount(col("text")), 6).as("stopword_ratio"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |  length(text) AS n_chars,
        |  ROUND(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text), 6) AS alpha_ratio,
        |  ROUND(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text), 6) AS digit_ratio,
        |  ROUND(CAST(len(regexp_extract_all(text, '\b(the|and|of|to|a|in)\b')) AS DOUBLE)
        |        / len(regexp_split_to_array(trim(text), '\s+')), 6) AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin),

    // B8: language id — stopword-lexicon scores, deterministic argmax
    // (lexicons shared with corpus_select via LangRegex)
    "text_langid" -> QueryDef.sql(
      (s, dir) => {
        val lr = LangRegex.toMap
        val sEn = regexp_count(col("text"), lit(lr("en")))
        val sEs = regexp_count(col("text"), lit(lr("es")))
        val sDe = regexp_count(col("text"), lit(lr("de")))
        val sFr = regexp_count(col("text"), lit(lr("fr")))
        Tables.documents(s, dir)
          .select(col("doc_id"),
            sEn.cast("long").as("s_en"), sEs.cast("long").as("s_es"),
            sDe.cast("long").as("s_de"), sFr.cast("long").as("s_fr"))
          .withColumn("predicted",
            when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de") &&
              col("s_en") >= col("s_fr") && col("s_en") > 0, "en")
              .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr") && col("s_es") > 0, "es")
              .when(col("s_de") >= col("s_fr") && col("s_de") > 0, "de")
              .when(col("s_fr") > 0, "fr")
              .otherwise("unk"))
          .orderBy("doc_id")
      },
      """SELECT doc_id, s_en, s_es, s_de, s_fr,
        |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en > 0 THEN 'en'
        |       WHEN s_es >= s_de AND s_es >= s_fr AND s_es > 0 THEN 'es'
        |       WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
        |       WHEN s_fr > 0 THEN 'fr'
        |       ELSE 'unk' END AS predicted
        |FROM (SELECT doc_id,
        |        len(regexp_extract_all(text, '\b(the|and|of|to|in|is)\b')) AS s_en,
        |        len(regexp_extract_all(text, '\b(el|la|de|los|que|y)\b')) AS s_es,
        |        len(regexp_extract_all(text, '\b(der|die|und|das|ist|nicht)\b')) AS s_de,
        |        len(regexp_extract_all(text, '\b(le|les|des|et|est|une)\b')) AS s_fr
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin),

    // B11: document fingerprint — hash of the sorted distinct token set
    "text_fingerprint" -> QueryDef.sql(
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          md5(concat_ws(" ", array_sort(array_distinct(toks(col("text")))))).as("fp"),
          size(array_distinct(toks(col("text")))).cast("long").as("n_distinct_tokens"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(trim(text), '\s+'))), ' ')) AS fp,
        |  len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS n_distinct_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    // B4: n-gram Jaccard similarity on shingle sets
    "dedup_ngram_jaccard" -> QueryDef.sql(
      (s, dir) => {
        val sh = shingles(s, dir, 150, doubled = false)
        val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val inter = sh.as("x").join(sh.as("y"),
          col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
          .agg(count(lit(1)).as("i"))
        inter
          .join(sz.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
          .join(sz.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
          .select(col("d1"), col("d2"),
            round(col("i").cast("double") / (col("n1") + col("n2") - col("i")), 6).as("jaccard"))
          .filter(col("jaccard") >= 0.3)
          .orderBy("d1", "d2")
      },
      shinglesSql(150, doubled = false) +
        """,
          |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
          |i AS (SELECT x.doc_id AS d1, y.doc_id AS d2, COUNT(*) AS i
          |      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
          |      GROUP BY x.doc_id, y.doc_id)
          |SELECT d1, d2, ROUND(CAST(i.i AS DOUBLE) / (a.n + b.n - i.i), 6) AS jaccard
          |FROM i JOIN sz a ON i.d1 = a.doc_id JOIN sz b ON i.d2 = b.doc_id
          |WHERE CAST(i.i AS DOUBLE) / (a.n + b.n - i.i) >= 0.3
          |ORDER BY d1, d2""".stripMargin),

    // B3: SimHash near-dup — 48-bit signatures, pairs within hamming 6
    // on the doubled corpus (every duplicate pair lands at hamming 0).
    // Signatures come from the native codegen'd simhash48 expression
    // (one map-side pass, zero shuffle — SimHash48Spec proves bit
    // equality with the declarative explode+vote build); candidates
    // come from pigeonhole-banded equi-joins (TextOps.simHashPairs),
    // not an all-pairs theta join. The oracle computes the all-pairs
    // reference over the declarative SQL signature build, so the hash
    // match proves BOTH the native expression and the banding lose
    // nothing.
    "dedup_simhash" -> QueryDef.sql(
      (s, dir) => {
        val corpus = doubledCorpus(s, dir, 200)
        val sig = TextOps.simHashNative(
          corpus.select(col("doc_id"), toks(col("text")).as("t")), "doc_id", "t")
        TextOps.simHashPairs(sig, "doc_id", "simhash", maxHamming = 6)
          .orderBy("d1", "d2")
      },
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 200
         |  UNION ALL
         |  SELECT doc_id + 1000, text FROM documents WHERE doc_id < 200),
         |${TextOps.simHashSql}
         |SELECT a.doc_id AS d1, b.doc_id AS d2,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
         |ORDER BY d1, d2""".stripMargin),

    // Native Catalyst expression path (SURVEY §2 custom-operator tier):
    // codegen'd 64-bit FNV-1a fingerprint registered through
    // SparkSessionExtensions. FULL DuckDB oracle: FNV-1a is one
    // byte-at-a-time recurrence, expressed as a recursive CTE over
    // character positions with 128-bit (HUGEINT) modular arithmetic —
    // DuckDB integer ops trap on overflow, so the unsigned 64-bit
    // wraparound is an explicit % 2^64, and the final value maps back
    // to the signed BIGINT Spark emits. Corpus is ASCII (verified:
    // octet_length == length for every doc), so ord(substr) is the
    // byte FNV consumes; bit-level equivalence also in FnvHash64Spec.
    "text_fingerprint64" -> QueryDef.sql(
      (s, dir) => {
        GraftExtensions.register(s)
        Tables.documents(s, dir)
          .selectExpr("doc_id", "fnv_hash64(text) AS fp64")
          .orderBy("doc_id")
      },
      """WITH RECURSIVE f AS (
        |  SELECT doc_id, text, CAST(1 AS BIGINT) AS i, length(text) AS n,
        |         CAST('14695981039346656037' AS HUGEINT) AS h
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, text, i + 1, n,
        |    ((h - h % 256 + CAST(xor(CAST(h % 256 AS BIGINT), ord(substr(text, CAST(i AS INT), 1))) AS HUGEINT))
        |      * 1099511628211) % CAST('18446744073709551616' AS HUGEINT)
        |  FROM f WHERE i <= n
        |)
        |SELECT doc_id,
        |  CAST(CASE WHEN h >= CAST('9223372036854775808' AS HUGEINT)
        |            THEN h - CAST('18446744073709551616' AS HUGEINT) ELSE h END AS BIGINT) AS fp64
        |FROM f WHERE i = n + 1
        |ORDER BY doc_id""".stripMargin),

    // B16: repetition-ratio quality signal — fraction of duplicated
    // 3-grams per doc, the standard boilerplate/templating detector in
    // corpus curation (high ratio ⇒ generated/repeated text). Entirely
    // row-local: the shingle array never leaves its row, so the plan
    // is scan → project → sort, no exchange before the (tiny) ordered
    // output. rep_ratio is a ratio of small exact ints → identical
    // float64 bits on both engines, no ROUND.
    "text_repetition" -> QueryDef.sql(
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), toks(col("text")).as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"),
          (size(col("t")) - 2).cast("long").as("n_shingles"),
          size(shingleArr).cast("long").as("n_distinct"))
        .withColumn("rep_ratio",
          (col("n_shingles") - col("n_distinct")).cast("double") / col("n_shingles"))
        .orderBy("doc_id"),
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |g AS (SELECT doc_id, CAST(len(t) - 2 AS BIGINT) AS n_shingles,
        |        CAST(len(list_distinct(list_transform(range(1, len(t) - 1),
        |          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS BIGINT) AS n_distinct
        |      FROM d WHERE len(t) >= 3)
        |SELECT doc_id, n_shingles, n_distinct,
        |  CAST(n_shingles - n_distinct AS DOUBLE) / n_shingles AS rep_ratio
        |FROM g ORDER BY doc_id""".stripMargin),

    // B17: benchmark decontamination — drop every document whose
    // 3-gram set overlaps the probe set (the n-gram-overlap test-set
    // filter LLM pipelines run before training). Shape: explode the
    // shingles INLINE in the Generate (the fast path), keep only
    // probe hits, and anti-join the (tiny) contaminated-id set back —
    // at 100 TB the probe side is a broadcast and the corpus is read
    // once. A row-local `arrays_overlap(shingleArr, probes)` filter
    // looks cheaper but measured 65× slower (15.7 s vs 0.24 s on 50k
    // docs): CollapseProject inlines the tokenization into every t[i]
    // reference of the interpreted lambda, re-splitting the text per
    // element access. Docs with <3 tokens produce no shingle rows and
    // survive by construction on both engines.
    "corpus_decontaminate" -> QueryDef.sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val contaminated = docs
          .select(col("doc_id"), toks(col("text")).as("t"))
          .filter(size(col("t")) >= 3)
          .select(col("doc_id"), explode(shingleArr).as("shingle"))
          .filter(col("shingle").isin(ProbeShingles: _*))
          .select("doc_id").distinct()
        docs.join(contaminated, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("lang"))
          .orderBy("doc_id")
      },
      s"""WITH d AS (SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
         |g AS (SELECT doc_id, lang,
         |        CASE WHEN len(t) >= 3
         |             THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
         |             ELSE [] END AS sh
         |      FROM d)
         |SELECT doc_id, lang FROM g
         |WHERE NOT list_has_any(sh, [${ProbeShingles.map(p => s"'$p'").mkString(", ")}])
         |ORDER BY doc_id""".stripMargin),

    // B2: MinHash + LSH candidate pairs (8 hashes, 4 bands of 2) on the
    // doubled corpus — every duplicate pair must collide in all bands.
    // Signatures come from the native codegen'd minhash_sig expression:
    // the whole 8-hash signature per document in one map-side pass over
    // its distinct shingle array, replacing the shingles×seeds explode
    // + 8-column min aggregation (one exchange of 8 rows per
    // (doc, shingle) — the dominant shuffle of the pipeline at corpus
    // scale). The oracle still computes the declarative SQL build, so
    // the hash match proves bit equality end to end.
    "dedup_minhash" -> QueryDef.sql(
      (s, dir) => minhashPairs(s, dir, 300, doubled = true).orderBy("d1", "d2"),
      minhashPairsSql(300, doubled = true) +
        "\nSELECT d1, d2 FROM pairs ORDER BY d1, d2"),

    // B93: MinHash estimation-error audit — the calibration report a
    // dedup pipeline owes its threshold choice: for every banded
    // candidate pair, the 8-leg signature agreement (the MinHash
    // Jaccard estimate, est_ppm = agree/8 in exact ppm) against the
    // EXACT shingle Jaccard (integer ppm, the dedup_ngram_jaccard
    // machinery), bucketed by agreement level. Scale: pairs are the
    // banded candidates (never all-pairs), signatures broadcast-join
    // onto them, and the exact-intersection relation is the same
    // shingle-keyed equi-join dedup_ngram_jaccard already bounds.
    // All legs exact integers; the one double (mean) divides exact
    // longs in identical operand order on both engines.
    "dedup_minhash_error" -> QueryDef.sql(
      (s, dir) => {
        graft.GraftExtensions.register(s)
        val prs = minhashPairs(s, dir, 300, doubled = true)
        val sig = shingleArrays(s, dir, 300, doubled = true)
          .selectExpr("doc_id", "minhash_sig(shingles, 8) AS sig")
        val sh = shingles(s, dir, 300, doubled = true)
        val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val inter = sh.as("x").join(sh.as("y"),
            col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
          .agg(count(lit(1)).as("i"))
        val agree = prs
          .join(broadcast(sig.select(col("doc_id").as("d1"), col("sig").as("sg1"))), "d1")
          .join(broadcast(sig.select(col("doc_id").as("d2"), col("sig").as("sg2"))), "d2")
          .withColumn("sig_agree", (1 to 8).map(i =>
            when(element_at(col("sg1"), i) === element_at(col("sg2"), i), 1L)
              .otherwise(0L)).reduce(_ + _))
        agree
          // an md5 band collision can pair docs sharing no shingle —
          // the left join + coalesce keeps the pair at jaccard 0
          .join(inter, Seq("d1", "d2"), "left")
          .join(broadcast(sz.select(col("doc_id").as("d1"), col("n").as("n1"))), "d1")
          .join(broadcast(sz.select(col("doc_id").as("d2"), col("n").as("n2"))), "d2")
          .withColumn("jac_ppm",
            expr("coalesce(i, 0L) * 1000000 div (n1 + n2 - coalesce(i, 0L))"))
          .groupBy("sig_agree")
          .agg(count(lit(1)).as("n_pairs"), sum("jac_ppm").as("sum_jaccard_ppm"))
          .withColumn("est_ppm", col("sig_agree") * 125000L)
          .withColumn("mean_jaccard_ppm",
            col("sum_jaccard_ppm").cast("double") / col("n_pairs").cast("double"))
          .select(col("sig_agree"), col("est_ppm"), col("n_pairs"),
            col("sum_jaccard_ppm"), col("mean_jaccard_ppm"))
          .orderBy("sig_agree")
      },
      minhashPairsSql(300, doubled = true) +
        """,
          |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
          |i AS (SELECT x.doc_id AS d1, y.doc_id AS d2, COUNT(*) AS i
          |      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
          |      GROUP BY 1, 2),
          |ag AS (SELECT p.d1, p.d2,
          |         CAST((CASE WHEN a.s0 = b.s0 THEN 1 ELSE 0 END)
          |            + (CASE WHEN a.s1 = b.s1 THEN 1 ELSE 0 END)
          |            + (CASE WHEN a.s2 = b.s2 THEN 1 ELSE 0 END)
          |            + (CASE WHEN a.s3 = b.s3 THEN 1 ELSE 0 END)
          |            + (CASE WHEN a.s4 = b.s4 THEN 1 ELSE 0 END)
          |            + (CASE WHEN a.s5 = b.s5 THEN 1 ELSE 0 END)
          |            + (CASE WHEN a.s6 = b.s6 THEN 1 ELSE 0 END)
          |            + (CASE WHEN a.s7 = b.s7 THEN 1 ELSE 0 END) AS BIGINT) AS sig_agree
          |       FROM pairs p JOIN sig a ON p.d1 = a.doc_id
          |                    JOIN sig b ON p.d2 = b.doc_id),
          |jp AS (SELECT ag.sig_agree,
          |         COALESCE(i.i, 0) * 1000000 // (sa.n + sb.n - COALESCE(i.i, 0)) AS jac_ppm
          |       FROM ag LEFT JOIN i ON ag.d1 = i.d1 AND ag.d2 = i.d2
          |       JOIN sz sa ON ag.d1 = sa.doc_id
          |       JOIN sz sb ON ag.d2 = sb.doc_id)
          |SELECT sig_agree, sig_agree * 125000 AS est_ppm, COUNT(*) AS n_pairs,
          |  CAST(SUM(jac_ppm) AS BIGINT) AS sum_jaccard_ppm,
          |  CAST(SUM(jac_ppm) AS DOUBLE) / COUNT(*) AS mean_jaccard_ppm
          |FROM jp GROUP BY 1 ORDER BY 1""".stripMargin),

    // Near-dup CLUSTERING: connected components over the minhash
    // candidate pairs — the step that turns pairwise collisions into
    // keep/drop groups (cluster id = min doc id of the component).
    // Spark side: iterative min-label propagation (GraphOps); oracle:
    // recursive-CTE label closure over the identical pair SQL. The
    // hash match proves the distributed fixpoint reaches exactly the
    // transitive closure.
    "dedup_clusters" -> QueryDef.sql(
      (s, dir) =>
        graft.operators.GraphOps.connectedComponents(
          minhashPairs(s, dir, 300, doubled = true), "d1", "d2")
          .select(col("node").as("doc_id"), col("component").as("cluster_id"))
          .orderBy("doc_id"),
      minhashPairsSql(300, doubled = true).replaceFirst("^WITH ", "WITH RECURSIVE ") +
        s""",
           |$ccSql
           |SELECT doc_id, cluster_id FROM canon ORDER BY doc_id""".stripMargin),

    // Cluster-size profile of the near-dup graph — the dedup REPORT a
    // pipeline emits before dropping anything: how many clusters of
    // each size, and what fraction of the corpus is redundant
    // (size−1 removable per cluster). Two tiny aggs over the
    // same component output; dup_fraction is one int/int division.
    "dedup_cluster_stats" -> QueryDef.sql(
      (s, dir) => {
        val comp = graft.operators.GraphOps.connectedComponents(
          minhashPairs(s, dir, 300, doubled = true), "d1", "d2")
        val sizes = comp.groupBy("component").agg(count(lit(1)).as("cluster_size"))
        sizes.groupBy("cluster_size")
          .agg(count(lit(1)).as("n_clusters"))
          .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
          .withColumn("n_removable", (col("cluster_size") - 1) * col("n_clusters"))
          .orderBy("cluster_size")
      },
      minhashPairsSql(300, doubled = true).replaceFirst("^WITH ", "WITH RECURSIVE ") +
        s""",
           |$ccSql,
           |sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM canon GROUP BY 1)
           |SELECT cluster_size, COUNT(*) AS n_clusters,
           |  CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
           |  CAST((cluster_size - 1) * COUNT(*) AS BIGINT) AS n_removable
           |FROM sizes GROUP BY cluster_size ORDER BY cluster_size""".stripMargin),

    // Deterministic CONTENT-hash sampling + train/val split: bucket =
    // md5(text) prefix mod 100, sample keeps buckets < 20, split is
    // 90/10 within the sample. Content-hashed (not rand/TABLESAMPLE,
    // and not id-hashed) so it delivers both properties a training
    // pipeline needs from its splitter: reproducible across runs,
    // partitionings, and engines, AND leakage-safe — identical texts
    // land in the same bucket, so exact duplicates can never straddle
    // train and val. The md5-prefix bucket is the same construction
    // as the minhash seeded hash, proven engine-identical there.
    "corpus_sample_split" -> QueryDef.sql(
      (s, dir) => {
        val bucket = pmod(
          conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"), lit(100L))
        Tables.documents(s, dir)
          .select(col("doc_id"), bucket.as("bucket"))
          .filter(col("bucket") < 20)
          .select(col("doc_id"), col("bucket"),
            when(col("bucket") < 18, "train").otherwise("val").as("split"))
          .orderBy("doc_id")
      },
      """SELECT doc_id, bucket, CASE WHEN bucket < 18 THEN 'train' ELSE 'val' END AS split
        |FROM (SELECT doc_id,
        |        CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 AS bucket
        |      FROM documents) t
        |WHERE bucket < 20
        |ORDER BY doc_id""".stripMargin),

    // B15c: target-proportion corpus mixing — the step BEFORE
    // stratified sampling: given target language SHARES (en 40%, four
    // others 15%, in per-10k integer weights), compute the largest
    // feasible downsample-only total T = min_l(count_l·10000 div w_l),
    // per-language target counts k_l = T·w_l div 10000, and keep each
    // doc iff u·count_l < k_l·100000 for its md5-uniform u — ALL
    // integer arithmetic, so both engines agree bit-for-bit with no
    // double thresholds. The keep decision is row-local against a
    // broadcast 5-row rate table (no per-language global rank — a
    // rank-based exact cut would funnel each language through one
    // reducer at 100 TB; the rate cut trades ±binomial-noise counts
    // for full scan-parallelism). Output: per language, corpus count,
    // target count, and docs actually kept.
    "corpus_mix" -> QueryDef.sql(
      (s, dir) => {
        val weights = Seq("en" -> 4000L, "de" -> 1500L, "es" -> 1500L, "fr" -> 1500L,
          "zh" -> 1500L)
        val wCol = weights.foldRight(lit(null).cast("long")) { case ((l, w), acc) =>
          when(col("lang") === l, lit(w)).otherwise(acc)
        }
        val docs = Tables.documents(s, dir)
        val counts = docs.groupBy("lang").agg(count(lit(1)).as("c"))
          .withColumn("w", wCol).filter(col("w").isNotNull)
        val t = counts.agg(min(expr("c * 10000 div w")).as("t"))
        val rates = counts.crossJoin(broadcast(t))
          .withColumn("k", expr("(t * w) div 10000"))
          .select("lang", "c", "k")
        val u = pmod(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"),
          lit(100000L))
        docs.select(col("doc_id"), col("lang"), u.as("u"))
          .join(broadcast(rates), "lang")
          .groupBy("lang")
          .agg(max("c").as("n_docs"), max("k").as("target_k"),
            sum((col("u") * col("c") < col("k") * lit(100000L)).cast("long")).as("n_kept"))
          .orderBy("lang")
      },
      """WITH w(lang, w) AS (VALUES ('en', 4000), ('de', 1500), ('es', 1500), ('fr', 1500), ('zh', 1500)),
        |c AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY 1),
        |cw AS (SELECT c.lang, c.c, w.w FROM c JOIN w ON c.lang = w.lang),
        |t AS (SELECT min(c * 10000 // w) AS t FROM cw),
        |r AS (SELECT cw.lang, cw.c, (t.t * cw.w) // 10000 AS k FROM cw, t),
        |d AS (SELECT doc_id, lang, CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100000 AS u
        |      FROM documents)
        |SELECT d.lang, CAST(MAX(r.c) AS BIGINT) AS n_docs, CAST(MAX(r.k) AS BIGINT) AS target_k,
        |       CAST(SUM(CASE WHEN d.u * r.c < r.k * 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM d JOIN r ON d.lang = r.lang
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin),

    // B15b: stratified deterministic sampling — per-language keep
    // rates over the same md5 bucket (downsample the dominant
    // language, keep the rare ones whole: the language-rebalancing
    // pass LLM corpora run before training). Same determinism +
    // leakage-safety story as corpus_sample_split: content-hashed
    // buckets are reproducible across runs/partitionings/engines and
    // put identical texts on the same side of every rate cut.
    "corpus_sample_stratified" -> QueryDef.sql(
      (s, dir) => {
        val bucket = pmod(
          conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"), lit(100L))
        // foldRight keeps declaration order = CASE order (first match
        // wins), matching the DuckDB CASE in the oracle below.
        val rate = StratifiedRates.foldRight(lit(100L)) { case ((l, r), acc) =>
          when(col("lang") === l, lit(r)).otherwise(acc)
        }
        Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), bucket.as("bucket"), rate.as("keep_rate"))
          .filter(col("bucket") < col("keep_rate"))
          .select(col("doc_id"), col("lang"), col("bucket"))
          .orderBy("doc_id")
      },
      s"""SELECT doc_id, lang, bucket FROM (
         |  SELECT doc_id, lang,
         |    CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 AS bucket,
         |    CASE ${StratifiedRates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }.mkString(" ")}
         |         ELSE 100 END AS keep_rate
         |  FROM documents) t
         |WHERE bucket < keep_rate
         |ORDER BY doc_id""".stripMargin),

    // The end-to-end corpus pipeline, composed from oracle-proven
    // pieces: language gate (LangRegex argmax) + quality gates
    // (length, alpha ratio) + near-dup canonicalization (keep a doc
    // iff it is its cluster's min id, or belongs to no cluster).
    // This is the keep/drop decision a training-data pipeline ships.
    "corpus_select" -> QueryDef.sql(
      (s, dir) => {
        val docs = doubledCorpus(s, dir, 300)
        val clusters = graft.operators.GraphOps.connectedComponents(
          minhashPairs(s, dir, 300, doubled = true), "d1", "d2")
          .select(col("node").as("doc_id"), col("component").as("cluster_id"))
        docs.join(clusters, Seq("doc_id"), "left")
          .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
          .select(col("doc_id"),
            langPredicted(col("text")).as("lang"),
            length(col("text")).cast("long").as("n_chars"),
            // raw double division, deliberately un-ROUNDed: both
            // engines correctly round the quotient of the same exact
            // ints, while ROUND-on-double is the half-way-tie trap
            // the repo rule (TraceQueries richSpans) warns about
            (length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") /
              length(col("text"))).as("alpha_ratio"))
          .filter(col("lang") =!= "unk" && col("n_chars") >= 50 && col("alpha_ratio") >= 0.5)
          .orderBy("doc_id")
      },
      minhashPairsSql(300, doubled = true).replaceFirst("^WITH ", "WITH RECURSIVE ") +
        s""",
           |$ccSql,
           |scored AS (
           |  SELECT c.doc_id,
           |    ${langPredictedSql("c.text")} AS lang,
           |    length(c.text) AS n_chars,
           |    CAST(length(regexp_replace(c.text, '[^a-z]', '', 'g')) AS DOUBLE)
           |          / length(c.text) AS alpha_ratio
           |  FROM corpus c LEFT JOIN canon ON c.doc_id = canon.doc_id
           |  WHERE canon.cluster_id IS NULL OR canon.cluster_id = c.doc_id)
           |SELECT doc_id, lang, n_chars, alpha_ratio FROM scored
           |WHERE lang <> 'unk' AND n_chars >= 50 AND alpha_ratio >= 0.5
           |ORDER BY doc_id""".stripMargin),

    // Word-frequency entropy per document — the vocabulary-diversity
    // quality signal (low entropy = repetitive/templated text). Two
    // map-combinable aggs riding one doc_id partitioning; H = ln n −
    // Σ c·ln c / n from integer counts, ROUND(..,6) absorbing the
    // reduce-order and libm last-ulp drift on the Σ c·ln c term.
    "text_entropy" -> QueryDef.sql(
      (s, dir) => {
        val tf = Tables.documents(s, dir)
          .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        tf.groupBy("doc_id")
          .agg(sum("c").as("n_tokens"),
            sum(col("c").cast("double") * log(col("c").cast("double"))).as("clc"))
          .select(col("doc_id"), col("n_tokens"),
            round(log(col("n_tokens").cast("double")) -
              col("clc") / col("n_tokens").cast("double"), 6).as("entropy"))
          .orderBy("doc_id")
      },
      """WITH tf AS (
        |  SELECT doc_id, term, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |        FROM documents)
        |  GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  ROUND(ln(CAST(SUM(c) AS DOUBLE)) -
        |        SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) / CAST(SUM(c) AS DOUBLE), 6)
        |    AS entropy
        |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Zipf rank-frequency slope of the corpus — the log-log regression
    // over the top-100 terms that a natural corpus keeps near −1
    // (synthetic/templated corpora drift off it). Term counts shuffle
    // once; the top-100 cut is orderBy+limit (TakeOrderedAndProject —
    // per-partition heaps, never a single-task global sort of the term
    // dictionary), so the only window runs over the 100 survivors; the
    // regression reuses q_stats_agg's closed-form power-sum formula.
    "text_zipf_slope" -> QueryDef.sql(
      (s, dir) => {
        val counts = Tables.documents(s, dir)
          .select(explode(toks(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("f"))
        val ranked = counts
          .orderBy(col("f").desc, col("tok")).limit(100)
          .withColumn("r", row_number().over(
            Window.orderBy(col("f").desc, col("tok"))))
          .select(log(col("r").cast("double")).as("x"), log(col("f").cast("double")).as("y"))
        val sums = ranked.agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
        sums.select(
          col("n").cast("long").as("n_terms"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("zipf_slope"),
          round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) / col("n"), 6)
            .as("intercept"))
      },
      """WITH counts AS (
        |  SELECT term, COUNT(*) AS f
        |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term FROM documents)
        |  GROUP BY 1),
        |ranked AS (
        |  SELECT ln(CAST(row_number() OVER (ORDER BY f DESC, term) AS DOUBLE)) AS x,
        |         ln(CAST(f AS DOUBLE)) AS y
        |  FROM counts QUALIFY row_number() OVER (ORDER BY f DESC, term) <= 100),
        |sums AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |         SUM(x * x) AS sxx, SUM(x * y) AS sxy
        |  FROM ranked)
        |SELECT CAST(n AS BIGINT) AS n_terms,
        |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
        |  ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept
        |FROM sums""".stripMargin),

    // Inverted-index shard build — the retrieval-side artifact: for
    // mid-frequency terms (rare terms are noise, stopwords are
    // scan-everything), the sorted posting list per term. Postings
    // emit as a joined string (never an array column in query output);
    // the doc_id sort makes the list deterministic and delta-encodable
    // — at corpus scale each term's postings build map-side and merge
    // in one term-keyed shuffle.
    "text_inverted_index" -> QueryDef.sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val nd = docs.agg(count(lit(1)).as("nd"))
        docs
          .select(col("doc_id"), explode(array_distinct(toks(col("text")))).as("term"))
          .groupBy("term")
          .agg(count(lit(1)).as("df"),
            array_join(sort_array(collect_list(col("doc_id"))), ",").as("postings"))
          .crossJoin(broadcast(nd))
          // mid-frequency band as a corpus FRACTION so the cut tracks
          // corpus growth (int/int division — same doubles both engines)
          .filter(col("df").cast("double") / col("nd") >= 0.05 &&
            col("df").cast("double") / col("nd") <= 0.9)
          .select(col("term"), col("df"), col("postings"))
          .orderBy("term")
      },
      """WITH nd AS (SELECT COUNT(*) AS nd FROM documents),
        |p AS (SELECT term, COUNT(*) AS df,
        |        string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |      FROM (SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |            FROM documents)
        |      GROUP BY term)
        |SELECT term, df, postings FROM p, nd
        |WHERE CAST(df AS DOUBLE) / nd >= 0.05 AND CAST(df AS DOUBLE) / nd <= 0.9
        |ORDER BY term""".stripMargin),

    // Per-language token-budget selection — the corpus-assembly op:
    // biggest documents first until each language's token budget is
    // spent (the cumulative cut INCLUDES the document that crosses the
    // line, matching greedy packing). The running sum is the
    // ShardedWindow two-phase form over a DESCENDING order: the shard
    // -(tok_cnt div 32) ascends as tok_cnt descends and is a pure
    // function of the leading order key, so shard ranges are
    // contiguous in the order and the distributed cumsum is exact —
    // parallelism #(lang, size-band), not #langs.
    "corpus_token_budget" -> QueryDef.sql(
      (s, dir) => {
        val budget = 5000L
        val docs = Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"),
            tokCount(col("text")).as("tok_cnt"))
        ShardedWindow.runningSum(
          docs,
          keys = Seq("lang"),
          shard = -expr("tok_cnt div 32"),
          order = Seq(col("tok_cnt").desc, col("doc_id")),
          value = col("tok_cnt"),
          out = "cum_toks")
          .filter(col("cum_toks") - col("tok_cnt") < budget)
          .orderBy("lang", "cum_toks")
      },
      """WITH t AS (
        |  SELECT lang, doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tok_cnt
        |  FROM documents),
        |c AS (
        |  SELECT lang, doc_id, tok_cnt,
        |    SUM(tok_cnt) OVER (PARTITION BY lang ORDER BY tok_cnt DESC, doc_id
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_toks
        |  FROM t)
        |SELECT lang, doc_id, tok_cnt, CAST(cum_toks AS BIGINT) AS cum_toks
        |FROM c WHERE cum_toks - tok_cnt < 5000
        |ORDER BY lang, cum_toks""".stripMargin),

    // Character-trigram profile — the raw material of n-gram language
    // ID and contamination fingerprints. The trigram array generates
    // INLINE inside explode (a materialized upstream projection would
    // hit the CollapseProject re-evaluation trap, SURVEY §4); counts
    // collapse map-side before the one term shuffle. r14: grams come
    // from the native char_ngrams expression — the former
    // transform(sequence, i -> substring) evaluated its lambda
    // INTERPRETED per gram and each substring re-walked the text from
    // byte 0 (CharNgrams doc; value-identical by CharNgramsSpec + the
    // unchanged oracle hash).
    "text_char_ngrams" -> QueryDef.sql(
      // docs shorter than 3 chars are filtered BEFORE gram generation,
      // matching the oracle's empty range(1, 1) on short docs
      (s, dir) => {
        graft.GraftExtensions.register(s)
        Tables.documents(s, dir)
          .filter(length(col("text")) >= 3)
          .select(explode(expr("char_ngrams(text, 3)")).as("trigram"))
      }
        .groupBy("trigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("trigram"))
        .limit(20),
      """SELECT substr(text, CAST(t.i AS INT), 3) AS trigram, COUNT(*) AS n
        |FROM documents, UNNEST(range(1, greatest(length(text) - 2, 0) + 1)) AS t(i)
        |GROUP BY trigram ORDER BY n DESC, trigram LIMIT 20""".stripMargin),

    // Intra-document repetition scrub (C4-style cleaning): drop every
    // repeat of a 10-token chunk WITHIN its document (first occurrence
    // wins) and reassemble the cleaned text in order. Unlike
    // dedup_chunks (corpus-wide chunk census) this rewrites the
    // documents themselves — the pass that strips boilerplate headers
    // and copy-pasted paragraphs before training. Everything is keyed
    // by doc_id: the repeat window partitions on (doc_id, chunk), the
    // reassembly groups on doc_id — one doc never spans tasks, so
    // parallelism is #docs and per-task state is one document. The
    // ordered rebuild sorts the (chunk_idx, chunk) structs row-locally
    // (array_sort, not a shuffle sort) before joining.
    "text_scrub_repeats" -> QueryDef.sql(
      (s, dir) => {
        // Same Generate-the-indices chunking as dedup_chunks: split
        // once per doc, slice each chunk from the array attribute.
        val chunks = Tables.documents(s, dir)
          .select(col("doc_id"), toks(col("text")).as("t"))
          .select(col("doc_id"), col("t"), posexplode(expr(
            "sequence(0, CAST(floor((size(t) - 1) / 10) AS INT))"))
            .as(Seq("ord", "chunk_idx")))
          .select(col("doc_id"), col("chunk_idx"),
            concat_ws(" ", slice(col("t"), col("chunk_idx") * 10 + 1, lit(10))).as("chunk"))
        val firsts = chunks.withColumn("rn",
          row_number().over(Window.partitionBy("doc_id", "chunk").orderBy("chunk_idx")))
        firsts
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
            array_join(
              transform(
                array_sort(collect_list(when(col("rn") === 1,
                  struct(col("chunk_idx"), col("chunk"))))),
                x => x.getField("chunk")),
              " ").as("text_clean"))
          .orderBy("doc_id")
      },
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |chunks AS (
        |  SELECT doc_id, s.i AS chunk_idx,
        |         array_to_string(t[(s.i * 10 + 1):((s.i + 1) * 10)], ' ') AS chunk
        |  FROM (SELECT doc_id, t,
        |          unnest(range(0, CAST(floor((len(t) - 1) / 10) AS INT) + 1)) AS i
        |        FROM toks) s(doc_id, t, i)),
        |r AS (SELECT doc_id, chunk_idx, chunk,
        |        ROW_NUMBER() OVER (PARTITION BY doc_id, chunk ORDER BY chunk_idx) AS rn
        |      FROM chunks)
        |SELECT doc_id, COUNT(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY chunk_idx) AS text_clean
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Corpus-LM fluency score — the statistical stand-in for
    // perplexity-based quality filtering (the real pipeline scores
    // against a trained LM; the engine-side shape is identical): score
    // each doc by the mean conditional log-likelihood of its bigrams
    // under the corpus's own bigram MLE, ln(c(w1 w2) / c(w1 ·)).
    // Templated/repetitive docs score near 0, incoherent token soup
    // goes strongly negative. No smoothing needed — every doc bigram
    // is in the corpus by construction. Counts are exact ints into
    // single ln() calls; the per-doc sum is ~100 terms of magnitude
    // ≤15, so reduce-order ulps sit ~4 orders below the ROUND(.,6)
    // cut (the text_entropy precedent). Docs under 2 tokens are
    // filtered BEFORE sequence() (the descending sequence(1,0) trap).
    // Scale: the token array is materialized as a column BEFORE the
    // transform lambda — higher-order functions are interpreted, so an
    // inlined split() inside the lambda re-runs the regex per element
    // (O(n^2) per doc; measured 639 s at sf100 before this fix, 9 s
    // after). The instance stream is collapsed to per-doc bigram
    // counts (doc_id, w1, w2, k) FIRST; corpus bigram counts derive
    // from that, unigram counts derive from bigram counts (no second
    // pass over the corpus), and the final join is count-table vs
    // count-table on the bigram key — both sides shuffle on (w1, w2),
    // so the exchange is planned once and reused. All keys stay
    // high-cardinality (bigram / doc), no broadcast of vocabulary.
    "text_lm_score" -> QueryDef.sql(
      (s, dir) => lmScores(Tables.documents(s, dir)).orderBy("doc_id"),
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |bg AS (SELECT doc_id, t[CAST(s.i AS INT)] AS w1, t[CAST(s.i AS INT) + 1] AS w2
        |       FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
        |             FROM toks WHERE len(t) >= 2) s(doc_id, t, i)),
        |bic AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
        |uni AS (SELECT w1 AS u_w1, COUNT(*) AS c1 FROM bg GROUP BY 1)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(SUM(ln(CAST(c2 AS DOUBLE)) - ln(CAST(c1 AS DOUBLE))) / COUNT(*), 6) AS lm_score
        |FROM bg JOIN bic USING (w1, w2) JOIN uni ON bg.w1 = uni.u_w1
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // B27: corpus snapshot drift — see corpusDrift below for the
    // semantics and the determinism/scale notes.
    "corpus_drift" -> QueryDef.sql(
      (s, dir) => corpusDrift(Tables.documents(s, dir)),
      """WITH cnt AS (
        |  SELECT lang, w,
        |         CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |         CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM (SELECT lang, doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |        FROM documents)
        |  GROUP BY 1, 2),
        |tot AS (
        |  SELECT lang AS t_lang,
        |         CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
        |         COUNT(*) AS v
        |  FROM cnt GROUP BY 1)
        |SELECT lang, CAST(v AS BIGINT) AS n_terms,
        |  ROUND(SUM(
        |    (ca + 1.0) / CAST(na + v AS DOUBLE) *
        |    (ln(ca + 1.0) - ln(CAST(na + v AS DOUBLE)) -
        |     ln(cb + 1.0) + ln(CAST(nb + v AS DOUBLE)))), 6) AS kl_ab
        |FROM cnt JOIN tot ON lang = t_lang
        |GROUP BY lang, v
        |ORDER BY lang""".stripMargin),

    // B28: temperature-weighted mix planning — the alpha-power
    // language-balancing rule multilingual training runs use
    // (target share ∝ n^alpha, alpha = 0.5 here): low-resource
    // languages are boosted, high-resource ones damped. Pure
    // aggregate math over the 5-row per-lang count table (the data
    // pass is ONE partial-aggregated count; everything after is
    // broadcast-scalar arithmetic, nothing to shard at 100 TB).
    // Determinism: sqrt is correctly rounded per IEEE so per-lang
    // terms are bit-identical across engines; the 5-term z sum's
    // reduce-order ulps sit ~7 orders below the ROUND(.,6) cut.
    "corpus_mix_temperature" -> QueryDef.sql(
      (s, dir) => {
        val counts = Tables.documents(s, dir)
          .groupBy("lang").agg(count(lit(1)).as("n_docs"))
        val tot = counts.agg(
          sum("n_docs").as("n_total"),
          sum(sqrt(col("n_docs").cast("double"))).as("z"))
        counts.crossJoin(broadcast(tot))
          .select(col("lang"), col("n_docs"),
            round(sqrt(col("n_docs").cast("double")) / col("z"), 6).as("share_alpha"),
            round(sqrt(col("n_docs").cast("double")) / col("z") *
              col("n_total").cast("double") / col("n_docs").cast("double"), 6).as("boost"))
          .orderBy("lang")
      },
      """WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
        |t AS (SELECT SUM(n_docs) AS n_total, SUM(sqrt(CAST(n_docs AS DOUBLE))) AS z FROM c)
        |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
        |  ROUND(sqrt(CAST(n_docs AS DOUBLE)) / z, 6) AS share_alpha,
        |  ROUND(sqrt(CAST(n_docs AS DOUBLE)) / z * CAST(n_total AS DOUBLE)
        |        / CAST(n_docs AS DOUBLE), 6) AS boost
        |FROM c, t ORDER BY lang""".stripMargin),

    // B29: per-doc n-gram novelty — the fraction of a doc's trigram
    // instances whose trigram FIRST appears (min doc_id corpus-wide)
    // in that doc: "how much new content does each doc add", the
    // instance-level complement of chunk dedup. Trigrams come from
    // the materialized token array (the lm_score lesson — never
    // split() inside the lambda); counts collapse to per-doc trigram
    // rows before the trigram-keyed shuffle, the first-occurrence min
    // partial-aggregates on the same key, and the join back reuses
    // that exchange. Final ratio is one division of exact ints.
    "text_ngram_novelty" -> QueryDef.sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), toks(col("text")).as("t"))
          .filter(size(col("t")) >= 3)
        // ONE trigram explode, ONE exchange: the raw instance stream
        // repartitions on tri, and everything downstream rides that
        // partitioning — hashpartitioning(tri) satisfies the
        // (doc_id, tri) clustering as a key subset, so the per-doc
        // counts, the first-occurrence min, AND their join all plan
        // exchange-free on top (asserted in QueryPlanShapeSpec).
        // Without the explicit repartition Catalyst re-derives the
        // min branch from a second full Generate over the corpus —
        // two tokenize+explode passes of every document.
        val inst = docs
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(t) - 2), i -> concat_ws(' ', " +
              "element_at(t, i), element_at(t, i + 1), element_at(t, i + 2)))")).as("tri"))
          .repartition(col("tri"))
        val tri = inst.groupBy("doc_id", "tri").agg(count(lit(1)).as("k"))
        val first = inst.groupBy("tri").agg(min("doc_id").as("first_doc"))
        tri.join(first, "tri")
          .groupBy("doc_id")
          .agg(sum("k").as("n_trigrams"),
            sum(when(col("first_doc") === col("doc_id"), col("k")).otherwise(0L)).as("n_novel"))
          .withColumn("novelty",
            round(col("n_novel").cast("double") / col("n_trigrams").cast("double"), 6))
          .orderBy("doc_id")
      },
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |tri0 AS (SELECT doc_id,
        |           t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS tri
        |         FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
        |               FROM toks WHERE len(t) >= 3)),
        |cnt AS (SELECT doc_id, tri, COUNT(*) AS k FROM tri0 GROUP BY 1, 2),
        |firsts AS (SELECT tri, MIN(doc_id) AS first_doc FROM cnt GROUP BY 1)
        |SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_trigrams,
        |  CAST(SUM(CASE WHEN first_doc = doc_id THEN k ELSE 0 END) AS BIGINT) AS n_novel,
        |  ROUND(CAST(SUM(CASE WHEN first_doc = doc_id THEN k ELSE 0 END) AS DOUBLE)
        |        / CAST(SUM(k) AS DOUBLE), 6) AS novelty
        |FROM cnt JOIN firsts USING (tri)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // B30: per-provenance mix report — doc/token/char totals and the
    // exact token share (parts-per-million) for every (source, lang)
    // cell. The first question a data-mix review asks of a corpus:
    // what did each crawl/provider contribute, per language? One
    // partial-aggregated count pass (map-side combine collapses to
    // #source×#lang rows before the shuffle), then a broadcast of the
    // single-row total — the corpus_mix_temperature shape. share_ppm
    // is exact integer arithmetic: the token count is widened to
    // DECIMAL(38,0) (HUGEINT in the oracle) before the ×1e6 so the
    // product can't overflow a long even at 100 TB corpus sizes.
    "corpus_source_mix" -> QueryDef.sql(
      (s, dir) => {
        val g = Tables.documents(s, dir)
          .select(col("source"), col("lang"),
            tokCount(col("text")).as("ntok"), col("n_chars"))
          .groupBy("source", "lang")
          .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"),
            sum("n_chars").as("sum_chars"))
        val tot = g.agg(sum("n_tokens").as("tot"))
        g.crossJoin(broadcast(tot))
          .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
            col("sum_chars"),
            expr("CAST(n_tokens AS DECIMAL(38,0)) * 1000000 div tot").as("share_ppm"))
          .orderBy("source", "lang")
      },
      """WITH g AS (SELECT source, lang, COUNT(*) AS n_docs,
        |  CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1, 2),
        |t AS (SELECT SUM(n_tokens) AS tot FROM g)
        |SELECT source, lang, n_docs, n_tokens, sum_chars,
        |  CAST(CAST(n_tokens AS HUGEINT) * 1000000 // tot AS BIGINT) AS share_ppm
        |FROM g, t ORDER BY source, lang""".stripMargin),

    // B31: corpus-wide boilerplate strip (the CCNet shape): a 10-token
    // chunk that appears in >= 3 DISTINCT documents is boilerplate
    // (site headers, license blocks, navigation text); every instance
    // of it is dropped and each document is reassembled from its
    // surviving chunks in order. Complements text_scrub_repeats
    // (within-doc repeats) and dedup_chunks (first-occurrence census)
    // with the count-threshold semantic.
    //
    // Scale design — pass 1 exchanges only (doc_id, chunk_idx, md5)
    // triples for the document-frequency count; flagged hashes stay a
    // RELATION and meet the triples in an equi-join on the hash (the
    // planner broadcasts it when small, shuffles when not — never a
    // per-row scan); each doc's DROPPED CHUNK INDICES collapse to one
    // small int array that joins back on doc_id, and the rebuild is
    // row-local index filtering over the doc's own chunk array. The
    // r8 sf1 pack killed the previous broadcast-array design: probing
    // a collect_list of every flagged hash via array_contains inside
    // a lambda is #chunks × |flagged| work per doc — 147 s at sf1
    // (replication flags every chunk) vs linear everywhere under the
    // join form. All passes use Generate-the-indices chunking /
    // slice-from-attribute so the tokenizer regex runs once per doc
    // (the O(n^2/10) inline-split trap, SURVEY §4); the rebuild
    // transform sits ABOVE the drop join so CollapseProject cannot
    // inline the split into the lambda (plan-asserted: three linear
    // split passes, no BroadcastNestedLoopJoin). The final doc_id join
    // exchanges the documents relation once when drops don't
    // broadcast — a doc_id-bucketed store makes it exchange-free.
    // text_clean is NULL (not '') when every chunk is boilerplate,
    // matching string_agg-over-no-rows in the oracle.
    "text_strip_boilerplate" -> QueryDef.sql(
      (s, dir) => {
        val hashed = Tables.documents(s, dir)
          .select(col("doc_id"), toks(col("text")).as("t"))
          .select(col("doc_id"), col("t"), posexplode(expr(
            "sequence(0, CAST(floor((size(t) - 1) / 10) AS INT))"))
            .as(Seq("ord", "chunk_idx")))
          .select(col("doc_id"), col("chunk_idx"),
            md5(concat_ws(" ", slice(col("t"), col("chunk_idx") * 10 + 1, lit(10)))).as("h"))
        // the census and the drops join each scan-tokenize the corpus
        // once (a text_ngram_novelty-style shared exchange is NOT
        // reachable here: the census prunes chunk_idx and the drops
        // branch carries a pushed isnotnull(doc_id), so the two
        // exchange subtrees can never be byte-identical) — two linear
        // pipelined passes, the skew-safe trade for a map-combined
        // census instead of an h-windowed count that a hot boilerplate
        // hash would serialize
        val flagged = hashed.groupBy("h")
          .agg(countDistinct(col("doc_id")).as("df"))
          .filter(col("df") >= 3)
          .select("h")
        val drops = hashed.join(flagged, "h")
          .groupBy("doc_id")
          .agg(collect_list(col("chunk_idx")).as("drop"))
        Tables.documents(s, dir)
          .select(col("doc_id"), toks(col("text")).as("t"))
          .join(drops, Seq("doc_id"), "left")
          .select(col("doc_id"), expr(
            "transform(sequence(0, CAST(floor((size(t) - 1) / 10) AS INT)), " +
              "i -> concat_ws(' ', slice(t, i * 10 + 1, 10)))").as("chunks"),
            coalesce(col("drop"), array().cast("array<int>")).as("drop"))
          .select(col("doc_id"),
            size(col("chunks")).cast("long").as("n_chunks"),
            size(col("drop")).cast("long").as("n_boiler"),
            nullif(array_join(
              expr("filter(chunks, (c, i) -> NOT array_contains(drop, i))"), " "),
              lit("")).as("text_clean"))
          .orderBy("doc_id")
      },
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |chunks AS (
        |  SELECT doc_id, s.i AS chunk_idx,
        |         array_to_string(t[(s.i * 10 + 1):((s.i + 1) * 10)], ' ') AS chunk
        |  FROM (SELECT doc_id, t,
        |          unnest(range(0, CAST(floor((len(t) - 1) / 10) AS INT) + 1)) AS i
        |        FROM toks) s(doc_id, t, i)),
        |boiler AS (SELECT md5(chunk) AS h FROM chunks
        |           GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 3)
        |SELECT doc_id, COUNT(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN md5(chunk) IN (SELECT h FROM boiler) THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |  string_agg(CASE WHEN md5(chunk) NOT IN (SELECT h FROM boiler) THEN chunk END,
        |             ' ' ORDER BY chunk_idx) AS text_clean
        |FROM chunks GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // B32: contamination SCORE — the grading complement of the binary
    // corpus_decontaminate gate: per document, what fraction of its
    // 3-gram instances hit the benchmark probe set (pipelines rank by
    // overlap and cut at a threshold rather than dropping on any hit).
    // The hit test is row-local (literal probe set, no shuffle); the
    // only exchange is the per-doc count roll-up, map-side combined to
    // ~1 row per doc. contam_pm is exact integer arithmetic
    // (hits × 10000 div instances) — no double division to diverge.
    "corpus_contamination_score" -> QueryDef.sql(
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), toks(col("text")).as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"), col("lang"), explode(expr(
          "transform(sequence(1, size(t) - 2), i -> concat_ws(' ', " +
            "element_at(t, i), element_at(t, i + 1), element_at(t, i + 2)))")).as("sh"))
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_shingles"),
          sum(col("sh").isin(ProbeShingles: _*).cast("long")).as("n_hits"))
        .withColumn("contam_pm", expr("n_hits * 10000 div n_shingles"))
        .orderBy("doc_id"),
      s"""WITH d AS (SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
         |w AS (SELECT doc_id, lang,
         |        t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS sh
         |      FROM (SELECT doc_id, lang, t, unnest(range(1, len(t) - 1)) AS i
         |            FROM d WHERE len(t) >= 3))
         |SELECT doc_id, lang, COUNT(*) AS n_shingles,
         |  CAST(SUM(CASE WHEN sh IN (${ProbeShingles.map(p => s"'$p'").mkString(", ")}) THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  CAST(SUM(CASE WHEN sh IN (${ProbeShingles.map(p => s"'$p'").mkString(", ")}) THEN 1 ELSE 0 END) * 10000
         |       // COUNT(*) AS BIGINT) AS contam_pm
         |FROM w GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin),

    // B33: language-ID confusion matrix — the classifier-eval report a
    // pipeline publishes alongside its langid pass: per (labeled lang,
    // predicted lang) doc counts plus the per-label recall in exact
    // parts-per-myriad. Row-local scoring (the langPredicted argmax
    // shared with text_langid / corpus_select), one map-combined
    // roll-up to ≤ #langs² cells, broadcast of the per-label totals.
    "text_langid_confusion" -> QueryDef.sql(
      (s, dir) => {
        val cells = Tables.documents(s, dir)
          .select(col("lang"), langPredicted(col("text")).as("lang_pred"))
          .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n_docs"))
        val tot = cells.groupBy(col("lang").as("t_lang")).agg(sum("n_docs").as("n_lang"))
        cells.join(broadcast(tot), col("lang") === col("t_lang"))
          .select(col("lang"), col("lang_pred"), col("n_docs"),
            expr("n_docs * 10000 div n_lang").as("cell_pm"))
          .orderBy("lang", "lang_pred")
      },
      s"""WITH cells AS (
         |  SELECT lang, ${langPredictedSql("text")} AS lang_pred, COUNT(*) AS n_docs
         |  FROM documents GROUP BY 1, 2),
         |tot AS (SELECT lang AS t_lang, SUM(n_docs) AS n_lang FROM cells GROUP BY 1)
         |SELECT lang, lang_pred, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_docs * 10000 // n_lang AS BIGINT) AS cell_pm
         |FROM cells JOIN tot ON lang = t_lang
         |ORDER BY lang, lang_pred""".stripMargin),

    // B34: BM25 retrieval — score every document against a fixed query
    // term set (k1=1.2, b=0.75, Lucene's nonnegative idf
    // ln(1 + (N-df+0.5)/(df+0.5))) and return the top 20. The
    // inverted-index complement: where text_inverted_index BUILDS
    // postings, this RANKS with them. The explode is filtered to query
    // terms in the scan stage, so only matching (doc, term) rows ever
    // shuffle (|terms| × docs worst case, not the token stream);
    // corpus stats (N, total tokens) ride in as one broadcast row; df
    // per term is a ≤|terms|-row aggregate. Per-term scores are
    // ROUNDed to 6 then summed as DECIMAL so the per-doc total is
    // partition-order-independent; the (score desc, doc_id) cut is a
    // TakeOrdered.
    "text_bm25" -> QueryDef.sql(
      (s, dir) => bm25Top20(s, dir),
      s"""WITH $Bm25CteSql
         |SELECT doc_id, score FROM bm ORDER BY score DESC, doc_id""".stripMargin),

    // B35: Gopher-style rule gate — the named-heuristic quality filter
    // (word count bounds, mean word length bounds, stopword presence)
    // every pretraining pipeline runs before model-based scoring. Each
    // rule is an integer-exact row-local flag (chars-per-token uses
    // integer myriad arithmetic — no double division to drift), the
    // verdict is their conjunction, and the output is the per-doc rule
    // ledger an auditor wants, not just the surviving rows. Pure scan-
    // stage work: no shuffle at any scale.
    "corpus_gopher_rules" -> QueryDef.sql(
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), tokCount(col("text")).as("n_tokens"),
          length(trim(col("text"))).cast("long").as("n_chars"),
          (langPredicted(col("text")) =!= "unk").as("has_stopwords"))
        .withColumn("cpt_pm", expr("n_chars * 10000 div n_tokens"))
        .withColumn("ok_len", col("n_tokens").between(20L, 90L))
        .withColumn("ok_word_len", col("cpt_pm").between(48000L, 60000L))
        .withColumn("keep", col("ok_len") && col("ok_word_len") && col("has_stopwords"))
        .drop("n_chars")
        // canonical-four output types: flags as BIGINT 0/1 on both
        // engines (the r8 HUGEINT/-0.0 lesson generalized: only
        // VARCHAR/BIGINT/DOUBLE/DECIMAL ever reach the driver hash)
        .select(col("doc_id"), col("n_tokens"), col("cpt_pm"),
          col("has_stopwords").cast("long").as("has_stopwords"),
          col("ok_len").cast("long").as("ok_len"),
          col("ok_word_len").cast("long").as("ok_word_len"),
          col("keep").cast("long").as("keep"))
        .orderBy("doc_id"),
      s"""SELECT doc_id, n_tokens, cpt_pm,
         |  CAST(has_stopwords AS BIGINT) AS has_stopwords,
         |  CAST(n_tokens BETWEEN 20 AND 90 AS BIGINT) AS ok_len,
         |  CAST(cpt_pm BETWEEN 48000 AND 60000 AS BIGINT) AS ok_word_len,
         |  CAST((n_tokens BETWEEN 20 AND 90) AND (cpt_pm BETWEEN 48000 AND 60000)
         |    AND has_stopwords AS BIGINT) AS keep
         |FROM (SELECT doc_id,
         |        CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |        length(trim(text)) * 10000 // len(regexp_split_to_array(trim(text), '\\s+')) AS cpt_pm,
         |        ${langPredictedSql("text")} <> 'unk' AS has_stopwords
         |      FROM documents) t
         |ORDER BY doc_id""".stripMargin),

    // B61: RAKE keyword extraction — candidate phrases are maximal
    // stopword-free runs (split at the en stopword lexicon), scored
    // by the classic degree/frequency ratio summed over the phrase's
    // words — here as EXACT scaled integers (Σ deg·1e6 div freq, the
    // same floor division on both engines) so the top-20 cut is
    // deterministic. Word stats aggregate per occurrence corpus-wide
    // (one map-combined shuffle); phrase scoring then runs on the
    // DISTINCT phrase set joined against the word-stat table.
    "text_rake_keywords" -> QueryDef.sql(
      (s, dir) => {
        val phr = Tables.documents(s, dir)
          .select(explode(split(col("text"), "\\b(?:the|and|of|to|a|in)\\b")).as("rawp"))
          .select(trim(col("rawp")).as("p"))
          .filter(length(col("p")) > 0)
        val pw = phr.select(col("p"),
          explode(split(col("p"), "\\s+")).as("w"),
          size(split(col("p"), "\\s+")).cast("long").as("plen"))
        val ws = pw.groupBy("w")
          .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
        val dp = phr.groupBy("p").agg(count(lit(1)).as("occurrences"))
        dp.select(col("p"), col("occurrences"),
            explode(split(col("p"), "\\s+")).as("w"))
          .join(ws, "w")
          .groupBy("p", "occurrences")
          .agg(count(lit(1)).as("n_words"),
            sum(expr("deg * 1000000 div freq")).as("score_ppm"))
          .select(col("p").as("phrase"), col("occurrences"), col("n_words"),
            col("score_ppm"))
          .orderBy(col("score_ppm").desc, col("phrase")).limit(20)
      },
      """WITH phr AS (
        |  SELECT trim(x) AS p
        |  FROM (SELECT unnest(regexp_split_to_array(text, '\b(?:the|and|of|to|a|in)\b')) AS x
        |        FROM documents) t
        |  WHERE length(trim(x)) > 0),
        |pw AS (SELECT p, unnest(regexp_split_to_array(p, '\s+')) AS w,
        |         CAST(len(regexp_split_to_array(p, '\s+')) AS BIGINT) AS plen
        |       FROM phr),
        |ws AS (SELECT w, COUNT(*) AS freq, CAST(SUM(plen) AS BIGINT) AS deg
        |       FROM pw GROUP BY 1),
        |dp AS (SELECT p, COUNT(*) AS occurrences FROM phr GROUP BY 1),
        |dw AS (SELECT p, occurrences, unnest(regexp_split_to_array(p, '\s+')) AS w
        |       FROM dp)
        |SELECT p AS phrase, CAST(occurrences AS BIGINT) AS occurrences,
        |       COUNT(*) AS n_words,
        |       CAST(SUM(deg * 1000000 // freq) AS BIGINT) AS score_ppm
        |FROM dw JOIN ws USING (w)
        |GROUP BY p, occurrences
        |ORDER BY score_ppm DESC, phrase LIMIT 20""".stripMargin),

    // B59: quality-rule ablation — the curation question behind any
    // multi-rule gate: per rule, how many docs it rejects at all and
    // how many it UNIQUELY rejects (no other rule fires), i.e. the
    // marginal data cost of keeping the rule. Shares
    // corpus_gopher_rules' three rules; one scan, per-doc booleans
    // row-local, then a 3-row conditional rollup.
    "corpus_rule_ablation" -> QueryDef.sql(
      (s, dir) => {
        val flags = Tables.documents(s, dir)
          .select(col("doc_id"), tokCount(col("text")).as("n_tokens"),
            length(trim(col("text"))).cast("long").as("n_chars"),
            (langPredicted(col("text")) =!= "unk").as("has_stopwords"))
          .withColumn("cpt_pm", expr("n_chars * 10000 div n_tokens"))
          .withColumn("f_len", !col("n_tokens").between(20L, 90L))
          .withColumn("f_wl", !col("cpt_pm").between(48000L, 60000L))
          .withColumn("f_sw", !col("has_stopwords"))
        flags.agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("f_len"), 1L).otherwise(0L)).as("rej_len"),
            sum(when(col("f_len") && !col("f_wl") && !col("f_sw"), 1L)
              .otherwise(0L)).as("uniq_len"),
            sum(when(col("f_wl"), 1L).otherwise(0L)).as("rej_wl"),
            sum(when(col("f_wl") && !col("f_len") && !col("f_sw"), 1L)
              .otherwise(0L)).as("uniq_wl"),
            sum(when(col("f_sw"), 1L).otherwise(0L)).as("rej_sw"),
            sum(when(col("f_sw") && !col("f_len") && !col("f_wl"), 1L)
              .otherwise(0L)).as("uniq_sw"))
          .select(explode(array(
            struct(lit("len").as("rule"), col("n_docs"),
              col("rej_len").as("n_rejected"), col("uniq_len").as("n_unique")),
            struct(lit("word_len").as("rule"), col("n_docs"),
              col("rej_wl").as("n_rejected"), col("uniq_wl").as("n_unique")),
            struct(lit("stopwords").as("rule"), col("n_docs"),
              col("rej_sw").as("n_rejected"), col("uniq_sw").as("n_unique"))))
            .as("r"))
          .select("r.rule", "r.n_docs", "r.n_rejected", "r.n_unique")
          .orderBy("rule")
      },
      s"""WITH f AS (SELECT doc_id,
         |      NOT (n_tokens BETWEEN 20 AND 90) AS f_len,
         |      NOT (cpt_pm BETWEEN 48000 AND 60000) AS f_wl,
         |      NOT has_stopwords AS f_sw
         |    FROM (SELECT doc_id,
         |            CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |            length(trim(text)) * 10000 // len(regexp_split_to_array(trim(text), '\\s+')) AS cpt_pm,
         |            ${langPredictedSql("text")} <> 'unk' AS has_stopwords
         |          FROM documents) t),
         |a AS (SELECT COUNT(*) AS n_docs,
         |        CAST(SUM(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT) AS rej_len,
         |        CAST(SUM(CASE WHEN f_len AND NOT f_wl AND NOT f_sw THEN 1 ELSE 0 END) AS BIGINT) AS uniq_len,
         |        CAST(SUM(CASE WHEN f_wl THEN 1 ELSE 0 END) AS BIGINT) AS rej_wl,
         |        CAST(SUM(CASE WHEN f_wl AND NOT f_len AND NOT f_sw THEN 1 ELSE 0 END) AS BIGINT) AS uniq_wl,
         |        CAST(SUM(CASE WHEN f_sw THEN 1 ELSE 0 END) AS BIGINT) AS rej_sw,
         |        CAST(SUM(CASE WHEN f_sw AND NOT f_len AND NOT f_wl THEN 1 ELSE 0 END) AS BIGINT) AS uniq_sw
         |      FROM f)
         |SELECT rule, n_docs, n_rejected, n_unique FROM (
         |  SELECT 'len' AS rule, n_docs, rej_len AS n_rejected, uniq_len AS n_unique FROM a
         |  UNION ALL
         |  SELECT 'word_len', n_docs, rej_wl, uniq_wl FROM a
         |  UNION ALL
         |  SELECT 'stopwords', n_docs, rej_sw, uniq_sw FROM a) u
         |ORDER BY rule""".stripMargin),

    // B36: per-source quality prior blend — RefinedWeb-style curation
    // where a document's keep score mixes its own quality with its
    // source's reputation (mean quality of the source), catching good
    // docs from bad mirrors and vice versa. Per-doc q is the rounded
    // alpha ratio (the corpus_quality_gate scorer); the prior is an
    // exact DECIMAL sum over the source divided once (order-
    // independent), broadcast back (≤ #sources rows); the blend is one
    // fixed double expression. Scan + one tiny aggregate — the corpus
    // itself never shuffles.
    "corpus_domain_prior" -> QueryDef.sql(
      (s, dir) => {
        val q = round(length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") /
          length(col("text")), 6)
        val scored = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), q.as("q"))
        val prior = scored.groupBy(col("source").as("p_source"))
          .agg(round(sum(col("q").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .cast("double") / count(lit(1)), 6).as("prior"))
        scored.join(broadcast(prior), col("source") === col("p_source"))
          .withColumn("blended", round(lit(0.7) * col("q") + lit(0.3) * col("prior"), 6))
          .select(col("doc_id"), col("source"), col("q"), col("prior"),
            col("blended"), (col("blended") >= 0.822).cast("long").as("keep"))
          .orderBy("doc_id")
      },
      """WITH scored AS (
        |  SELECT doc_id, source,
        |    ROUND(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
        |          / length(text), 6) AS q
        |  FROM documents),
        |prior AS (SELECT source,
        |            ROUND(CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
        |              AS prior
        |          FROM scored GROUP BY 1)
        |SELECT doc_id, source, q, prior,
        |  ROUND(0.7 * q + 0.3 * prior, 6) AS blended,
        |  CAST(ROUND(0.7 * q + 0.3 * prior, 6) >= 0.822 AS BIGINT) AS keep
        |FROM scored JOIN prior USING (source)
        |ORDER BY doc_id""".stripMargin),

    // B37: DSIR-style importance weights — data selection by importance
    // resampling (Xie et al. 2023): score every raw document by how
    // much more likely its tokens are under a TARGET distribution
    // (here the English slice — the formal-domain stand-in) than under
    // the RAW corpus distribution, both add-one-smoothed unigram LMs
    // over the shared vocabulary. A pipeline resamples raw data with
    // probability ∝ exp(weight) to steer the mix toward the target
    // domain without a trained classifier.
    //
    // Determinism: the per-token log-ratio's ln() arguments are all
    // exact integers (c+1, N+V — the corpus_drift precedent), so
    // per-token values are bit-identical across engines; the per-doc
    // mean hides reduce-order ulps below the ROUND(.,6) cut (the
    // text_lm_score precedent). Scale: ONE token-keyed count shuffle
    // for both distributions (conditional sums in the same partial
    // agg), totals broadcast back as a single row, and the per-doc
    // token counts join the ratio table on the token key — the
    // corpus_drift shuffle class end to end; nothing quadratic,
    // no windows.
    "corpus_dsir_weights" -> QueryDef.sql(
      (s, dir) => {
        val inst = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), explode(toks(col("text"))).as("w"))
        val cnt = inst.groupBy("w").agg(
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"),
          count(lit(1)).as("cr"))
        val tot = cnt.agg(sum("ct").as("nt"), sum("cr").as("nr"), count(lit(1)).as("v"))
        val lr = cnt.crossJoin(broadcast(tot))
          .select(col("w").as("r_w"),
            (log(col("ct") + lit(1.0)) - log((col("nt") + col("v")).cast("double")) -
              log(col("cr") + lit(1.0)) + log((col("nr") + col("v")).cast("double")))
              .as("lr"))
        val dtc = inst.groupBy("doc_id", "w").agg(count(lit(1)).as("k"))
        dtc.join(lr, col("w") === col("r_w"))
          .groupBy("doc_id")
          .agg(sum("k").as("n_tokens"),
            round(sum(col("k").cast("double") * col("lr")) / sum("k").cast("double"), 6)
              .as("dsir_logratio"))
          .orderBy("doc_id")
      },
      """WITH inst AS (
        |  SELECT doc_id, lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents),
        |cnt AS (SELECT w,
        |          CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |          COUNT(*) AS cr
        |        FROM inst GROUP BY 1),
        |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cr) AS BIGINT) AS nr,
        |               COUNT(*) AS v
        |        FROM cnt),
        |lr AS (SELECT w, ln(ct + 1.0) - ln(CAST(nt + v AS DOUBLE))
        |              - ln(cr + 1.0) + ln(CAST(nr + v AS DOUBLE)) AS lr
        |       FROM cnt CROSS JOIN tot),
        |dtc AS (SELECT doc_id, w, COUNT(*) AS k FROM inst GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_tokens,
        |  ROUND(SUM(k * lr) / SUM(k), 6) AS dsir_logratio
        |FROM dtc JOIN lr USING (w)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // B38: cross-doc duplicated-SPAN removal ranges — the
    // exact-substring dedup shape (Lee et al., "Deduplicating Training
    // Data Makes Language Models Better") at trigram granularity:
    // find every 3-token window whose trigram occurs in >= 2 distinct
    // docs, merge OVERLAPPING flagged windows per doc into maximal
    // removal intervals (gaps-and-islands on the window start), and
    // report per doc how many intervals and tokens a surgical dedup
    // pass would cut. Scale: the trigram generator is the inline
    // expression (the 25x explode lesson); the dup set comes from a
    // distinct (trigram, doc) pair count — one token-keyed partial-agg
    // shuffle — and probes back by EQUI-JOIN, never a broadcast array
    // (the text_strip_boilerplate lesson); interval merging is a
    // per-doc window — parallelism = #docs, rows per task bounded by
    // doc length.
    "text_dup_spans" -> QueryDef.sql(
      (s, dir) => {
        val base = Tables.documents(s, dir)
          .select(col("doc_id"), toks(col("text")).as("t"))
          .filter(size(col("t")) >= 3)
        val win = base.select(col("doc_id"), posexplode(expr(
            "transform(sequence(0, size(t) - 3), i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))"))
          .as(Seq("pos0", "g")))
          .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("g"))
          // both the dup-gram census and the island pass consume this
          // token-trigram explode — materialize once (r14; the q_mad
          // grid discipline)
          .localCheckpoint(eager = false)
        val dup = win.select("g", "doc_id").distinct()
          .groupBy("g").agg(count(lit(1)).as("nd"))
          .filter(col("nd") >= 2).select("g")
        val w = Window.partitionBy("doc_id").orderBy("pos")
        val isl = win.join(dup, "g")
          .withColumn("new_isl",
            when(col("pos") - lag("pos", 1).over(w) > 2, 1L).otherwise(0L))
          .withColumn("island", sum("new_isl").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val perDoc = isl.groupBy("doc_id", "island")
          .agg(min("pos").as("s"), (max("pos") + 2).as("e"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_dup_spans"),
            sum(col("e") - col("s") + 1).as("dup_tokens"))
        base.select(col("doc_id"), size(col("t")).cast("long").as("total_tokens"))
          .join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
            coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
            col("total_tokens"),
            round(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
              col("total_tokens"), 6).as("dup_frac"))
          .orderBy("doc_id")
      },
      """WITH toksrc AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |tt AS (SELECT doc_id, len(t) AS total_tokens FROM toksrc WHERE len(t) >= 3),
        |w AS (SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS pos
        |      FROM toksrc WHERE len(t) >= 3),
        |gr AS (SELECT a.doc_id, a.pos, a.tok || ' ' || b.tok || ' ' || c.tok AS g
        |       FROM w a
        |       JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |       JOIN w c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        |dup AS (SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS nd
        |                       FROM gr GROUP BY g) WHERE nd >= 2),
        |f AS (SELECT doc_id, pos FROM gr WHERE g IN (SELECT g FROM dup)),
        |isl AS (SELECT doc_id, pos,
        |          SUM(CASE WHEN pos - lag_pos > 2 THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |        FROM (SELECT doc_id, pos,
        |                lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS lag_pos
        |              FROM f)),
        |iv AS (SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + 2 AS e
        |       FROM isl GROUP BY 1, 2),
        |agg AS (SELECT doc_id, COUNT(*) AS n_dup_spans,
        |               SUM(e - s + 1) AS dup_tokens
        |        FROM iv GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CAST(COALESCE(a.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
        |  CAST(COALESCE(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |  CAST(t.total_tokens AS BIGINT) AS total_tokens,
        |  ROUND(CAST(COALESCE(a.dup_tokens, 0) AS DOUBLE) / t.total_tokens, 6)
        |    AS dup_frac
        |FROM tt t LEFT JOIN agg a ON t.doc_id = a.doc_id
        |ORDER BY t.doc_id""".stripMargin),

    // B39: winnowing document fingerprints (Schleimer/Wilkerson/Aiken
    // 2003, the MOSS algorithm) — the local fingerprint-selection
    // scheme copy-detection and plagiarism pipelines use: hash every
    // char k-gram (k=6, polynomial base-31 mod 1000003 — exact long
    // arithmetic, no float), slide a window of w=4 consecutive hashes,
    // and select each window's MINIMUM hash (rightmost on ties). The
    // guarantee: any shared substring of length >= k+w-1 yields at
    // least one shared fingerprint, while only ~2/(w+1) of grams are
    // kept. Output per doc: gram/fingerprint counts, density, and
    // min/max/Σ(hash·pos) checksums that pin the SELECTED SET exactly.
    //
    // Scale: selection runs in the native codegen'd winnow_fps
    // expression (TextOps.winnowNative — the SimHash48/LshBandKeys
    // pattern): one O(L·w) pass per doc inside the scan stage, and
    // only the selected ~2/(w+1)-density fingerprint stream reaches an
    // exchange. The declarative TextOps.winnow build (w× offset explode
    // + (doc, window-start) partial agg) is the spec'd reference the
    // native path is pinned row-identical to (WinnowNativeSpec) — it
    // measured 17.7 s at sf0.1 where the native form is sub-second.
    // Determinism: pure integer hashing; tie-break is rightmost
    // position on both engines.
    "text_winnowing" -> QueryDef.sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val fp = TextOps.winnowNative(docs, "doc_id", "text") // k=6, w=4
        val agg = fp.groupBy("doc_id").agg(
          count(lit(1)).as("n_fingerprints"),
          min("fp").as("fp_min"), max("fp").as("fp_max"),
          sum(col("fp") * col("selpos")).as("fp_checksum"))
        docs.filter(length(col("text")) >= 9)
          .select(col("doc_id"), (length(col("text")) - 5).cast("long").as("n_grams"))
          .join(agg, Seq("doc_id"))
          .select(col("doc_id"), col("n_grams"), col("n_fingerprints"),
            round(col("n_fingerprints").cast("double") / col("n_grams"), 6).as("density"),
            col("fp_min"), col("fp_max"), col("fp_checksum"))
          .orderBy("doc_id")
      },
      """WITH ch AS (SELECT doc_id, CAST(length(text) - 5 AS BIGINT) AS L,
        |              string_split(text, '') AS c
        |            FROM documents WHERE length(text) >= 9),
        |hs AS (SELECT doc_id, L, CAST(s.i AS BIGINT) AS pos,
        |         (CAST(ascii(c[CAST(s.i AS INT)]) AS BIGINT) * 28629151 +
        |          ascii(c[CAST(s.i AS INT) + 1]) * 923521 +
        |          ascii(c[CAST(s.i AS INT) + 2]) * 29791 +
        |          ascii(c[CAST(s.i AS INT) + 3]) * 961 +
        |          ascii(c[CAST(s.i AS INT) + 4]) * 31 +
        |          ascii(c[CAST(s.i AS INT) + 5])) % 1000003 AS h
        |       FROM (SELECT doc_id, L, c, unnest(range(1, len(c) - 4)) AS i
        |             FROM ch) s(doc_id, L, c, i)),
        |wexp AS (SELECT doc_id, pos - o.off AS ws, pos, h, L
        |         FROM hs CROSS JOIN (VALUES (0), (1), (2), (3)) o(off)
        |         WHERE pos - o.off >= 1 AND pos - o.off <= L - 3),
        |wm AS (SELECT doc_id, ws, MIN(h) AS wmin FROM wexp GROUP BY 1, 2),
        |sel AS (SELECT e.doc_id, e.ws, MAX(e.pos) AS selpos, MAX(m.wmin) AS fp
        |        FROM wexp e JOIN wm m ON e.doc_id = m.doc_id AND e.ws = m.ws
        |        WHERE e.h = m.wmin GROUP BY 1, 2),
        |fp AS (SELECT DISTINCT doc_id, selpos, fp FROM sel),
        |agg AS (SELECT doc_id, COUNT(*) AS n_fingerprints,
        |               MIN(fp) AS fp_min, MAX(fp) AS fp_max,
        |               CAST(SUM(fp * selpos) AS BIGINT) AS fp_checksum
        |        FROM fp GROUP BY doc_id)
        |SELECT c.doc_id, c.L AS n_grams, a.n_fingerprints,
        |  ROUND(CAST(a.n_fingerprints AS DOUBLE) / c.L, 6) AS density,
        |  a.fp_min, a.fp_max, a.fp_checksum
        |FROM ch c JOIN agg a ON c.doc_id = a.doc_id
        |ORDER BY c.doc_id""".stripMargin),

    // B40: perplexity-bucket mix (the CCNet head/middle/tail split,
    // Wenzek et al. 2020): bucket every scorable doc by its corpus-LM
    // fluency score (lmScores — the text_lm_score surface's numbers)
    // into per-LANGUAGE tertiles, the split CCNet uses to keep "head"
    // (most fluent) data and downsample the tail. Cut points are EXACT
    // percentile_disc values via ExactQuantiles' integer rank rule
    // (3·cum >= n, 3·cum >= 2·n — stored doubles, no interpolation,
    // so the hash cannot drift); the oracle spells the identical
    // cumulative-count definition as window SQL rather than trusting
    // another engine's quantile rounding. Scale: a per-doc ROUND(.,6)
    // mean is NOT a distinct-bounded domain — essentially every doc
    // carries its own score, so the first cut used the compact
    // one-window-per-lang path and measured 398 s at sf10 (a 10 M-row
    // single-task sort per language). The cut points now come from the
    // fully-sharded ExactQuantiles.percentiles (prefix sums over
    // (lang, score-range shard) — the unbounded-domain contract), and
    // bucket totals are a partial-agg straight over doc rows against
    // the broadcast 5-row cut table: 13.9 s at sf10, same hashes.
    "corpus_lm_buckets" -> QueryDef.sql(
      (s, dir) => {
        import graft.operators.ExactQuantiles
        val docs = Tables.documents(s, dir)
        // materialize the score relation ONCE: both the cut pass and
        // the bucket pass consume it, and lmScores is a 4-stage bigram
        // join DAG that would otherwise execute twice (the GraphOps
        // localCheckpoint convention; ~16 B/doc, far under the
        // corpus it derives from)
        val sc = lmScores(docs, carry = Seq("lang")).localCheckpoint(eager = false)
        val cuts = ExactQuantiles.percentiles(
          sc, Seq("lang"), col("lm_score"), shardWidth = 0.01,
          Seq(ExactQuantiles.Disc("cut_lo", 1, 3), ExactQuantiles.Disc("cut_hi", 2, 3)))
        sc.join(broadcast(cuts), Seq("lang"))
          .withColumn("bucket",
            when(col("lm_score") <= col("cut_lo"), lit("tail"))
              .when(col("lm_score") <= col("cut_hi"), lit("middle"))
              .otherwise(lit("head")))
          .groupBy("lang", "bucket")
          .agg(count(lit(1)).as("n_docs"), sum("n_bigrams").as("n_bigrams"),
            max("cut_lo").as("cut_lo"), max("cut_hi").as("cut_hi"))
          .orderBy("lang", "bucket")
      },
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |bg AS (SELECT doc_id, t[CAST(s.i AS INT)] AS w1, t[CAST(s.i AS INT) + 1] AS w2
        |       FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
        |             FROM toks WHERE len(t) >= 2) s(doc_id, t, i)),
        |bic AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
        |uni AS (SELECT w1 AS u_w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
        |sc AS (SELECT doc_id, COUNT(*) AS n_bigrams,
        |         ROUND(SUM(ln(CAST(c2 AS DOUBLE)) - ln(CAST(c1 AS DOUBLE))) / COUNT(*), 6)
        |           AS lm_score
        |       FROM bg JOIN bic USING (w1, w2) JOIN uni ON bg.w1 = uni.u_w1
        |       GROUP BY doc_id),
        |wl AS (SELECT sc.doc_id, sc.n_bigrams, sc.lm_score, d.lang
        |       FROM sc JOIN documents d USING (doc_id)),
        |cnt AS (SELECT lang, lm_score, COUNT(*) AS nd,
        |               CAST(SUM(n_bigrams) AS BIGINT) AS nb
        |        FROM wl GROUP BY 1, 2),
        |cw AS (SELECT lang, lm_score, nd, nb,
        |         SUM(nd) OVER (PARTITION BY lang ORDER BY lm_score) AS cum,
        |         SUM(nd) OVER (PARTITION BY lang) AS n
        |       FROM cnt),
        |cuts AS (SELECT lang,
        |           MIN(CASE WHEN 3 * cum >= n THEN lm_score END) AS cut_lo,
        |           MIN(CASE WHEN 3 * cum >= 2 * n THEN lm_score END) AS cut_hi
        |         FROM cw GROUP BY 1)
        |SELECT c.lang,
        |  CASE WHEN c.lm_score <= u.cut_lo THEN 'tail'
        |       WHEN c.lm_score <= u.cut_hi THEN 'middle'
        |       ELSE 'head' END AS bucket,
        |  CAST(SUM(c.nd) AS BIGINT) AS n_docs,
        |  CAST(SUM(c.nb) AS BIGINT) AS n_bigrams,
        |  MAX(u.cut_lo) AS cut_lo, MAX(u.cut_hi) AS cut_hi
        |FROM cnt c JOIN cuts u USING (lang)
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),

    // B41: winnowing-based near-dup candidate pairs — what the MOSS
    // fingerprints are FOR: an inverted index on fingerprint values
    // finds documents sharing local content even when every position
    // shifted. The demo corpus doubles each doc with a doc-dependent
    // PREFIX mutation (different lengths, so no fingerprint keeps its
    // position — only value overlap can recover the pair; the
    // WinnowingSpec shift-invariance property at corpus scale). Pairs
    // with >= 50% fingerprint overlap (of the smaller doc) survive.
    //
    // Scale: fingerprints from the scan-stage winnow_fps expression
    // at k=9 (this corpus is template-generated — at k=6 the MEDIAN
    // fingerprint appears in 40 docs and no pair survives a df cap;
    // at k=9 the median df is 4); the posting list is capped at
    // df <= 10 before the self-join — the standard inverted-index
    // dedup bound: a stop-fingerprint shared by thousands of docs
    // would otherwise go quadratic, and dropping it loses nothing
    // (ubiquitous substrings identify nobody). Overlap is measured
    // over the SURVIVING (discriminative) fingerprints on both sides
    // of the ratio — the IDF move: a pair is near-dup when it shares
    // what is rare, not what is everywhere. Pair counting is a
    // partial-agg over the fp equi-join; no all-pairs comparison
    // anywhere. Recovers all 500 planted mutated pairs at sf0.01
    // (median sim 1.0) plus the corpus's genuine template near-dups.
    "dedup_winnowing" -> QueryDef.sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val mut = docs.select((col("doc_id") + lit(10000000L)).as("doc_id"),
          concat(lit("pfx"), (col("doc_id") * 7919 % 97).cast("string"), lit(" "),
            col("text")).as("text"))
        val corpus = docs.select(col("doc_id"), col("text")).unionByName(mut)
        // ONE fp-keyed shuffle builds the whole inverted index:
        // collect_set dedups a doc's repeated fingerprints AND yields
        // the posting list, so the previous distinct + df-count +
        // join-back + fpk⋈fpk self-join (four full-volume exchanges,
        // 225 s at sf10) collapses to a single exchange. Pairs are
        // generated ROW-LOCALLY from each ≤10-element posting array
        // (the df cap bounds the combination count at 45/fp) — the
        // big-big self-join never exists. array_sort makes a < b by
        // construction (collect_set order is nondeterministic).
        val posting = TextOps.winnowNative(corpus, "doc_id", "text", k = 9, w = 4)
          .groupBy("fp").agg(collect_set(col("doc_id")).as("ds"))
          .filter(size(col("ds")) <= 10)
          .select(array_sort(col("ds")).as("ds"))
        val sizes = posting.select(explode(col("ds")).as("doc_id"))
          .groupBy("doc_id").agg(count(lit(1)).as("nfp"))
        // sequence(1, 0) counts DOWN in Spark — guard out singleton
        // postings (they feed sizes but contribute no pairs)
        val pairs = posting.filter(size(col("ds")) >= 2)
          .select(explode(expr(
            "flatten(transform(sequence(1, size(ds) - 1), i -> " +
              "transform(slice(ds, i + 1, size(ds) - i), y -> " +
              "struct(ds[i - 1] AS a, y AS b))))")).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(count(lit(1)).as("shared"))
        pairs
          .join(sizes.select(col("doc_id").as("a"), col("nfp").as("nfp_a")), "a")
          .join(sizes.select(col("doc_id").as("b"), col("nfp").as("nfp_b")), "b")
          .filter(col("shared") * 2 >= least(col("nfp_a"), col("nfp_b")))
          .select(col("a"), col("b"), col("shared"),
            round(col("shared").cast("double") / least(col("nfp_a"), col("nfp_b")), 6)
              .as("sim"))
          .orderBy("a", "b")
      },
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000,
        |         'pfx' || CAST(doc_id * 7919 % 97 AS VARCHAR) || ' ' || text
        |  FROM documents),
        |ch AS (SELECT doc_id, CAST(length(text) - 8 AS BIGINT) AS L,
        |              string_split(text, '') AS c
        |            FROM corpus WHERE length(text) >= 12),
        |hs AS (SELECT doc_id, L, CAST(s.i AS BIGINT) AS pos,
        |         (CAST(ascii(c[CAST(s.i AS INT) + 0]) AS BIGINT) * 852891037441 +
        |          CAST(ascii(c[CAST(s.i AS INT) + 1]) AS BIGINT) * 27512614111 +
        |          CAST(ascii(c[CAST(s.i AS INT) + 2]) AS BIGINT) * 887503681 +
        |          CAST(ascii(c[CAST(s.i AS INT) + 3]) AS BIGINT) * 28629151 +
        |          CAST(ascii(c[CAST(s.i AS INT) + 4]) AS BIGINT) * 923521 +
        |          CAST(ascii(c[CAST(s.i AS INT) + 5]) AS BIGINT) * 29791 +
        |          CAST(ascii(c[CAST(s.i AS INT) + 6]) AS BIGINT) * 961 +
        |          CAST(ascii(c[CAST(s.i AS INT) + 7]) AS BIGINT) * 31 +
        |          CAST(ascii(c[CAST(s.i AS INT) + 8]) AS BIGINT)) % 1000003 AS h
        |       FROM (SELECT doc_id, L, c, unnest(range(1, len(c) - 7)) AS i
        |             FROM ch) s(doc_id, L, c, i)),
        |wexp AS (SELECT doc_id, pos - o.off AS ws, pos, h, L
        |         FROM hs CROSS JOIN (VALUES (0), (1), (2), (3)) o(off)
        |         WHERE pos - o.off >= 1 AND pos - o.off <= L - 3),
        |wm AS (SELECT doc_id, ws, MIN(h) AS wmin FROM wexp GROUP BY 1, 2),
        |sel AS (SELECT e.doc_id, e.ws, MAX(e.pos) AS selpos, MAX(m.wmin) AS fpv
        |        FROM wexp e JOIN wm m ON e.doc_id = m.doc_id AND e.ws = m.ws
        |        WHERE e.h = m.wmin GROUP BY 1, 2),
        |fp AS (SELECT DISTINCT doc_id, fpv FROM sel),
        |posting AS (SELECT fpv FROM fp GROUP BY fpv HAVING COUNT(*) <= 10),
        |fpk AS (SELECT f.doc_id, f.fpv FROM fp f JOIN posting p USING (fpv)),
        |pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS shared
        |          FROM fpk x JOIN fpk y USING (fpv) WHERE x.doc_id < y.doc_id
        |          GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, COUNT(*) AS nfp FROM fpk GROUP BY 1)
        |SELECT p.a, p.b, CAST(p.shared AS BIGINT) AS shared,
        |  ROUND(CAST(p.shared AS DOUBLE) / LEAST(sa.nfp, sb.nfp), 6) AS sim
        |FROM pairs p
        |JOIN sizes sa ON p.a = sa.doc_id
        |JOIN sizes sb ON p.b = sb.doc_id
        |WHERE p.shared * 2 >= LEAST(sa.nfp, sb.nfp)
        |ORDER BY p.a, p.b""".stripMargin),

    // B42: INCREMENTAL snapshot dedup — the production ingest shape:
    // an existing corpus is already indexed; only the NEW batch
    // probes it, so candidates are new×old ONLY (never old×old — the
    // full-corpus pair problem was solved when the index was built,
    // and re-solving it per ingest is the classic accidental
    // quadratic of naive dedup pipelines). Demo batch = prefix-mutated
    // copies of every 10th doc (ids +10M): every probe's origin must
    // be recovered by fingerprint VALUE overlap alone (all positions
    // shifted). Match rule is CONTAINMENT — |fp_new ∩ fp_old_doc|
    // relative to the NEW doc's fingerprint count (the asymmetric
    // question "has this new content been seen?", not symmetric
    // resemblance) — with integer compare overlap·2 ≥ n_fp, and the
    // best old match picked by (max overlap, min old_id): two grouped
    // aggs, no window. Scale: the old index is the build-once
    // artifact (posting lists df≤10 — same stop-fingerprint bound as
    // dedup_winnowing); per-ingest cost ∝ batch size × posting hits,
    // independent of corpus size. Containment is measured over the
    // probe's DISCRIMINATIVE fingerprints: fps whose old-corpus df
    // exceeds the cap are dropped from BOTH sides (numerator and
    // denominator) — on this template-generated corpus a median doc's
    // fingerprints are ~70% boilerplate-shared, and counting them in
    // the denominator while the cap excludes them from the numerator
    // floors every ratio (measured: 1 of 50 planted probes survived).
    // Novel fps (absent from old) stay in the denominator — unseen
    // content is exactly what lowers containment.
    // r13 build/probe split (VERDICT r12 task 1): the surface now
    // probes the PERSISTED bucketed fingerprint index (built once per
    // corpus by dedup_index_build / IndexStore, bucketed+sorted on fp
    // so the probe's index side joins with no exchange and no sort) —
    // the production contract made physical. Output rows, oracle and
    // hash are unchanged; only the physical source of oldFp moved.
    // Cold-start safe: a missing index builds transparently on first
    // touch (Verify on a fresh checkout), keyed by corpus content so
    // regenerated testdata can never hit a stale index.
    "dedup_incremental" -> QueryDef.sql(
      (s, dir) => {
        val (oldFp, stop) = graft.operators.IndexStore.winnowIndex(s, dir)
        incrementalProbe(oldFp, stop, mutatedTenth(Tables.documents(s, dir)))
          .orderBy("new_id")
      },
      IncrementalDedupOracleSql),

    // The build half of the split — the benchable, hash-checked face
    // of the index build: (re)writes the bucketed posting table + stop
    // list and returns the 1-row census the oracle recomputes from
    // scratch (postings = DISTINCT (doc, fp) pairs, distinct docs with
    // >= 1 fingerprint, distinct fp values, stop fps with df > 10).
    // In production this runs once per corpus snapshot; every
    // subsequent ingest batch (and the streaming twin) amortizes it.
    "dedup_index_build" -> QueryDef.sql(
      (s, dir) => graft.operators.IndexStore.buildWinnowIndex(s, dir),
      s"""WITH ${winnowOracleCtes("SELECT doc_id, text FROM documents")},
         |df AS (SELECT fpv, COUNT(*) AS d FROM fp GROUP BY 1)
         |SELECT (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM fp) AS n_docs,
         |  (SELECT CAST(COUNT(DISTINCT fpv) AS BIGINT) FROM fp) AS n_fps,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM fp) AS n_postings,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM df WHERE d > 10) AS n_stop""".stripMargin),

    // Heaps-law vocabulary growth: cumulative distinct-vocabulary vs
    // cumulative token count at 10 corpus checkpoints (docs in doc_id
    // order) — the "is the corpus still adding new words?" curve that
    // sizes tokenizer vocabularies and detects template saturation.
    // Distributed shape: a term's contribution to the curve is fully
    // determined by its FIRST document (min doc_id) — one term-keyed
    // shuffle with map-side combine, then both the new-vocab and
    // token-count histograms collapse to 10 rows before the (tiny)
    // cumulative window. No per-checkpoint rescan, no growing state.
    "text_vocab_growth" -> QueryDef.sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // checkpoint = decile of the doc_id range [0, max]
        val mx = docs.agg(max("doc_id").as("mxd"))
        val bucketed = docs.crossJoin(broadcast(mx))
          .withColumn("ck", least(expr("(doc_id * 10) div (mxd + 1)"), lit(9L)))
        val firstDoc = bucketed
          .select(col("ck"), col("doc_id"), explode(array_distinct(toks(col("text")))).as("term"))
          .groupBy("term").agg(min("ck").as("first_ck"))
          .groupBy(col("first_ck").as("ck")).agg(count(lit(1)).as("new_terms"))
        val tokensPer = bucketed
          .groupBy("ck")
          .agg(count(lit(1)).as("n_docs"), sum(tokCount(col("text"))).as("n_tokens"))
        val w = Window.orderBy("ck").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        tokensPer.join(firstDoc, Seq("ck"), "left")
          .na.fill(0L, Seq("new_terms"))
          .select(col("ck"),
            sum("n_docs").over(w).as("cum_docs"),
            sum("n_tokens").over(w).as("cum_tokens"),
            sum("new_terms").over(w).as("cum_vocab"))
          .withColumn("heaps_ratio",
            round(log(col("cum_vocab").cast("double")) / log(col("cum_tokens").cast("double")), 6))
          .orderBy("ck")
      },
      """WITH mx AS (SELECT MAX(doc_id) AS mxd FROM documents),
        |b AS (SELECT doc_id, text,
        |        LEAST((doc_id * 10) // (mxd + 1), 9) AS ck
        |      FROM documents CROSS JOIN mx),
        |fd AS (SELECT term, MIN(ck) AS first_ck
        |       FROM (SELECT DISTINCT ck, doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |             FROM b)
        |       GROUP BY term),
        |nv AS (SELECT first_ck AS ck, COUNT(*) AS new_terms FROM fd GROUP BY 1),
        |tp AS (SELECT ck, COUNT(*) AS n_docs,
        |         CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens
        |       FROM b GROUP BY ck),
        |c AS (SELECT tp.ck,
        |        CAST(SUM(n_docs) OVER w AS BIGINT) AS cum_docs,
        |        CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum_tokens,
        |        CAST(SUM(COALESCE(new_terms, 0)) OVER w AS BIGINT) AS cum_vocab
        |      FROM tp LEFT JOIN nv ON tp.ck = nv.ck
        |      WINDOW w AS (ORDER BY tp.ck ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT ck, cum_docs, cum_tokens, cum_vocab,
        |  ROUND(ln(CAST(cum_vocab AS DOUBLE)) / ln(CAST(cum_tokens AS DOUBLE)), 6) AS heaps_ratio
        |FROM c ORDER BY ck""".stripMargin),

    // Pairwise source-overlap: exact Jaccard of the VOCABULARIES of
    // every source pair — which sources are textually redundant before
    // any doc-level dedup runs (the corpus-composition question DSIR /
    // temperature mixing take as input). Shape: the (source, term)
    // distinct relation is one shuffle; each term then emits its
    // source-PAIRS row-locally (sorted collect_set ≤ #sources, nested
    // generators, no self-join of the term relation), and intersection
    // counts map-combine to ≤ C(#sources,2) rows. Union sizes come
    // from per-source vocab counts by inclusion-exclusion — the big
    // relation is never joined to itself.
    "corpus_source_overlap" -> QueryDef.sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val st = docs
          .select(col("source"), explode(array_distinct(toks(col("text")))).as("term"))
          .distinct()
        val vocab = st.groupBy("source").agg(count(lit(1)).as("n_terms"))
        val inter = st.groupBy("term").agg(sort_array(collect_set("source")).as("ss"))
          .select(posexplode(col("ss")).as(Seq("i", "s1")), col("ss"))
          .select(col("s1"), explode(expr("slice(ss, i + 2, size(ss) - i - 1)")).as("s2"))
          .groupBy("s1", "s2").agg(count(lit(1)).as("n_common"))
        inter
          .join(vocab.withColumnRenamed("source", "s1").withColumnRenamed("n_terms", "n_terms_1"), "s1")
          .join(vocab.withColumnRenamed("source", "s2").withColumnRenamed("n_terms", "n_terms_2"), "s2")
          .withColumn("jaccard_ppm",
            expr("(n_common * 1000000) div (n_terms_1 + n_terms_2 - n_common)"))
          .select("s1", "s2", "n_common", "n_terms_1", "n_terms_2", "jaccard_ppm")
          .orderBy(col("jaccard_ppm").desc, col("s1"), col("s2"))
          .limit(30)
      },
      """WITH st AS (SELECT DISTINCT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |            FROM documents),
        |v AS (SELECT source, COUNT(*) AS n_terms FROM st GROUP BY source),
        |i AS (SELECT a.source AS s1, b.source AS s2, COUNT(*) AS n_common
        |      FROM st a JOIN st b ON a.term = b.term AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT s1, s2, n_common, v1.n_terms AS n_terms_1, v2.n_terms AS n_terms_2,
        |  (n_common * 1000000) // (v1.n_terms + v2.n_terms - n_common) AS jaccard_ppm
        |FROM i JOIN v v1 ON i.s1 = v1.source JOIN v v2 ON i.s2 = v2.source
        |ORDER BY jaccard_ppm DESC, s1, s2 LIMIT 30""".stripMargin),

    // B46: readability scoring — Flesch reading ease from three exact
    // integer counts per document (sentence terminator runs, whitespace
    // tokens, vowel-group "syllables"), the standard cheap proxy a
    // curation pipeline gates on alongside text_quality's ratios. All
    // three counts come from single regexp passes in the scan stage
    // (codegen'd regexp_count — no token array materialization, the
    // text_tokens lesson); the score divides exact longs in a fixed
    // operand order so both engines produce bit-identical doubles.
    "text_readability" -> QueryDef.sql(
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1)).cast("long")
            .as("n_sentences"),
          tokCount(col("text")).as("n_words"),
          greatest(regexp_count(col("text"), lit("[aeiouy]+")), lit(1)).cast("long")
            .as("n_syllables"))
        .withColumn("flesch",
          round(lit(206.835)
            - lit(1.015) * (col("n_words").cast("double") / col("n_sentences").cast("double"))
            - lit(84.6) * (col("n_syllables").cast("double") / col("n_words").cast("double")), 4))
        .orderBy("doc_id"),
      """SELECT doc_id, n_sentences, n_words, n_syllables,
        |  ROUND(206.835
        |    - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |    - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 4) AS flesch
        |FROM (SELECT doc_id,
        |        CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
        |        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words,
        |        CAST(greatest(len(regexp_extract_all(text, '[aeiouy]+')), 1) AS BIGINT) AS n_syllables
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin),

    // B48: PMI collocations — the corpus-level bigram association table
    // (tokenizer-merge candidates / multi-word-expression mining). PMI
    // decomposes as ln(c2)+2ln(N)−ln(B)−ln(c1)−ln(c1') with every ln
    // taking an EXACT integer (the corpus_dsir_weights determinism
    // idiom — never ln of a ratio, where the division would drift).
    // Scale shape: row-local inline bigram generation (the lmScores
    // pattern — no token array in an exchange), ONE map-combined
    // bigram-keyed shuffle, the ≥5-count support filter BEFORE the two
    // unigram joins so only surviving bigrams join, TakeOrdered top-50.
    "text_collocations" -> QueryDef.sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(toks(col("text")).as("t")).filter(size(col("t")) >= 2)
        val bg = docs.select(explode(expr(
          "transform(sequence(1, size(t) - 1), " +
            "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))")).as("b"))
          .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
        val uni = docs.select(explode(col("t")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c1"))
        val nTok = uni.agg(sum("c1").as("n"), lit(1).as("one"))
        val nBig = c2.agg(sum("c2").as("b"), lit(1).as("one"))
        c2.filter(col("c2") >= 5)
          .join(uni.select(col("w").as("w1"), col("c1").as("c1a")), "w1")
          .join(uni.select(col("w").as("w2"), col("c1").as("c1b")), "w2")
          .crossJoin(broadcast(nTok.join(nBig, "one")))
          .select(col("w1"), col("w2"), col("c2"),
            round(log(col("c2").cast("double")) + lit(2.0) * log(col("n").cast("double"))
              - log(col("b").cast("double")) - log(col("c1a").cast("double"))
              - log(col("c1b").cast("double")), 6).as("pmi"))
          .orderBy(col("pmi").desc, col("w1"), col("w2"))
          .limit(50)
      },
      """WITH t AS (SELECT regexp_split_to_array(trim(text), '\s+') AS t
        |           FROM documents WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 2),
        |bg AS (SELECT t[CAST(s.i AS INT)] AS w1, t[CAST(s.i AS INT) + 1] AS w2
        |       FROM (SELECT t, unnest(range(1, len(t))) AS i FROM t) s(t, i)),
        |bgc AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
        |uni AS (SELECT unnest(t) AS w FROM t),
        |unic AS (SELECT w, COUNT(*) AS c1 FROM uni GROUP BY 1),
        |tot AS (SELECT (SELECT CAST(SUM(c1) AS BIGINT) FROM unic) AS n,
        |               (SELECT CAST(SUM(c2) AS BIGINT) FROM bgc) AS b)
        |SELECT w1, w2, c2,
        |  ROUND(ln(CAST(c2 AS DOUBLE)) + 2.0 * ln(CAST(n AS DOUBLE))
        |    - ln(CAST(b AS DOUBLE)) - ln(CAST(a.c1 AS DOUBLE)) - ln(CAST(bb.c1 AS DOUBLE)), 6) AS pmi
        |FROM bgc JOIN unic a ON bgc.w1 = a.w JOIN unic bb ON bgc.w2 = bb.w
        |CROSS JOIN tot
        |WHERE c2 >= 5
        |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin),

    // B50: BPE merge training (TextOps.bpeMerges) — the tokenizer-
    // training step: corpus scanned ONCE into the (word, freq) vocab,
    // six merge rounds over that vocab relation (freq-weighted pair
    // counts, argmax by (cnt DESC, pair), merge = two-char replace
    // into a single 0x100+round symbol — left-to-right non-overlap
    // greedy, identical semantics in Spark and SQL `replace`). The
    // oracle unrolls the rounds; per-round CTEs MATERIALIZED (the
    // embed_pca inlining lesson), and the dry-vocab guard coalesces a
    // never-matching needle so an empty round can't NULL the vocab.
    "text_bpe_merges" -> QueryDef.sql(
      (s, dir) => graft.operators.TextOps
        .bpeMerges(Tables.documents(s, dir), "text", rounds = 6)
        .orderBy("round"),
      bpeOracleSql(6)),

    // B51: interpolated Kneser-Ney bigram probabilities (absolute
    // discount D = 3/4) — the standard n-gram LM smoothing, emitted
    // as an EXACT integer fraction so both engines agree bit-for-bit:
    //   P(w2|w1) = max(c12 - D, 0)/c1 + D * N1+(w1.)/c1 * Ncont(w2)/NB
    // over common denominator 4*c1*NB:
    //   num = max(4*c12 - 3, 0)*NB + 3*N1w1*Ncont2,  den = 4*c1*NB
    // (kn_p then divides the two exact longs in fixed operand order).
    // Scale: ONE corpus bigram shuffle; every KN statistic (left
    // totals, follower fan-out, continuation fan-in, the 1-row type
    // total) derives from the bigram-TYPE relation, which is vocab^2-
    // bounded — corpus-sized data never moves again. Top-30 by count
    // via TakeOrdered, ties broken on (w1, w2).
    "text_kn_lm" -> QueryDef.sql(
      (s, dir) => {
        val bg = Tables.documents(s, dir)
          .select(split(trim(col("text")), "\\s+").as("t"))
          .filter(size(col("t")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(t) - 1), i -> struct(t[i - 1] AS w1, t[i] AS w2))")).as("b"))
          .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        val bic = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        val left = bic.groupBy("w1")
          .agg(sum("c12").as("c1"), count(lit(1)).as("n1w1"))
        val cont = bic.groupBy(col("w2").as("c_w2"))
          .agg(count(lit(1)).as("ncont"))
        val nb = bic.agg(count(lit(1)).as("nb"))
        bic.join(left, "w1").join(cont, col("w2") === col("c_w2"))
          .crossJoin(broadcast(nb))
          .select(col("w1"), col("w2"), col("c12"),
            (greatest(lit(4L) * col("c12") - 3L, lit(0L)) * col("nb") +
              lit(3L) * col("n1w1") * col("ncont")).as("kn_num"),
            (lit(4L) * col("c1") * col("nb")).as("kn_den"))
          .withColumn("kn_p",
            col("kn_num").cast("double") / col("kn_den").cast("double"))
          .orderBy(col("c12").desc, col("w1"), col("w2")).limit(30)
      },
      """WITH t AS (SELECT regexp_split_to_array(trim(text), '\s+') AS t
        |           FROM documents WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 2),
        |bg AS (SELECT t[CAST(s.i AS INT)] AS w1, t[CAST(s.i AS INT) + 1] AS w2
        |       FROM (SELECT t, unnest(range(1, len(t))) AS i FROM t) s(t, i)),
        |bic AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2),
        |lft AS (SELECT w1 AS l_w1, CAST(SUM(c12) AS BIGINT) AS c1,
        |               CAST(COUNT(*) AS BIGINT) AS n1w1 FROM bic GROUP BY 1),
        |cont AS (SELECT w2 AS c_w2, CAST(COUNT(*) AS BIGINT) AS ncont FROM bic GROUP BY 1),
        |nbt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM bic)
        |SELECT w1, w2, c12,
        |  GREATEST(4 * c12 - 3, 0) * nb + 3 * n1w1 * ncont AS kn_num,
        |  4 * c1 * nb AS kn_den,
        |  CAST(GREATEST(4 * c12 - 3, 0) * nb + 3 * n1w1 * ncont AS DOUBLE)
        |    / CAST(4 * c1 * nb AS DOUBLE) AS kn_p
        |FROM bic JOIN lft ON w1 = l_w1 JOIN cont ON w2 = c_w2 CROSS JOIN nbt
        |ORDER BY c12 DESC, w1, w2 LIMIT 30""".stripMargin),

    // B58: deterministic epoch shuffle — the global permutation a
    // training run applies per epoch, as a SORT BY a keyed hash
    // (md5(epoch || doc_id)): reproducible across engines, reshuffled
    // per epoch, and sharded for loading. Emitted per (epoch, shard):
    // counts and an ORDER CHECKSUM Σ(doc_id · rank_in_shard) — equal
    // checksums prove the two engines computed the identical
    // permutation, not just the same membership. At scale this is one
    // range-partitioned sort per epoch (exactly what it costs a real
    // pipeline); rank via the per-shard window is the only state.
    "corpus_epoch_shuffle" -> QueryDef.sql(
      (s, dir) => {
        val epochs = Seq(0, 1)
        val docs = Tables.documents(s, dir).select("doc_id")
        val keyed = epochs.map { e =>
          docs.select(lit(e.toLong).as("epoch"), col("doc_id"),
            md5(concat(lit(s"e$e:"), col("doc_id").cast("string"))).as("k"))
        }.reduce(_ unionByName _)
          .withColumn("shard", conv(substring(col("k"), 1, 8), 16, 10)
            .cast("long") % 8L)
        val w = Window.partitionBy("epoch", "shard").orderBy("k", "doc_id")
        keyed.withColumn("rnk", row_number().over(w).cast("long"))
          .groupBy("epoch", "shard")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id") * col("rnk")).as("order_checksum"))
          .orderBy("epoch", "shard")
      },
      """WITH k AS (
        |  SELECT e.epoch, doc_id,
        |         md5('e' || CAST(e.epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS k
        |  FROM documents CROSS JOIN (SELECT unnest([0, 1]) AS epoch) e),
        |sh AS (SELECT epoch, doc_id, k,
        |         CAST(('0x' || substr(k, 1, 8)) AS BIGINT) % 8 AS shard
        |       FROM k),
        |r AS (SELECT epoch, shard, doc_id,
        |        ROW_NUMBER() OVER (PARTITION BY epoch, shard ORDER BY k, doc_id) AS rnk
        |      FROM sh)
        |SELECT CAST(epoch AS BIGINT) AS epoch, CAST(shard AS BIGINT) AS shard,
        |       COUNT(*) AS n_docs,
        |       CAST(SUM(doc_id * rnk) AS BIGINT) AS order_checksum
        |FROM r GROUP BY epoch, shard
        |ORDER BY epoch, shard""".stripMargin),

    // B57: edit-distance similarity join, PRIMARY form since r9:
    // exact-key collapse -> minhash-banded candidates over DISTINCT
    // keys -> exact `levenshtein` verify (both engines implement the
    // same DP, so the oracle is exact). Probes are the prefix-mutated
    // tenth (mutatedTenth).
    //
    // WHY this shape: (1) the demo corpus draws from a 31-word
    // vocabulary, so every trigram is a hot gram-join key by
    // construction (measured at sf0.01: 24 950 of 25 000 probe x doc
    // pairs joined; the r8 surface capped itself at 2000 docs to
    // bound it) — banded minhash signatures key on signature slices
    // instead, immune to hot grams; (2) the ScaleUp-derived packs
    // replicate documents, so identical 64-char keys form TRUE
    // duplicate groups (sf1: 50 000 docs but 4 764 distinct keys, max
    // group 40) — pairing at the id level is output-quadratic in the
    // group sizes (measured 67 s at sf1, one 9 243-member bucket in a
    // single join task). The dedup ladder's own answer applies:
    // collapse EXACT duplicates first, fuzzy-join the distinct-key
    // representatives, and emit one row per (probe group, orig group)
    // with the min-id representatives and both group sizes — work is
    // bounded by distinct-key diversity (FLAT across ScaleUp factors)
    // and the edit distance depends only on the keys, so the collapse
    // is lossless. Signatures compute in the scan stage (native
    // minhash_sig); the band join carries two longs; no trailing sort
    // (group pairs are corpus-bulk — the trace_depth rule; the gate
    // sorts before hashing). AuditStatsSpec brute-anchors every
    // emitted pair; the uncollapsed count-filter form remains its
    // in-memory reference.
    "dedup_editdist" -> QueryDef.sql(
      (s, dir) => {
        graft.GraftExtensions.register(s)
        val docs = Tables.documents(s, dir)
        // length guard: sequence(1, n) with n <= 0 generates DESCENDING
        // (the q_rolling_distinct trap) — filter before shingling
        // each grouped key frame is read three times (signature build,
        // string rejoin, count rejoin) — materialize once
        val base = docs.select(col("doc_id").as("id"),
          substring(col("text"), 1, 64).as("k"))
          .filter(length(col("k")) >= 3)
          .groupBy("k").agg(min("id").as("id"), count(lit(1)).as("n"))
          .localCheckpoint()
        val probes = mutatedTenth(docs).select(col("doc_id").as("id"),
          substring(col("text"), 1, 64).as("k"))
          .filter(length(col("k")) >= 3)
          .groupBy("k").agg(min("id").as("id"), count(lit(1)).as("n"))
          .localCheckpoint()
        val allk = base.select(col("id"), col("k"))
          .unionAll(probes.select(col("id"), col("k")))
        val sig = allk.select(col("id"),
          expr("minhash_sig(transform(sequence(1, length(k) - 2), i -> substring(k, i, 3)), 8)")
            .as("sig"))
        val bands = sig.select(col("id"), posexplode(array(
          (0 to 3).map(b => md5(concat_ws("_",
            element_at(col("sig"), 2 * b + 1), element_at(col("sig"), 2 * b + 2)))): _*))
          .as(Seq("band", "bh")))
          // both sides of the self-join read this subtree — materialize
          // (r14 re-measured: dropping it is flat at sf0.1 and loses the
          // 2M-row recompute bound at sf100, so it stays)
          .localCheckpoint()
        val cand = bands.as("a").join(bands.as("b"),
            col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
              col("a.id") < lit(10000000L) && col("b.id") >= lit(10000000L))
          .select(col("a.id").as("orig_id"), col("b.id").as("probe_id"))
          .distinct()
        cand
          .join(base.select(col("id").as("orig_id"), col("k"),
            col("n").as("n_orig_dups")), "orig_id")
          .join(probes.select(col("id").as("probe_id"), col("k").as("pk"),
            col("n").as("n_probe_dups")), "probe_id")
          // BOUNDED levenshtein: the threshold arg turns the full 64x64
          // DP into a banded one and returns -1 past the bound
          // (measured 8.75 -> 1.56 s over the sf0.1 candidate set);
          // within the bound the distance is exact, so survivors and
          // values match the oracle's full DP + <= 14 filter
          .withColumn("dist", levenshtein(col("pk"), col("k"), 14).cast("long"))
          .filter(col("dist") >= 0 && col("dist") <= 14)
          .select(col("probe_id"), col("orig_id"), col("dist"),
            col("n_probe_dups"), col("n_orig_dups"))
      },
      """WITH d AS (SELECT doc_id, text FROM documents),
        |base AS (
        |  SELECT k, MIN(id) AS id, COUNT(*) AS n FROM (
        |    SELECT doc_id AS id, substr(text, 1, 64) AS k FROM d) t
        |  WHERE length(k) >= 3 GROUP BY k),
        |probes AS (
        |  SELECT k, MIN(id) AS id, COUNT(*) AS n FROM (
        |    SELECT doc_id + 10000000 AS id,
        |           substr('pfx' || CAST(doc_id * 7919 % 97 AS VARCHAR) || ' ' || text, 1, 64) AS k
        |    FROM d WHERE doc_id % 10 = 0) t
        |  WHERE length(k) >= 3 GROUP BY k),
        |allk AS (SELECT id, k FROM base UNION ALL SELECT id, k FROM probes),
        |sh AS (SELECT id, substr(k, CAST(s.i AS INT), 3) AS shingle
        |       FROM (SELECT id, k, unnest(range(1, length(k) - 1)) AS i FROM allk) s(id, k, i)),
        |hs AS (SELECT id, j,
        |         CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || shingle), 1, 8)) AS BIGINT) AS h
        |       FROM sh CROSS JOIN (SELECT unnest(range(8)) AS j) seeds),
        |sig AS (SELECT id,
        |  MIN(CASE WHEN j=0 THEN h END) AS s0, MIN(CASE WHEN j=1 THEN h END) AS s1,
        |  MIN(CASE WHEN j=2 THEN h END) AS s2, MIN(CASE WHEN j=3 THEN h END) AS s3,
        |  MIN(CASE WHEN j=4 THEN h END) AS s4, MIN(CASE WHEN j=5 THEN h END) AS s5,
        |  MIN(CASE WHEN j=6 THEN h END) AS s6, MIN(CASE WHEN j=7 THEN h END) AS s7
        |  FROM hs GROUP BY id),
        |bands AS (
        |  SELECT id, CAST(0 AS BIGINT) AS band, md5(CAST(s0 AS VARCHAR) || '_' || CAST(s1 AS VARCHAR)) AS bh FROM sig
        |  UNION ALL SELECT id, 1, md5(CAST(s2 AS VARCHAR) || '_' || CAST(s3 AS VARCHAR)) FROM sig
        |  UNION ALL SELECT id, 2, md5(CAST(s4 AS VARCHAR) || '_' || CAST(s5 AS VARCHAR)) FROM sig
        |  UNION ALL SELECT id, 3, md5(CAST(s6 AS VARCHAR) || '_' || CAST(s7 AS VARCHAR)) FROM sig),
        |cand AS (SELECT DISTINCT a.id AS orig_id, b.id AS probe_id
        |         FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
        |         WHERE a.id < 10000000 AND b.id >= 10000000)
        |SELECT c.probe_id, c.orig_id,
        |       CAST(levenshtein(p.k, o.k) AS BIGINT) AS dist,
        |       CAST(p.n AS BIGINT) AS n_probe_dups,
        |       CAST(o.n AS BIGINT) AS n_orig_dups
        |FROM cand c JOIN base o ON o.id = c.orig_id JOIN probes p ON p.id = c.probe_id
        |WHERE levenshtein(p.k, o.k) <= 14""".stripMargin),

    // B56: exact triangle counting + local clustering coefficients
    // over the term co-occurrence graph, by DEGREE ORIENTATION — the
    // standard trick that makes triangle enumeration survive skewed
    // degree distributions at scale: orient every undirected edge
    // from its lower-(degree, term) endpoint to the higher, making
    // the graph a DAG where each triangle appears exactly once as a
    // wedge (u→v, u→w) closed by v→w, so one self-join + one
    // closing join enumerates them with work bounded by Σ d_out² —
    // O(E^1.5) under orientation instead of the hub-quadratic
    // unoriented wedge count. Coefficients divide exact longs
    // (2·tri / deg·(deg−1)) in fixed operand order.
    "text_graph_triangles" -> QueryDef.sql(
      (s, dir) => {
        val bg = Tables.documents(s, dir)
          .select(split(trim(col("text")), "\\s+").as("t"))
          .filter(size(col("t")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(t) - 1), i -> struct(t[i - 1] AS w1, t[i] AS w2))")).as("b"))
          .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
          .filter(col("w1") =!= col("w2"))
        // canonicalize row-locally, then TYPE-level aggregate — the
        // map-side combine collapses the corpus's bigram instances to
        // the vocab²-bounded edge set before any exchange (an
        // instance-level distinct measured 22 s at sf10 vs ~6 s for
        // the same corpus through kn_lm's combined groupBy)
        // localCheckpoint: the vocab²-bounded edge set is read by the
        // degree census, the orientation join, and (via deg) the final
        // rollup — materialize the bigram explode once (r13)
        val und = bg.select(least(col("w1"), col("w2")).as("a"),
            greatest(col("w1"), col("w2")).as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("_c")).drop("_c")
          .localCheckpoint()
        val deg = und.select(col("a").as("node"))
          .union(und.select(col("b")))
          .groupBy("node").agg(count(lit(1)).as("deg"))
        val withOrd = und
          .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
          .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
        // localCheckpoint: the oriented edge relation feeds a THREE-way
        // self-join — uncheckpointed, each of e1/e2/e3 re-derived the
        // bigram explode + edge aggregate + two degree joins (r13)
        val or = withOrd.select(
          when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("a"))
            .otherwise(col("b")).as("src"),
          when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("b"))
            .otherwise(col("a")).as("dst"))
          .localCheckpoint()
        val tri = or.as("e1")
          .join(or.as("e2"), col("e1.dst") === col("e2.src"))
          .join(or.as("e3"),
            col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"))
          .select(col("e1.src").as("x"), col("e1.dst").as("y"), col("e2.dst").as("z"))
        val perNode = tri
          .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
          .groupBy("node").agg(count(lit(1)).as("n_triangles"))
        deg.join(perNode, Seq("node"), "left")
          .select(col("node").as("term"), col("deg").as("degree"),
            coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
          .withColumn("clustering",
            when(col("degree") >= 2,
              (lit(2L) * col("n_triangles")).cast("double") /
                (col("degree") * (col("degree") - 1L)).cast("double"))
              .otherwise(lit(0.0)))
          .orderBy("term")
      },
      """WITH t AS (SELECT regexp_split_to_array(trim(text), '\s+') AS t
        |           FROM documents WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 2),
        |bg AS (SELECT t[CAST(s.i AS INT)] AS w1, t[CAST(s.i AS INT) + 1] AS w2
        |       FROM (SELECT t, unnest(range(1, len(t))) AS i FROM t) s(t, i)
        |       WHERE t[CAST(s.i AS INT)] <> t[CAST(s.i AS INT) + 1]),
        |und AS (SELECT DISTINCT LEAST(w1, w2) AS a, GREATEST(w1, w2) AS b FROM bg),
        |deg AS (SELECT node, COUNT(*) AS deg FROM (
        |          SELECT a AS node FROM und UNION ALL SELECT b FROM und) u
        |        GROUP BY 1),
        |orr AS (SELECT CASE WHEN (da, a) < (db, b) THEN a ELSE b END AS src,
        |               CASE WHEN (da, a) < (db, b) THEN b ELSE a END AS dst
        |        FROM und
        |        JOIN deg x ON und.a = x.node JOIN deg y ON und.b = y.node,
        |        LATERAL (SELECT x.deg AS da, y.deg AS db) l),
        |tri AS (SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
        |        FROM orr e1 JOIN orr e2 ON e1.dst = e2.src
        |        JOIN orr e3 ON e3.src = e1.src AND e3.dst = e2.dst),
        |pn AS (SELECT node, COUNT(*) AS n_triangles FROM (
        |         SELECT x AS node FROM tri
        |         UNION ALL SELECT y FROM tri
        |         UNION ALL SELECT z FROM tri) u GROUP BY 1)
        |SELECT deg.node AS term, CAST(deg AS BIGINT) AS degree,
        |       CAST(COALESCE(n_triangles, 0) AS BIGINT) AS n_triangles,
        |       CASE WHEN deg >= 2 THEN
        |         CAST(2 * COALESCE(n_triangles, 0) AS DOUBLE)
        |           / CAST(deg * (deg - 1) AS DOUBLE)
        |       ELSE 0.0 END AS clustering
        |FROM deg LEFT JOIN pn ON deg.node = pn.node
        |ORDER BY term""".stripMargin),

    // B54: term communities by synchronous weighted label propagation
    // (GraphOps.labelPropagation, 3 fixed rounds) over the mirrored
    // bigram co-occurrence graph — the clustering view of vocabulary
    // (topic-ish groups) the dedup_clusters family doesn't cover
    // (components find connectivity; LPA finds weighted communities
    // INSIDE one connected vocabulary). Deterministic by construction:
    // fixed rounds, argmax votes tie-broken to the smallest label in
    // binary UTF-8 order; the oracle unrolls the same three rounds.
    // The corpus-sized work is the one bigram-type shuffle; the rounds
    // then run in one task over the vocab-sized edge list, so building
    // the frame starts no job.
    "text_term_communities" -> QueryDef.sql(
      (s, dir) => {
        val bg = Tables.documents(s, dir)
          .select(split(trim(col("text")), "\\s+").as("t"))
          .filter(size(col("t")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(t) - 1), i -> struct(t[i - 1] AS w1, t[i] AS w2))")).as("b"))
          .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
          .filter(col("w1") =!= col("w2"))
          .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
        val e = bg.select(col("w1").as("src"), col("w2").as("dst"), col("c"))
          .union(bg.select(col("w2").as("src"), col("w1").as("dst"), col("c")))
          .groupBy("src", "dst").agg(sum("c").as("w"))
        val lab = graft.operators.GraphOps.labelPropagation(e, "src", "dst", "w", iters = 3)
        val sizes = lab.groupBy(col("label").as("sz_label"))
          .agg(count(lit(1)).as("community_size"))
        lab.join(sizes, col("label") === col("sz_label"))
          .select(col("node").as("term"), col("label").as("community"),
            col("community_size"))
          .orderBy("term")
      },
      lpaOracleSql(3)),

    // B52: DECLARATIVE count-min sketch, oracle-checked end to end —
    // the companion to text_top_terms_approx (whose Spark-native
    // treeAggregate sketch is rows-only by the murmur-hash contract):
    // here the d=4 hash rows are arithmetic ((a_j*x + b_j) mod P mod
    // W) over a portable Horner term hash, so DuckDB rebuilds the
    // SAME 4x1024 counter table and the estimate (min over rows of
    // the hashed bucket's counter) matches hash-exactly, proving the
    // never-undercount inequality in-query (overcount = n_est -
    // n_exact >= 0). Scale: the sketch is ONE map-combined (row,
    // bucket) aggregate over the term scan - 4096 rows regardless of
    // corpus size - and the probe side is the exact top-20 joined
    // BROADCAST against it.
    "text_cms_topk" -> QueryDef.sql(
      (s, dir) => {
        val hx = "aggregate(sequence(1, length(term)), 0L, " +
          "(acc, i) -> (acc * 31 + ascii(substring(term, i, 1))) % 1000003)"
        val terms = Tables.documents(s, dir)
          .select(explode(toks(col("text"))).as("term"))
          .withColumn("x", expr(hx))
        val hashArr = s"array(${CmsHashes.map { case (j, a, b) =>
          s"struct(${j}L AS j, (($a * x + $b) % 1000003) % 1024 AS b)" }.mkString(", ")})"
        val sketch = terms
          .select(explode(expr(hashArr)).as("e"))
          .groupBy(col("e.j").as("j"), col("e.b").as("b"))
          .agg(count(lit(1)).as("cnt"))
        val top = terms.groupBy("term")
          .agg(count(lit(1)).as("n_exact"), first(col("x")).as("x"))
          .orderBy(col("n_exact").desc, col("term")).limit(20)
        val probes = top
          .select(col("term"), col("n_exact"), explode(expr(hashArr)).as("e"))
          .select(col("term"), col("n_exact"), col("e.j").as("j"), col("e.b").as("b"))
        probes.join(sketch, Seq("j", "b"))
          .groupBy("term", "n_exact")
          .agg(min("cnt").as("n_est"))
          .select(col("term"), col("n_exact"), col("n_est"),
            (col("n_est") - col("n_exact")).as("overcount"))
          .orderBy(col("n_exact").desc, col("term"))
      },
      s"""WITH terms AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         |              FROM documents),
         |tx AS (SELECT term, list_reduce(
         |         list_prepend(CAST(0 AS BIGINT),
         |           list_transform(range(1, length(term) + 1),
         |             i -> CAST(ascii(substr(term, CAST(i AS INT), 1)) AS BIGINT))),
         |         (a, b) -> (a * 31 + b) % 1000003) AS x
         |       FROM terms),
         |hashed AS (SELECT term, x, h.j,
         |             ((h.a * x + h.b) % 1000003) % 1024 AS b
         |           FROM tx CROSS JOIN (VALUES ${CmsHashes.map { case (j, a, b) => s"($j, $a, $b)" }.mkString(", ")}) h(j, a, b)),
         |sketch AS (SELECT j, b, CAST(COUNT(*) AS BIGINT) AS cnt
         |           FROM hashed GROUP BY 1, 2),
         |top AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n_exact
         |        FROM terms GROUP BY 1 ORDER BY n_exact DESC, term LIMIT 20),
         |probe AS (SELECT DISTINCT t.term, t.n_exact, h.j, h.b
         |          FROM top t JOIN hashed h ON t.term = h.term)
         |SELECT term, n_exact, MIN(cnt) AS n_est, MIN(cnt) - n_exact AS overcount
         |FROM probe JOIN sketch USING (j, b)
         |GROUP BY term, n_exact
         |ORDER BY n_exact DESC, term""".stripMargin),

    // B67: source-concentration index (Herfindahl–Hirschman) — how
    // dominated each language's token mass is by single sources, the
    // diversification gate beside corpus_source_mix's shares: HHI =
    // Σ(c_s/N)² computed as the exact fraction Σc_s²/N² (squares in
    // DECIMAL(38,0) — a 100 TB source's token count squared tops
    // 1e24), plus the effective source count 1/HHI. One map-combined
    // (lang, source) count pass; everything after runs on ≤
    // |langs|×|sources| rows.
    "corpus_hhi" -> QueryDef.sql(
      (s, dir) => {
        val cnt = Tables.documents(s, dir)
          .select(col("lang"), col("source"), size(toks(col("text"))).cast("long").as("n"))
          .groupBy("lang", "source").agg(sum("n").as("c"))
        cnt.groupBy("lang")
          .agg(count(lit(1)).as("n_sources"),
            sum("c").as("total_tokens"),
            sum(col("c").cast(DecimalType(38, 0)) * col("c").cast(DecimalType(38, 0)))
              .as("sq"))
          .select(col("lang"), col("n_sources"), col("total_tokens"),
            (col("sq").cast("double") /
              (col("total_tokens").cast(DecimalType(38, 0)) *
                col("total_tokens").cast(DecimalType(38, 0))).cast("double")).as("hhi"),
            ((col("total_tokens").cast(DecimalType(38, 0)) *
              col("total_tokens").cast(DecimalType(38, 0))).cast("double") /
              col("sq").cast("double")).as("effective_sources"))
          .orderBy("lang")
      },
      """WITH cnt AS (
        |  SELECT lang, source,
        |         CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2)
        |SELECT lang, COUNT(*) AS n_sources,
        |  CAST(SUM(c) AS BIGINT) AS total_tokens,
        |  CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE)
        |    / CAST(CAST(SUM(c) AS HUGEINT) * CAST(SUM(c) AS HUGEINT) AS DOUBLE) AS hhi,
        |  CAST(CAST(SUM(c) AS HUGEINT) * CAST(SUM(c) AS HUGEINT) AS DOUBLE)
        |    / CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE) AS effective_sources
        |FROM cnt GROUP BY lang ORDER BY lang""".stripMargin),

    // B69: TextRank keyword extraction — PageRank over the mirrored
    // bigram co-occurrence graph (Mihalcea & Tarau 2004), the
    // graph-centrality complement of RAKE's degree/frequency ratio.
    // Reuses GraphOps.pageRank (3 damped rounds, exact-int transition
    // probabilities, all rounds in one task); ranking and the top-20
    // cut use the ROUNDED score (the §5 cut-line rule) with a term
    // tie-break. The oracle unrolls the same 3 rounds as CTEs — the
    // trace_service_rank template on a different graph. Scale: the
    // corpus collapses to the vocab²-bounded edge set in one
    // map-combined pass; the rounds then loop over ≤ vocab² edges in
    // that one task, and building the frame starts no job.
    "text_textrank_terms" -> QueryDef.sql(
      (s, dir) => {
        val bg = Tables.documents(s, dir)
          .select(toks(col("text")).as("t"))
          .filter(size(col("t")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(t) - 1), i -> struct(t[i - 1] AS w1, t[i] AS w2))")).as("b"))
          .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
          .filter(col("w1") =!= col("w2"))
        val und = bg.select(least(col("w1"), col("w2")).as("a"),
            greatest(col("w1"), col("w2")).as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("w"))
        val edges = und.select(col("a").as("src"), col("b").as("dst"), col("w"))
          .unionByName(und.select(col("b").as("src"), col("a").as("dst"), col("w")))
        val pr = graft.operators.GraphOps.pageRank(edges, "src", "dst", "w", iters = 3)
          .select(col("node").as("term"), round(col("rank"), 6).as("rank"))
        pr.orderBy(col("rank").desc, col("term")).limit(20)
      },
      {
        def iter(prev: String, cur: String): String =
          s"""$cur AS (
             |  SELECT nodes.node,
             |    (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
             |      + 0.85 * (COALESCE(s.infl, 0.0) + dm.dm / nn.n) AS rank
             |  FROM nodes CROSS JOIN nn
             |  CROSS JOIN (SELECT COALESCE(SUM($prev.rank), CAST(0 AS DOUBLE)) AS dm
             |              FROM $prev LEFT JOIN outw ON $prev.node = outw.src
             |              WHERE outw.src IS NULL) dm
             |  LEFT JOIN (SELECT ew.dst, SUM($prev.rank * ew.p) AS infl
             |             FROM ew JOIN $prev ON ew.src = $prev.node GROUP BY ew.dst) s
             |    ON nodes.node = s.dst)""".stripMargin
        s"""WITH t AS (SELECT regexp_split_to_array(trim(text), '\\s+') AS t
           |           FROM documents),
           |bg AS (SELECT t[i] AS w1, t[i + 1] AS w2
           |       FROM (SELECT t, unnest(range(1, len(t))) AS i FROM t
           |             WHERE len(t) >= 2) s(t, i)
           |       WHERE t[i] <> t[i + 1]),
           |und AS (SELECT least(w1, w2) AS a, greatest(w1, w2) AS b, COUNT(*) AS w
           |        FROM bg GROUP BY 1, 2),
           |edges AS (SELECT a AS src, b AS dst, w FROM und
           |          UNION ALL SELECT b, a, w FROM und),
           |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
           |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
           |outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY 1),
           |ew AS (SELECT edges.src, edges.dst,
           |         CAST(edges.w AS DOUBLE) / CAST(outw.ow AS DOUBLE) AS p
           |       FROM edges JOIN outw ON edges.src = outw.src),
           |r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
           |${iter("r0", "r1")},
           |${iter("r1", "r2")},
           |${iter("r2", "r3")}
           |SELECT node AS term, ROUND(rank, 6) AS rank
           |FROM r3 ORDER BY rank DESC, term LIMIT 20""".stripMargin
      }),

    // B70: lexical-richness report — type-token ratio and hapax-
    // legomena share per language, the vocabulary-health numbers a
    // curation dashboard tracks beside entropy/zipf. One token-keyed
    // map-combined count shuffle; ratios in exact per-million integer
    // arithmetic.
    "text_lexical_richness" -> QueryDef.sql(
      (s, dir) => {
        val cnt = Tables.documents(s, dir)
          .select(col("lang"), explode(toks(col("text"))).as("w"))
          .groupBy("lang", "w").agg(count(lit(1)).as("c"))
        cnt.groupBy("lang")
          .agg(sum("c").as("n_tokens"), count(lit(1)).as("vocab"),
            sum(when(col("c") === 1L, 1L).otherwise(0L)).as("hapax"))
          .withColumn("ttr_ppm", expr("vocab * 1000000 div n_tokens"))
          .withColumn("hapax_ppm", expr("hapax * 1000000 div vocab"))
          .orderBy("lang")
      },
      """WITH cnt AS (
        |  SELECT lang, w, COUNT(*) AS c
        |  FROM (SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |        FROM documents) t
        |  GROUP BY 1, 2)
        |SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS vocab,
        |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |  CAST(COUNT(*) * 1000000 // SUM(c) AS BIGINT) AS ttr_ppm,
        |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000
        |    // COUNT(*) AS hapax_ppm
        |FROM cnt GROUP BY lang ORDER BY lang""".stripMargin),

    // B62: distributed suffix array by prefix doubling
    // ([[graft.operators.TextOps.suffixArrayRanks]]) — the index
    // behind exact-substring dedup (Lee et al. 2022 §4 build it
    // single-node; prefix doubling is how it distributes: ceil(log2 L)
    // rounds of join + two-phase dense-rank, never an O(L^2)-character
    // comparison sort). Demo corpus: the first 20 docs concatenated in
    // doc order, truncated to 4000 chars. The ORACLE sorts the
    // suffixes DIRECTLY (row_number over substr ordering) — the hash
    // match proves the doubling arithmetic reproduces true
    // lexicographic order, the same proof shape as trace_depth's
    // recursive-CTE oracle.
    "text_suffix_array" -> QueryDef.sql(
      (s, dir) => {
        val str = Tables.documents(s, dir).filter(col("doc_id") < 20)
          .agg(concat_ws(" ",
            transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
              x => x.getField("text"))).as("txt0"))
          .select(substring(col("txt0"), 1, 4000).as("txt"))
          .localCheckpoint()
        val sa = TextOps.suffixArrayRanks(str, "txt")
        sa.crossJoin(broadcast(str))
          .select(col("pos"), col("sa_rank"),
            expr("substring(txt, pos + 1, 8)").as("head8"))
          .orderBy("pos")
      },
      """WITH s AS (
        |  SELECT substr(string_agg(text, ' ' ORDER BY doc_id), 1, 4000) AS txt
        |  FROM documents WHERE doc_id < 20),
        |p AS (SELECT CAST(unnest(range(0, length(txt))) AS BIGINT) AS pos, txt
        |      FROM s)
        |SELECT pos,
        |  CAST(row_number() OVER (ORDER BY substr(txt, CAST(pos AS INT) + 1)) AS BIGINT)
        |    AS sa_rank,
        |  substr(txt, CAST(pos AS INT) + 1, 8) AS head8
        |FROM p ORDER BY pos""".stripMargin),

    // B63: BPE ENCODING — applying text_bpe_merges' trained merge
    // table to the corpus (the tokenizer-application half of the
    // pipeline: training picks the merges, this measures them).
    // Per doc: word count, characters entering the tokenizer, and the
    // token count after all merges (each remaining char = one token),
    // plus the compression ratio as one exact-long division. The
    // merge table is a bounded collect (= the kmeans-centroid
    // contract: R rows for R rounds); the encode itself is R chained
    // row-local replaces inside the scan stage — the corpus shuffles
    // once, for the per-doc rollup. Oracle: the SAME unrolled training
    // CTEs feed R replace steps (dry rounds no-op via COALESCE on
    // both sides).
    "text_bpe_encode" -> QueryDef.sql(
      (s, dir) => {
        val rounds = 6
        val merges = TextOps.bpeMerges(Tables.documents(s, dir), "text", rounds)
          .orderBy("round").collect()
          .map(r => (r.getLong(0).toInt, r.getString(1)))
        val words = Tables.documents(s, dir)
          .select(col("doc_id"),
            explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
          .withColumn("chars", length(col("w")).cast("long"))
        val enc = merges.foldLeft(words) { case (df, (rnd, pair)) =>
          df.withColumn("w",
            replace(col("w"), lit(pair), lit((256 + rnd).toChar.toString)))
        }
        enc.groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"), sum("chars").as("chars_total"),
            sum(length(col("w")).cast("long")).as("tokens_total"))
          .withColumn("compression",
            col("tokens_total").cast("double") / col("chars_total").cast("double"))
          .orderBy("doc_id")
      }, {
        val rounds = 6
        val encSteps = (1 to rounds).map { r =>
          s"""e$r AS (SELECT doc_id,
             |  replace(w, COALESCE((SELECT pair FROM m$r), chr(1)), chr(${256 + r})) AS w,
             |  chars FROM e${r - 1})""".stripMargin
        }.mkString(",\n")
        s"""WITH ${bpeTrainCtes(rounds)},
           |e0 AS (SELECT doc_id, w, CAST(length(w) AS BIGINT) AS chars
           |       FROM (SELECT doc_id,
           |               unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
           |             FROM documents) t),
           |$encSteps
           |SELECT doc_id, COUNT(*) AS n_words,
           |  CAST(SUM(chars) AS BIGINT) AS chars_total,
           |  CAST(SUM(length(w)) AS BIGINT) AS tokens_total,
           |  CAST(SUM(length(w)) AS DOUBLE) / CAST(SUM(chars) AS DOUBLE) AS compression
           |FROM e$rounds GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),

    // B64: rule-based stemming + vocabulary collapse — the classic
    // suffix-stripping normalization (a fixed Porter-step-1-style
    // cascade: sses->ss, ies->i, plural -s, -ing, -ed with min-stem
    // guards) applied identically in both engines, reported as the
    // per-language vocabulary reduction it buys. Every rule is one
    // anchored regexp_replace in the scan stage (row-local); the only
    // shuffle is the per-lang distinct pair. The surface is the
    // normalize-before-dedup step a real corpus pipeline runs.
    "text_stem_vocab" -> QueryDef.sql(
      (s, dir) => {
        val words = Tables.documents(s, dir)
          .select(col("lang"),
            explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
        val stem = Seq(
          ("sses$", "ss"), ("ies$", "i"), ("([a-z]{3,})ing$", "$1"),
          ("([a-z]{3,})ed$", "$1"), ("([^s])s$", "$1"))
          .foldLeft(col("w")) { case (c, (pat, rep)) => regexp_replace(c, pat, rep) }
        words.withColumn("stem", stem)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_tokens"),
            countDistinct("w").as("vocab_before"),
            countDistinct("stem").as("vocab_after"))
          .withColumn("reduction_pm",
            expr("(vocab_before - vocab_after) * 1000 div vocab_before"))
          .orderBy("lang")
      },
      """WITH words AS (
        |  SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        |  FROM documents),
        |st AS (SELECT lang, w,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(w, 'sses$', 'ss'),
        |        'ies$', 'i'),
        |      '([a-z]{3,})ing$', '\1'),
        |    '([a-z]{3,})ed$', '\1'),
        |  '([^s])s$', '\1') AS stem
        |  FROM words)
        |SELECT lang, COUNT(*) AS n_tokens,
        |  CAST(COUNT(DISTINCT w) AS BIGINT) AS vocab_before,
        |  CAST(COUNT(DISTINCT stem) AS BIGINT) AS vocab_after,
        |  (COUNT(DISTINCT w) - COUNT(DISTINCT stem)) * 1000
        |    // COUNT(DISTINCT w) AS reduction_pm
        |FROM st GROUP BY lang ORDER BY lang""".stripMargin),

    // B65: multinomial naive-Bayes language ID — the TRAINED
    // classifier beside text_langid's fixed stopword heuristic:
    // add-one-smoothed per-(lang, word) log-likelihoods from the
    // corpus's own labels, per-doc scores, argmax prediction, and the
    // resulting confusion matrix. Determinism: every ln takes an
    // EXACT integer (the dsir idiom); each doc x lang score is a sum
    // of per-WORD-TYPE terms ROUND(k*ln(c+1), 9) carried as
    // DECIMAL(28,9) — decimal summation is order-free where double
    // summation drifts — minus one absent-word penalty term
    // n_d*ln(tot_l + V). Tie-break: max score, then smallest lang.
    // Scale: ONE token-keyed count shuffle trains the model; scoring
    // joins the (doc, word, k) relation against the (word, lang)
    // table with fan-out <= #langs and rolls up per (doc, lang).
    "text_naive_bayes" -> QueryDef.sql(
      (s, dir) => {
        val inst = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), explode(toks(col("text"))).as("w"))
        val dtc = inst.groupBy("doc_id", "w").agg(count(lit(1)).as("k"))
        val wl = inst.groupBy(col("w"), col("lang").as("l"))
          .agg(count(lit(1)).as("c"))
        val vocab = wl.select("w").distinct().agg(count(lit(1)).as("v"))
        val langStats = wl.groupBy("l").agg(sum("c").as("tot"))
          .crossJoin(broadcast(vocab))
          .select(col("l"), log((col("tot") + col("v")).cast("double")).as("lntot"))
        val part = dtc
          .join(wl.select(col("w"), col("l"), log(col("c") + lit(1.0)).as("lnc")), "w")
          .groupBy("doc_id", "l")
          .agg(sum(round(col("k").cast("double") * col("lnc"), 9)
            .cast(DecimalType(28, 9))).as("part"))
        val docSide = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang").as("label_lang"))
          .join(dtc.groupBy("doc_id").agg(sum("k").as("n_d")), "doc_id")
        val scores = docSide.crossJoin(broadcast(langStats))
          .join(part, Seq("doc_id", "l"), "left")
          .withColumn("score",
            coalesce(col("part"), lit(0).cast(DecimalType(28, 9))) -
              round(col("n_d").cast("double") * col("lntot"), 9)
                .cast(DecimalType(28, 9)))
        val best = scores.groupBy(col("doc_id").as("b_id")).agg(max("score").as("ms"))
        val pred = scores.join(best,
            col("doc_id") === col("b_id") && col("score") === col("ms"))
          .groupBy(col("doc_id"), col("label_lang"))
          .agg(min("l").as("pred_lang"))
        pred.groupBy(col("label_lang"), col("pred_lang"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("label_lang", "pred_lang")
      },
      """WITH inst AS (
        |  SELECT doc_id, lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents),
        |dtc AS (SELECT doc_id, w, COUNT(*) AS k FROM inst GROUP BY 1, 2),
        |wl AS (SELECT w, lang AS l, COUNT(*) AS c FROM inst GROUP BY 1, 2),
        |vocab AS (SELECT COUNT(DISTINCT w) AS v FROM wl),
        |ls AS (SELECT l, ln(CAST(SUM(c) + (SELECT v FROM vocab) AS DOUBLE)) AS lntot
        |       FROM wl GROUP BY l),
        |part AS (
        |  SELECT doc_id, l,
        |    SUM(CAST(ROUND(k * ln(c + 1.0), 9) AS DECIMAL(28,9))) AS part
        |  FROM dtc JOIN wl USING (w) GROUP BY 1, 2),
        |docside AS (
        |  SELECT d.doc_id, d.lang AS label_lang, nd.n_d
        |  FROM documents d
        |  JOIN (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_d
        |        FROM dtc GROUP BY 1) nd USING (doc_id)),
        |scores AS (
        |  SELECT ds.doc_id, ds.label_lang, ls.l,
        |    COALESCE(part, CAST(0 AS DECIMAL(28,9)))
        |      - CAST(ROUND(ds.n_d * ls.lntot, 9) AS DECIMAL(28,9)) AS score
        |  FROM docside ds CROSS JOIN ls
        |  LEFT JOIN part p ON p.doc_id = ds.doc_id AND p.l = ls.l),
        |best AS (SELECT doc_id, MAX(score) AS ms FROM scores GROUP BY 1),
        |pred AS (
        |  SELECT s.doc_id, s.label_lang, MIN(s.l) AS pred_lang
        |  FROM scores s JOIN best b ON s.doc_id = b.doc_id AND s.score = b.ms
        |  GROUP BY 1, 2)
        |SELECT label_lang, pred_lang, COUNT(*) AS n_docs
        |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // B73: URL canonicalization + dedup — the C4/CommonCrawl-style
    // URL-level dedup step. The corpus has no URL column, so one is
    // derived from (source, doc_id) arithmetic with the messiness a
    // canonicalizer must survive (case-varied scheme/host, www.
    // prefixes, explicit :443 default ports, trailing slashes,
    // utm_* tracking params, fragments); the div-7 path makes distinct
    // docs genuinely collide post-canonicalization (140 = lcm of the
    // 20-way source cycle and the 4/2/5-way variant cycles times 7, so
    // each colliding group spans one source and several host spellings). Canonical form:
    // lowercase, fragment stripped, utm_* params dropped (non-tracking
    // params kept), default port and www. and trailing slash removed.
    // Pure row-local string work + ONE canonical-key shuffle — exactly
    // the 100 TB shape (the URL never re-shuffles, only its md5 would
    // need to at scale; kept as the string here so the output is
    // human-auditable).
    "dedup_url" -> QueryDef.sql(
      (s, dir) => {
        val raw = Tables.documents(s, dir)
          .withColumn("raw_url", expr(rawUrlSql("CAST(doc_id div 140 AS STRING)")))
        val canon = raw.withColumn("canonical_url", canonicalizeUrl(col("raw_url")))
        canon.groupBy("canonical_url")
          .agg(count(lit(1)).as("n_variants"),
            min(col("doc_id")).as("keep_id"),
            countDistinct(col("raw_url")).as("n_distinct_raw"))
          .orderBy("canonical_url")
      },
      s"""WITH raw AS (
         |  SELECT doc_id, ${rawUrlSql("CAST(doc_id // 140 AS VARCHAR)")} AS raw_url FROM documents),
         |canon AS (
         |  SELECT doc_id, raw_url,
         |    regexp_replace(
         |      replace(replace(
         |        regexp_replace(
         |          split_part(lower(raw_url), '#', 1),
         |          '[?&]utm_[a-z_]+=[a-z0-9]+', '', 'g'),
         |        ':443', ''), '://www.', '://'),
         |      '/$$', '') AS canonical_url
         |  FROM raw)
         |SELECT canonical_url, COUNT(*) AS n_variants,
         |       MIN(doc_id) AS keep_id,
         |       CAST(COUNT(DISTINCT raw_url) AS BIGINT) AS n_distinct_raw
         |FROM canon GROUP BY 1 ORDER BY 1""".stripMargin),

    // B74: k-core decomposition (k=3, 6 synchronous peel rounds) of
    // the bigram co-occurrence graph — the density view of vocabulary
    // (triangles measure local closure; the k-core is the globally
    // dense backbone term-graph pruning keeps). Each round recomputes
    // degrees over the surviving edge set and drops nodes below k —
    // vocab-sized joins only, after the single corpus-sized bigram
    // collapse; the oracle unrolls the same 6 rounds, so the hash is
    // exact whether or not the peel has converged (the spec pins
    // convergence on the test corpus).
    "text_kcore" -> QueryDef.sql(
      (s, dir) => {
        var edges = Tables.documents(s, dir)
          .select(split(trim(col("text")), "\\s+").as("t"))
          .filter(size(col("t")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(t) - 1), i -> struct(t[i - 1] AS w1, t[i] AS w2))")).as("b"))
          .select(least(col("b.w1"), col("b.w2")).as("a"),
            greatest(col("b.w1"), col("b.w2")).as("b"))
          .filter(col("a") =!= col("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("_c")).drop("_c")
          // each round references the prior edge set THREE times (two
          // degree scans + the join); per-round lineage truncation is
          // what keeps that linear instead of 3^rounds (the GraphOps
          // iteration discipline)
          .localCheckpoint()
        for (_ <- 1 to kcoreRounds) {
          val alive = edges.select(col("a").as("node"))
            .union(edges.select(col("b")))
            .groupBy("node").agg(count(lit(1)).as("deg"))
            .filter(col("deg") >= kcoreK)
            .select("node")
          val next = edges
            .join(alive.withColumnRenamed("node", "a"), "a")
            .join(alive.withColumnRenamed("node", "b"), "b")
            .localCheckpoint()
          edges.unpersist()
          edges = next
        }
        edges.select(col("a").as("node"))
          .union(edges.select(col("b")))
          .groupBy("node").agg(count(lit(1)).as("core_degree"))
          .select(col("node").as("term"), col("core_degree"))
          .orderBy("term")
      },
      kcoreOracle),

    // B80: largest-remainder budget apportionment (Hamilton's method)
    // — the "give every language an integer share of the 1M-token
    // budget that sums EXACTLY to the budget" step data-mixing needs
    // (floor-ppm shares under-allocate; naive rounding over- or
    // under-shoots). floor_i = (N·c_i) div S exactly, remainders
    // compared as the exact scaled integers N·c_i − floor_i·S, and the
    // Σfloor shortfall goes +1 to the largest remainders
    // ((rem, lang) tie-break). One corpus pass; everything after is
    // #langs-sized.
    "corpus_apportion" -> QueryDef.sql(
      (s, dir) => {
        val budget = 1000000L
        val cnt = Tables.documents(s, dir)
          .select(col("lang"), tokCount(col("text")).as("tc"))
          .groupBy("lang").agg(sum(col("tc")).as("c"))
        val tot = cnt.agg(sum(col("c").cast(DecimalType(38, 0))).as("s"))
        val base = cnt.crossJoin(broadcast(tot))
          .withColumn("floor_alloc",
            expr(s"CAST(c AS DECIMAL(38,0)) * $budget div s"))
          .withColumn("rem",
            expr(s"CAST(c AS DECIMAL(38,0)) * $budget - " +
              "CAST(floor_alloc AS DECIMAL(38,0)) * s"))
        val short = base.agg((lit(budget) -
          sum(col("floor_alloc"))).as("shortfall"))
        val w = Window.orderBy(col("rem").desc, col("lang"))
        base.crossJoin(broadcast(short))
          .withColumn("rk", row_number().over(w))
          .select(col("lang"), col("c").as("tokens"),
            col("floor_alloc"),
            (col("floor_alloc") +
              when(col("rk") <= col("shortfall"), 1L).otherwise(0L))
              .as("alloc"))
          .orderBy("lang")
      },
      """WITH cnt AS (
        |  SELECT lang,
        |    CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS c
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT SUM(CAST(c AS HUGEINT)) AS s FROM cnt),
        |base AS (
        |  SELECT lang, c,
        |    CAST(c AS HUGEINT) * 1000000 // s AS floor_alloc,
        |    CAST(c AS HUGEINT) * 1000000
        |      - (CAST(c AS HUGEINT) * 1000000 // s) * s AS rem
        |  FROM cnt, tot),
        |short AS (SELECT 1000000 - SUM(floor_alloc) AS shortfall FROM base),
        |ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY rem DESC, lang) AS rk
        |  FROM base)
        |SELECT lang, c AS tokens,
        |  CAST(floor_alloc AS BIGINT) AS floor_alloc,
        |  CAST(floor_alloc + CASE WHEN rk <= shortfall THEN 1 ELSE 0 END
        |    AS BIGINT) AS alloc
        |FROM ranked, short ORDER BY lang""".stripMargin),

    // B37-class: asymmetric shingle CONTAINMENT — |S(a)∩S(b)| / |S(a)|,
    // the quote/subset detector Jaccard misses (a short doc fully
    // embedded in a long one has low Jaccard but containment 1.0).
    // Candidates ride the same shingle equi-join as dedup_ngram_jaccard
    // (never all-pairs); the score is EXACT floor-ppm off the distinct
    // shingle counts, so no double ever enters the output. Directional:
    // both (a⊂b) and (b⊂a) rows survive the threshold independently.
    // At corpus scale the shingle join takes the standard
    // frequency-cap (drop shingles in >F docs) — the 150-doc demo
    // doesn't need it, the banded-minhash surfaces show the shape.
    "text_containment" -> QueryDef.sql(
      (s, dir) => {
        val sh = shingles(s, dir, 150, doubled = false)
        val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val inter = sh.as("x").join(sh.as("y"),
          col("x.shingle") === col("y.shingle") &&
            col("x.doc_id") =!= col("y.doc_id"))
          .groupBy(col("x.doc_id").as("d_sub"), col("y.doc_id").as("d_super"))
          .agg(count(lit(1)).as("i"))
        inter
          .join(sz.select(col("doc_id").as("d_sub"), col("n").as("n_sub")),
            "d_sub")
          .select(col("d_sub"), col("d_super"),
            expr("i * 1000000 div n_sub").as("containment_ppm"))
          .filter(col("containment_ppm") >= 500000)
          .orderBy(desc("containment_ppm"), col("d_sub"), col("d_super"))
      },
      shinglesSql(150, doubled = false) +
        """,
          |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
          |i AS (SELECT x.doc_id AS d_sub, y.doc_id AS d_super, COUNT(*) AS i
          |      FROM sh x JOIN sh y
          |        ON x.shingle = y.shingle AND x.doc_id <> y.doc_id
          |      GROUP BY 1, 2)
          |SELECT d_sub, d_super,
          |  CAST(i.i * 1000000 // sz.n AS BIGINT) AS containment_ppm
          |FROM i JOIN sz ON i.d_sub = sz.doc_id
          |WHERE i.i * 1000000 // sz.n >= 500000
          |ORDER BY containment_ppm DESC, d_sub, d_super""".stripMargin),

    // B38-class: feature-hashing collision audit — the hashing trick
    // (token → md5 → bucket mod 1024) that turns unbounded vocab into
    // fixed-width training features, plus the question every user of it
    // asks: how loaded are the hot buckets and how many distinct terms
    // collide there. One explode + one (bucket) map-combined shuffle;
    // the md5-prefix bucket id is the cross-engine-stable hash idiom
    // the minhash oracle already proves. Top-20 buckets by distinct
    // terms; counts exact.
    "text_hashed_features" -> QueryDef.sql(
      (s, dir) => {
        val toks = Tables.documents(s, dir).filter(col("doc_id") < 300)
          .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
        toks
          .select(col("tok"),
            expr("CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) % 1024")
              .as("bucket"))
          .groupBy("bucket")
          .agg(countDistinct("tok").as("n_terms"), count(lit(1)).as("n_tokens"))
          .orderBy(desc("n_terms"), desc("n_tokens"), col("bucket"))
          .limit(20)
      },
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents WHERE doc_id < 300),
        |b AS (
        |  SELECT tok,
        |    CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 1024 AS bucket
        |  FROM toks)
        |SELECT bucket, COUNT(DISTINCT tok) AS n_terms, COUNT(*) AS n_tokens
        |FROM b GROUP BY 1
        |ORDER BY n_terms DESC, n_tokens DESC, bucket LIMIT 20""".stripMargin),

    // B41-class: calibration / reliability diagram — every learned or
    // heuristic quality score feeding a filter pipeline needs this
    // audit: bucket the score into deciles, compare mean score
    // ("confidence") against the observed outcome rate per bucket.
    // Here the exact-ppm alphabetic ratio plays the score and lang=en
    // the outcome; the machinery (decile bucketing, per-bucket
    // accuracy-vs-confidence gap, all floor-ppm integers off one
    // map-combined pass) is the production ECE shape.
    "corpus_calibration" -> QueryDef.sql(
      (s, dir) => {
        // empty-document guard (r8 advice): Spark's `div` yields NULL on
        // a zero divisor where DuckDB's `//` raises — filter the
        // zero-length rows out IDENTICALLY on both engines so an empty
        // text can never make the two diverge (an unscorable document
        // has no place in a reliability diagram anyway)
        val d = Tables.documents(s, dir)
          .filter(length(col("text")) > 0)
          .select(
            expr("length(regexp_replace(text, '[^a-z]', '')) * 1000000" +
              " div length(text)").as("score_ppm"),
            when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
        d.groupBy(expr("score_ppm div 100000").as("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            expr("sum(pos) * 1000000 div count(1)").as("acc_ppm"),
            expr("sum(score_ppm) div count(1)").as("conf_ppm"))
          .withColumn("gap_ppm", col("acc_ppm") - col("conf_ppm"))
          .orderBy("bucket")
      },
      """WITH d AS (
        |  SELECT
        |    length(regexp_replace(text, '[^a-z]', '', 'g')) * 1000000
        |      // length(text) AS score_ppm,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents WHERE length(text) > 0),
        |g AS (
        |  SELECT score_ppm // 100000 AS bucket, COUNT(*) AS n_docs,
        |    CAST(SUM(pos) * 1000000 // COUNT(*) AS BIGINT) AS acc_ppm,
        |    CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS conf_ppm
        |  FROM d GROUP BY 1)
        |SELECT bucket, n_docs, acc_ppm, conf_ppm,
        |  acc_ppm - conf_ppm AS gap_ppm
        |FROM g ORDER BY bucket""".stripMargin),

    // B42-class: retrieval evaluation — MRR, precision@10 and NDCG@10
    // for a token-overlap retriever against a same-source relevance
    // rule: the metric harness every RAG/retrieval pipeline needs.
    // Scores are exact intersection counts off one (query-token ×
    // candidate-token) equi-join; rank discounts 1/log2(r+1) enter as
    // SHARED floor-ppm literals (the q_benford discipline — never a
    // runtime log), so MRR/P@10/NDCG all land as exact integers.
    "text_retrieval_eval" -> QueryDef.sql(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("text"))
        val qs = docs.filter(col("doc_id") < 20)
          .select(col("doc_id").as("q_id"), col("source").as("q_src"),
            col("text"))
        val cands = docs.filter(col("doc_id") >= 20 && col("doc_id") < 520)
          .select(col("doc_id").as("c_id"), col("source").as("c_src"),
            col("text"))
        val qt = qs.select(col("q_id"),
          explode(split(trim(col("text")), "\\s+")).as("tok")).distinct()
        val ct = cands.select(col("c_id"),
          explode(split(trim(col("text")), "\\s+")).as("tok")).distinct()
        val scores = qt.join(ct, "tok")
          .groupBy("q_id", "c_id").agg(count(lit(1)).as("score"))
        val w = Window.partitionBy("q_id")
          .orderBy(col("score").desc, col("c_id"))
        val ranked = scores
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 10)
          .join(broadcast(qs.select("q_id", "q_src")), "q_id")
          .join(cands.select("c_id", "c_src"), "c_id")
          .withColumn("rel", (col("q_src") === col("c_src")).cast("long"))
        val rtot = qs.join(cands, col("q_src") === col("c_src"))
          .groupBy("q_id").agg(count(lit(1)).as("n_rel_pool"))
        val per = ranked.groupBy("q_id").agg(
          min(when(col("rel") === 1, col("rank"))).as("first_rel"),
          sum(col("rel")).as("n_rel_top10"),
          sum(expr(s"rel * ($DiscountCase)")).as("dcg"))
        per.join(rtot, "q_id")
          .select(col("q_id"),
            coalesce(col("first_rel"), lit(0L)).as("first_rel_rank"),
            coalesce(expr("1000000 div first_rel"), lit(0L)).as("rr_ppm"),
            expr("n_rel_top10 * 100000").as("p10_ppm"),
            expr(s"dcg * 1000000 div ($IdcgCase)").as("ndcg_ppm"))
          .orderBy("q_id")
      },
      s"""WITH d AS (SELECT doc_id, source, text FROM documents),
         |q AS (SELECT doc_id AS q_id, source AS q_src, text FROM d
         |      WHERE doc_id < 20),
         |c AS (SELECT doc_id AS c_id, source AS c_src, text FROM d
         |      WHERE doc_id >= 20 AND doc_id < 520),
         |qt AS (SELECT DISTINCT q_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM q),
         |ct AS (SELECT DISTINCT c_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM c),
         |sc AS (SELECT q_id, c_id, COUNT(*) AS score
         |       FROM qt JOIN ct USING (tok) GROUP BY 1, 2),
         |r AS (SELECT q_id, c_id, score,
         |        ROW_NUMBER() OVER (PARTITION BY q_id
         |          ORDER BY score DESC, c_id) AS rank
         |      FROM sc QUALIFY rank <= 10),
         |rr AS (SELECT r.q_id, r.rank,
         |         CASE WHEN q.q_src = c.c_src THEN 1 ELSE 0 END AS rel
         |       FROM r JOIN q ON r.q_id = q.q_id JOIN c ON r.c_id = c.c_id),
         |pool AS (SELECT q_id, COUNT(*) AS n_rel_pool
         |         FROM q JOIN c ON q.q_src = c.c_src GROUP BY 1),
         |per AS (SELECT q_id,
         |          MIN(CASE WHEN rel = 1 THEN rank END) AS first_rel,
         |          CAST(SUM(rel) AS BIGINT) AS n_rel_top10,
         |          CAST(SUM(rel * ($DiscountCase)) AS BIGINT) AS dcg
         |        FROM rr GROUP BY 1)
         |SELECT per.q_id,
         |  COALESCE(first_rel, 0) AS first_rel_rank,
         |  COALESCE(1000000 // first_rel, 0) AS rr_ppm,
         |  n_rel_top10 * 100000 AS p10_ppm,
         |  CAST(dcg * 1000000 // ($IdcgCaseSql) AS BIGINT) AS ndcg_ppm
         |FROM per JOIN pool ON per.q_id = pool.q_id
         |ORDER BY per.q_id""".stripMargin)
  ) ++ wave26Defs

  /** Threshold-sweep and fertility surfaces appended by wave 26. */
  private lazy val wave26Defs: Map[String, QueryDef] = Map(
    // B43: dedup threshold tuning curve — before committing a Jaccard
    // cutoff, the curve every dedup rollout reads: pairs flagged, docs
    // lost and corpus shrink at each candidate threshold. Pair
    // jaccards (exact floor-ppm) compute ONCE off the shingle
    // equi-join; the 7 thresholds fan out over the tiny pair relation
    // via one Generate; "docs lost" follows keep-lowest-id semantics
    // (distinct higher ids among flagged pairs — dedup_exact's rule).
    "corpus_dedup_sweep" -> QueryDef.sql(
      (s, dir) => {
        val sh = shingles(s, dir, 150, doubled = false)
        val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val nd = sz.agg(count(lit(1)).as("n_docs"))
        val pairs = sh.as("x").join(sh.as("y"),
          col("x.shingle") === col("y.shingle") &&
            col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
          .agg(count(lit(1)).as("i"))
          .join(sz.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
          .join(sz.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
          .select(col("d1"), col("d2"),
            expr("i * 1000000 div (n1 + n2 - i)").as("j_ppm"))
        pairs
          .withColumn("t", explode(array(
            (3 to 9).map(k => lit(k * 100000L)): _*)))
          .groupBy("t")
          .agg(sum(when(col("j_ppm") >= col("t"), 1L).otherwise(0L))
            .as("n_pairs"),
            countDistinct(when(col("j_ppm") >= col("t"), col("d2")))
              .as("docs_lost"))
          .crossJoin(broadcast(nd))
          .select(col("t").as("threshold_ppm"), col("n_pairs"),
            col("docs_lost"),
            expr("docs_lost * 1000000 div n_docs").as("shrink_ppm"))
          .orderBy("threshold_ppm")
      },
      shinglesSql(150, doubled = false) +
        """,
          |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
          |nd AS (SELECT COUNT(*) AS n_docs FROM sz),
          |p AS (
          |  SELECT x.doc_id AS d1, y.doc_id AS d2, COUNT(*) AS i
          |  FROM sh x JOIN sh y
          |    ON x.shingle = y.shingle AND x.doc_id < y.doc_id
          |  GROUP BY 1, 2),
          |j AS (
          |  SELECT d1, d2, i.i * 1000000 // (a.n + b.n - i.i) AS j_ppm
          |  FROM p i JOIN sz a ON i.d1 = a.doc_id
          |  JOIN sz b ON i.d2 = b.doc_id),
          |f AS (SELECT t * 100000 AS t, d2, j_ppm FROM j
          |      CROSS JOIN (SELECT unnest(range(3, 10)) AS t) th)
          |SELECT CAST(t AS BIGINT) AS threshold_ppm,
          |  CAST(SUM(CASE WHEN j_ppm >= t THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_pairs,
          |  CAST(COUNT(DISTINCT CASE WHEN j_ppm >= t THEN d2 END) AS BIGINT)
          |    AS docs_lost,
          |  CAST(COUNT(DISTINCT CASE WHEN j_ppm >= t THEN d2 END) * 1000000
          |    // (SELECT n_docs FROM nd) AS BIGINT) AS shrink_ppm
          |FROM f GROUP BY 1 ORDER BY 1""".stripMargin),

    // B44: tokenizer fertility — the multilingual budget metric: how
    // many BPE-ish tokens a language costs per whitespace token and
    // per 100 chars (fertility drives both training mix and serving
    // cost). One map-combined pass, exact floor-ppm ratios.
    "text_fertility" -> QueryDef.sql(
      (s, dir) => Tables.documents(s, dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("chars"),
          sum(tokCount(col("text"))).as("ws_tokens"),
          sum(regexp_count(col("text"), lit("[a-z]+|[0-9]|[^a-z0-9\\s]"))
            .cast("long")).as("bpe_tokens"))
        .select(col("lang"), col("n_docs"),
          expr("bpe_tokens * 1000000 div ws_tokens").as("fertility_ppm"),
          expr("bpe_tokens * 100000000 div chars").as("tokens_per_100c_ppm"))
        .orderBy("lang"),
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9\s]')))
        |    * 1000000
        |    // SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
        |    AS fertility_ppm,
        |  CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9\s]')))
        |    * 100000000 // SUM(length(text)) AS BIGINT)
        |    AS tokens_per_100c_ppm
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // B46: held-out n-gram coverage — the OOV/coverage report an LM
    // tokenizer or smoothing choice is judged by: share of the TEST
    // half's distinct uni/bi/trigrams already seen in the TRAIN half
    // (doc_id parity split). Token positions explode once; bigrams and
    // trigrams assemble from per-doc lead() windows (small per-doc
    // partitions); each level is a distinct-set anti-join count —
    // never an all-pairs comparison.
    "corpus_ngram_coverage" -> QueryDef.sql(
      (s, dir) => {
        val toks = Tables.documents(s, dir).filter(col("doc_id") < 1000)
          .select(col("doc_id"), (col("doc_id") % 2).as("half"),
            posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "tok")))
        val w = Window.partitionBy("doc_id").orderBy("pos")
        val grams = toks
          .withColumn("t2", lead("tok", 1).over(w))
          .withColumn("t3", lead("tok", 2).over(w))
          .localCheckpoint()
        def level(n: Int, g: DataFrame => org.apache.spark.sql.Column)
          : DataFrame = {
          val ng = grams.select(col("half"), g(grams).as("g"))
            .filter(col("g").isNotNull).distinct()
          val tr = ng.filter(col("half") === 0).select(col("g").as("tg"))
            .distinct()
          val te = ng.filter(col("half") === 1).select("g").distinct()
          te.join(tr, col("g") === col("tg"), "left")
            .agg(count(lit(1)).as("test_ngrams"),
              sum(when(col("tg").isNotNull, 1L).otherwise(0L)).as("covered"))
            .select(lit(n.toLong).as("n"), col("test_ngrams"), col("covered"),
              expr("covered * 1000000 div test_ngrams").as("coverage_ppm"))
        }
        level(1, _ => col("tok"))
          .unionAll(level(2, d =>
            when(col("t2").isNotNull,
              concat_ws(" ", col("tok"), col("t2")))))
          .unionAll(level(3, d =>
            when(col("t3").isNotNull,
              concat_ws(" ", col("tok"), col("t2"), col("t3")))))
          .orderBy("n")
      },
      """WITH toks AS (
        |  SELECT doc_id, doc_id % 2 AS half, tok,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
        |  FROM (SELECT doc_id,
        |          unnest(regexp_split_to_array(trim(text), '\s+')) AS tok,
        |          generate_subscripts(
        |            regexp_split_to_array(trim(text), '\s+'), 1) AS pos
        |        FROM documents WHERE doc_id < 1000) t),
        |g AS (
        |  SELECT doc_id, half, rn, tok,
        |    LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY rn) AS t2,
        |    LEAD(tok, 2) OVER (PARTITION BY doc_id ORDER BY rn) AS t3
        |  FROM toks),
        |lv AS (
        |  SELECT 1 AS n, half, tok AS gr FROM g
        |  UNION ALL
        |  SELECT 2, half, tok || ' ' || t2 FROM g WHERE t2 IS NOT NULL
        |  UNION ALL
        |  SELECT 3, half, tok || ' ' || t2 || ' ' || t3 FROM g
        |  WHERE t3 IS NOT NULL),
        |ds AS (SELECT DISTINCT n, half, gr FROM lv),
        |tr AS (SELECT n, gr FROM ds WHERE half = 0),
        |te AS (SELECT n, gr FROM ds WHERE half = 1)
        |SELECT CAST(te.n AS BIGINT) AS n, COUNT(*) AS test_ngrams,
        |  CAST(SUM(CASE WHEN tr.gr IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS covered,
        |  CAST(SUM(CASE WHEN tr.gr IS NOT NULL THEN 1 ELSE 0 END) * 1000000
        |    // COUNT(*) AS BIGINT) AS coverage_ppm
        |FROM te LEFT JOIN tr ON te.n = tr.n AND te.gr = tr.gr
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // B94: cross-encoder-style rerank over the BM25 candidates — the
    // two-stage retrieval every production RAG/training-retrieval
    // pipeline runs: a cheap index-side scorer (BM25, stage 1) narrows
    // the corpus to k candidates, then an expensive scorer that sees
    // the FULL (query, document) pair re-orders just those k. The
    // rerank features here are the deterministic interaction features
    // a cross-encoder attends to — query-term coverage, query-term
    // ADJACENCY (two query terms touching in the doc), hit density,
    // first-hit position — combined into one exact integer margin
    // (lexicographic buckets: coverage ≫ adjacency ≫ hits ≫ earlier
    // first hit), so the top-k cut is reproducible bit-for-bit where a
    // float ensemble would tie-break by luck. Scale shape: stage 1 is
    // the existing distributed BM25 pass; stage 2 joins the 20-row
    // candidate set back to the corpus by doc_id — a broadcast-able
    // k-row probe, so the expensive features run on k rows, never the
    // corpus (exactly why rerankers are affordable at 100 TB).
    "text_rerank_cross" -> QueryDef.sql(
      (s, dir) => {
        val terms = Bm25Terms
        val cand = bm25Top20(s, dir)
        val docs = Tables.documents(s, dir)
          .join(broadcast(cand), "doc_id")
          .select(col("doc_id"), col("score"), toks(col("text")).as("t"),
            tokCount(col("text")).as("dl"))
        val inTerms = (c: Column) => c.isin(terms: _*)
        val cov = terms.map(t => array_contains(col("t"), t).cast("long")).reduce(_ + _)
        // adjacent (i, i+1) pairs where BOTH tokens are query terms —
        // k-row relation, so the higher-order lambda's interpreted
        // eval is irrelevant here
        val adj = size(filter(
          zip_with(slice(col("t"), lit(1), (col("dl") - 1).cast("int")),
            slice(col("t"), lit(2), (col("dl") - 1).cast("int")),
            (a, b) => inTerms(a) && inTerms(b)),
          x => x)).cast("long")
        val hits = size(filter(col("t"), x => inTerms(x))).cast("long")
        // first hit position, 1-based; sentinel 1e9 when a term is
        // absent (nullif guards both engines' absent conventions)
        val firstPos = least(terms.map(t =>
          coalesce(nullif(array_position(col("t"), lit(t)), lit(0L)), lit(1000000000L))): _*)
        docs
          .withColumn("cov", cov)
          .withColumn("adj", when(col("dl") > 1, adj).otherwise(0L))
          .withColumn("hits", hits)
          .withColumn("first_pos",
            when(firstPos < 1000000000L, firstPos).otherwise(col("dl") + 1))
          // lexicographic packing needs each field < its bucket stride
          // (1e4): a doc past ~10k tokens could push adj/hits/first_pos
          // across bucket boundaries — and since both engines share the
          // formula, the oracle could never see the drift (r12 advice).
          // least()-clamp every field to 9999 in BOTH engines: beyond
          // 10k the feature SATURATES (a doc with 12k query-term hits
          // ranks as 9999 hits — ordinally harmless for a top-k cut,
          // and bit-identical across engines). Raw unclamped values
          // stay in the output columns.
          .withColumn("rerank_score",
            col("cov") * 1000000000000L + least(col("adj"), lit(9999L)) * 100000000L +
              least(col("hits"), lit(9999L)) * 10000L - least(col("first_pos"), lit(9999L)))
          .select(col("doc_id"), col("score"), col("cov"), col("adj"),
            col("hits"), col("first_pos"), col("rerank_score"))
          .orderBy(col("rerank_score").desc, col("doc_id"))
          .limit(10)
      },
      s"""WITH $Bm25CteSql,
         |feat AS (
         |  SELECT b.doc_id, b.score,
         |    regexp_split_to_array(trim(d.text), '\\s+') AS t,
         |    CAST(len(regexp_split_to_array(trim(d.text), '\\s+')) AS BIGINT) AS dl
         |  FROM bm b JOIN documents d ON b.doc_id = d.doc_id),
         |scored AS (
         |  SELECT doc_id, score,
         |    CAST(${Bm25Terms.map(t => s"CAST(list_contains(t, '$t') AS BIGINT)").mkString(" + ")} AS BIGINT) AS cov,
         |    CAST(CASE WHEN dl > 1 THEN len(list_filter(range(1, CAST(dl AS BIGINT)),
         |      i -> t[i] IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
         |       AND t[i + 1] IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})))
         |      ELSE 0 END AS BIGINT) AS adj,
         |    CAST(len(list_filter(t, x -> x IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")}))) AS BIGINT) AS hits,
         |    CAST(CASE WHEN least(${Bm25Terms.map(t => s"coalesce(nullif(list_position(t, '$t'), 0), 1000000000)").mkString(", ")}) < 1000000000
         |      THEN least(${Bm25Terms.map(t => s"coalesce(nullif(list_position(t, '$t'), 0), 1000000000)").mkString(", ")})
         |      ELSE dl + 1 END AS BIGINT) AS first_pos
         |  FROM feat)
         |SELECT doc_id, score, cov, adj, hits, first_pos,
         |  CAST(cov * 1000000000000 + least(adj, 9999) * 100000000
         |       + least(hits, 9999) * 10000 - least(first_pos, 9999) AS BIGINT) AS rerank_score
         |FROM scored
         |ORDER BY rerank_score DESC, doc_id LIMIT 10""".stripMargin),

    // B95: document-quality ensemble gate — the calibrated combination
    // of the individual quality signals (gopher-style length/word-shape
    // rules, lexical diversity, stopword fluency) into ONE score and
    // keep decision, the way production curation stacks gate documents
    // (no single heuristic is trusted alone). Calibration is corpus
    // min-max per-mille scaling from ONE tiny global aggregate
    // broadcast back over the scan — each signal lands on a common
    // 0..1000 scale before weighting, so no signal's raw units
    // dominate. The chars-per-token signal scores by distance from the
    // gopher band midpoint (5.4 chars/token) — both runaway-long and
    // degenerate-short words lose points. All arithmetic is integer
    // floor division (identical on both engines); ensemble = equal-
    // weight mean; keep = ensemble ≥ 500. Scale shape: scan → 1-row
    // agg → broadcast → scan: zero data-sized shuffles at any SF.
    "corpus_quality_ensemble" -> QueryDef.sql(
      (s, dir) => {
        val sig = qualityEnsembleSignals(Tables.documents(s, dir))
        qualityEnsembleApply(sig, qualityEnsembleCalibration(sig))
          .orderBy("doc_id")
      },
      QualityEnsembleOracleSql))

  /** Per-doc raw quality signals for the ensemble gate (B95): token
    * count, unique-token ppm, chars-per-token per-mille, stopword-hit
    * ppm, and the distance of cpt from the gopher-band midpoint.
    * Row-local — safe on a batch OR a micro-batch (the streaming twin
    * scores arriving docs with the SAME expression). */
  private[graft] def qualityEnsembleSignals(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        tokCount(col("text")).as("n_tokens"),
        size(array_distinct(toks(col("text")))).cast("long").as("uniq"),
        length(trim(col("text"))).cast("long").as("n_chars"),
        regexp_count(col("text"), lit("\\b(the|and|of|to|in|is)\\b"))
          .cast("long").as("stop_hits"))
      .select(col("doc_id"), col("n_tokens"),
        expr("uniq * 1000000 div n_tokens").as("uniq_ppm"),
        expr("n_chars * 10000 div n_tokens").as("cpt_pm"),
        expr("stop_hits * 1000000 div n_tokens").as("stop_ppm"))
      .withColumn("cdist", abs(col("cpt_pm") - 54000L))

  /** The 1-row corpus min-max calibration aggregate — the ONLY
    * corpus-global state the ensemble needs, hence exactly what the
    * streaming twin broadcasts per micro-batch. */
  private[graft] def qualityEnsembleCalibration(sig: DataFrame): DataFrame =
    sig.agg(
      min("n_tokens").as("tok_mn"), max("n_tokens").as("tok_mx"),
      min("uniq_ppm").as("uq_mn"), max("uniq_ppm").as("uq_mx"),
      min("cdist").as("cd_mn"), max("cdist").as("cd_mx"),
      min("stop_ppm").as("sp_mn"), max("stop_ppm").as("sp_mx"))

  /** Score signal rows against a (broadcast) calibration row: per-mille
    * min-max scale each signal, equal-weight integer mean, keep at
    * >= 500. All scale inputs are non-negative, so Spark's truncating
    * `div` == DuckDB's flooring `//`; the when() guards the degenerate
    * constant-signal corpus (ANSI DIVIDE_BY_ZERO). */
  private[graft] def qualityEnsembleApply(sig: DataFrame, mm: DataFrame): DataFrame = {
    def scaled(x: String, mn: String, mx: String): Column =
      when(col(mx) > col(mn),
        expr(s"($x - $mn) * 1000 div ($mx - $mn)")).otherwise(500L)
    sig.crossJoin(broadcast(mm))
      .withColumn("s_tok", scaled("n_tokens", "tok_mn", "tok_mx"))
      .withColumn("s_uniq", scaled("uniq_ppm", "uq_mn", "uq_mx"))
      .withColumn("s_cpt", lit(1000L) - scaled("cdist", "cd_mn", "cd_mx"))
      .withColumn("s_stop", scaled("stop_ppm", "sp_mn", "sp_mx"))
      .withColumn("ensemble",
        expr("(s_tok + s_uniq + s_cpt + s_stop) div 4"))
      .select(col("doc_id"), col("n_tokens"), col("uniq_ppm"),
        col("cpt_pm"), col("stop_ppm"), col("ensemble"),
        (col("ensemble") >= 500L).cast("long").as("keep"))
  }

  /** DuckDB oracle for the quality-ensemble gate — shared verbatim by
    * the batch surface and the streaming twin (each arriving doc's row
    * depends only on (doc, fixed calibration), so any micro-batch
    * partition of the corpus lands on identical rows). */
  private[graft] lazy val QualityEnsembleOracleSql: String =
      """WITH sig AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) * 1000000
        |      // len(regexp_split_to_array(trim(text), '\s+')) AS uniq_ppm,
        |    length(trim(text)) * 10000
        |      // len(regexp_split_to_array(trim(text), '\s+')) AS cpt_pm,
        |    len(regexp_extract_all(text, '\b(the|and|of|to|in|is)\b')) * 1000000
        |      // len(regexp_split_to_array(trim(text), '\s+')) AS stop_ppm
        |  FROM documents),
        |sig2 AS (SELECT *, abs(cpt_pm - 54000) AS cdist FROM sig),
        |mm AS (SELECT min(n_tokens) AS tok_mn, max(n_tokens) AS tok_mx,
        |              min(uniq_ppm) AS uq_mn, max(uniq_ppm) AS uq_mx,
        |              min(cdist) AS cd_mn, max(cdist) AS cd_mx,
        |              min(stop_ppm) AS sp_mn, max(stop_ppm) AS sp_mx
        |       FROM sig2),
        |sc AS (
        |  SELECT doc_id, n_tokens, uniq_ppm, cpt_pm, stop_ppm,
        |    CASE WHEN tok_mx > tok_mn THEN (n_tokens - tok_mn) * 1000 // (tok_mx - tok_mn) ELSE 500 END AS s_tok,
        |    CASE WHEN uq_mx > uq_mn THEN (uniq_ppm - uq_mn) * 1000 // (uq_mx - uq_mn) ELSE 500 END AS s_uniq,
        |    1000 - CASE WHEN cd_mx > cd_mn THEN (cdist - cd_mn) * 1000 // (cd_mx - cd_mn) ELSE 500 END AS s_cpt,
        |    CASE WHEN sp_mx > sp_mn THEN (stop_ppm - sp_mn) * 1000 // (sp_mx - sp_mn) ELSE 500 END AS s_stop
        |  FROM sig2, mm)
        |SELECT doc_id, n_tokens,
        |  CAST(uniq_ppm AS BIGINT) AS uniq_ppm, CAST(cpt_pm AS BIGINT) AS cpt_pm,
        |  CAST(stop_ppm AS BIGINT) AS stop_ppm,
        |  CAST((s_tok + s_uniq + s_cpt + s_stop) // 4 AS BIGINT) AS ensemble,
        |  CAST((s_tok + s_uniq + s_cpt + s_stop) // 4 >= 500 AS BIGINT) AS keep
        |FROM sc ORDER BY doc_id""".stripMargin

  /** floor(1e6 / log2(rank+1)) for rank 1..10 — shared literal rank
    * discounts (never a runtime log; the q_benford discipline). Lazy:
    * referenced while `defs` initializes. */
  private lazy val DiscountCase: String =
    """CASE rank WHEN 1 THEN 1000000 WHEN 2 THEN 630929 WHEN 3 THEN 500000
      | WHEN 4 THEN 430676 WHEN 5 THEN 386852 WHEN 6 THEN 356207
      | WHEN 7 THEN 333333 WHEN 8 THEN 315464 WHEN 9 THEN 301029
      | ELSE 289064 END""".stripMargin.replace("\n", "")

  /** Cumulative discount table: ideal DCG for least(n_rel_pool, 10)
    * relevant results (WHEN 0 guards an empty pool — dcg is 0 there,
    * any nonzero divisor keeps the ppm at 0). */
  private lazy val IdcgCase: String =
    """CASE least(n_rel_pool, 10) WHEN 0 THEN 1000000 WHEN 1 THEN 1000000
      | WHEN 2 THEN 1630929 WHEN 3 THEN 2130929 WHEN 4 THEN 2561605
      | WHEN 5 THEN 2948457 WHEN 6 THEN 3304664 WHEN 7 THEN 3637997
      | WHEN 8 THEN 3953461 WHEN 9 THEN 4254490
      | ELSE 4543554 END""".stripMargin.replace("\n", "")

  private lazy val IdcgCaseSql: String = IdcgCase

  /** Deterministic messy-URL synthesis shared by both engines; the only
    * dialect difference is the integer-division path-id cast fragment,
    * passed in whole. */
  private def rawUrlSql(pathId: String): String =
    s"""(CASE doc_id % 2 WHEN 0 THEN 'https' ELSE 'HTTPS' END) || '://' ||
       |(CASE doc_id % 3 WHEN 0 THEN 'www.' || source || '.example.com'
       |                 WHEN 1 THEN source || '.example.com'
       |                 ELSE upper(source) || '.EXAMPLE.COM' END) ||
       |(CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END) ||
       |'/doc/' || $pathId ||
       |(CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END) ||
       |(CASE WHEN doc_id % 4 = 2 THEN '?utm_source=feed&utm_campaign=x'
       |      WHEN doc_id % 4 = 3 THEN '?ref=home' ELSE '' END) ||
       |(CASE WHEN doc_id % 6 = 2 THEN '#section-2' ELSE '' END)"""
      .stripMargin.replace("\n", " ")

  /** Spark-side canonicalizer (mirrors the oracle's expression chain):
    * lowercase -> drop fragment -> drop utm_* params -> drop :443 ->
    * drop www. -> drop trailing slash. */
  private[graft] def canonicalizeUrl(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            substring_index(lower(url), "#", 1),
            "[?&]utm_[a-z_]+=[a-z0-9]+", ""),
          ":443", ""),
        "://www\\.", "://"),
      "/$", "")

  // final + literal = compile-time constants, safe to reference from
  // `defs` above despite object-initialization order
  private final val kcoreK = 3
  private final val kcoreRounds = 6

  /** Unrolled 6-round 3-core peel over the same bigram edge set.
    * (lazy: `defs` initializes before later-declared plain vals). */
  private lazy val kcoreOracle: String = {
    val base =
      """WITH t AS (SELECT regexp_split_to_array(trim(text), '\s+') AS t
        |           FROM documents WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 2),
        |bg AS (SELECT t[CAST(s.i AS INT)] AS w1, t[CAST(s.i AS INT) + 1] AS w2
        |       FROM (SELECT t, unnest(range(1, len(t))) AS i FROM t) s(t, i)
        |       WHERE t[CAST(s.i AS INT)] <> t[CAST(s.i AS INT) + 1]),
        |e0 AS MATERIALIZED (SELECT DISTINCT LEAST(w1, w2) AS a, GREATEST(w1, w2) AS b FROM bg)""".stripMargin
    val rounds = (1 to kcoreRounds).map { r =>
      val p = r - 1
      s"""a$r AS MATERIALIZED (SELECT node FROM (
         |  SELECT a AS node FROM e$p UNION ALL SELECT b FROM e$p) u
         |  GROUP BY 1 HAVING COUNT(*) >= $kcoreK),
         |e$r AS MATERIALIZED (SELECT a, b FROM e$p
         |  JOIN a$r x ON e$p.a = x.node JOIN a$r y ON e$p.b = y.node)""".stripMargin
    }.mkString(",\n", ",\n", "")
    val fin =
      s"""
         |SELECT node AS term, COUNT(*) AS core_degree FROM (
         |  SELECT a AS node FROM e$kcoreRounds
         |  UNION ALL SELECT b FROM e$kcoreRounds) u
         |GROUP BY 1 ORDER BY term""".stripMargin
    base + rounds + fin
  }


  /** DuckDB SQL for [[graft.operators.TextOps.bpeMerges]]: identical
    * word-frequency base, unrolled merge rounds, byte-identical merge
    * symbols via chr(256+round). */
  /** The unrolled BPE-training CTE chain (w0..wR vocab states, m1..mR
    * one-row merge picks) — shared by the training surface's oracle
    * and the encode surface's (which applies m1..mR to documents). */
  private def bpeTrainCtes(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""p$r AS (SELECT substr(w, CAST(s.i AS INT), 2) AS pair,
         |          CAST(SUM(f) AS BIGINT) AS cnt
         |        FROM (SELECT w, f, unnest(range(1, length(w))) AS i FROM w${r - 1}) s
         |        GROUP BY 1),
         |m$r AS MATERIALIZED (
         |  SELECT $r AS round, pair, cnt FROM p$r ORDER BY cnt DESC, pair LIMIT 1),
         |w$r AS MATERIALIZED (
         |  SELECT replace(w, COALESCE((SELECT pair FROM m$r), chr(1)), chr(${256 + r})) AS w, f
         |  FROM w${r - 1})""".stripMargin
    }.mkString(",\n")
    s"""w0 AS MATERIALIZED (
       |  SELECT w, COUNT(*) AS f
       |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
       |        FROM documents) t
       |  GROUP BY w),
       |$steps""".stripMargin
  }

  private def bpeOracleSql(rounds: Int): String = {
    val union = (1 to rounds).map(r => s"SELECT * FROM m$r").mkString(" UNION ALL ")
    s"""WITH ${bpeTrainCtes(rounds)}
       |SELECT CAST(round AS BIGINT) AS round, pair, cnt
       |FROM ($union) ORDER BY round""".stripMargin
  }

  /** Demo "new snapshot": prefix-mutated copies of every 10th doc
    * (ids +10M) — every probe's origin must be recovered by
    * fingerprint VALUE overlap alone, since the prefix shifts all
    * positions. Shared by `dedup_incremental` and its streaming twin. */
  private[graft] def mutatedTenth(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 10 === 0)
      // ENVELOPE GUARD (r9 advice): the +10M offset discriminates probe
      // ids from base ids in dedup_editdist / dedup_incremental — a
      // corpus whose doc_ids reach 10M (≈ sf200 for the replicated
      // packs) would silently collide probe and base ids on both
      // engines; fail loudly at the source instead.
      .select(when(col("doc_id") >= lit(10000000L),
          raise_error(concat(lit("mutatedTenth: doc_id "), col("doc_id"),
            lit(" breaches the 10M probe-offset envelope"))))
        .otherwise(col("doc_id") + lit(10000000L)).as("doc_id"),
        concat(lit("pfx"), (col("doc_id") * 7919 % 97).cast("string"), lit(" "),
          col("text")).as("text"))

  /** The build-once side of incremental dedup: (old_id, fp) postings
    * plus the stop list of fps whose old-corpus df exceeds 10.
    * localCheckpointed — the df agg and every probe batch consume the
    * postings, and the winnow+distinct subtree must not re-run per
    * consumer (in production both relations persist between ingests). */
  private[graft] def incrementalIndex(docs: DataFrame): (DataFrame, DataFrame) = {
    val oldFp = TextOps.winnowNative(
        docs.select(col("doc_id"), col("text")), "doc_id", "text", k = 9, w = 4)
      .select(col("doc_id").as("old_id"), col("fp")).distinct()
      .localCheckpoint()
    val stop = oldFp.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") > 10).select("fp").localCheckpoint()
    (oldFp, stop)
  }

  /** Probe one batch of new docs against the index. Anti-join the
    * stop list once; every surviving probe fp has old-df <= 10 (or is
    * novel), so the posting join's fan-out is capped without ever
    * materializing posting ARRAYS — a ubiquitous fp's full id list
    * never exists anywhere. Best old match by (max overlap, min
    * old_id) in two grouped aggs, no window. Batch-boundary-free:
    * each new doc's row depends only on the FIXED old index, so any
    * micro-batch partition of the snapshot yields identical rows. */
  /** The raw (new_id, old_id, overlap) candidate relation — exposed
    * separately so the argmax contract is spec-testable. */
  private[graft] def incrementalOverlaps(oldFp: DataFrame, stop: DataFrame,
      batch: DataFrame): DataFrame = {
    val newFp = TextOps.winnowNative(batch, "doc_id", "text", k = 9, w = 4)
      .select(col("doc_id").as("new_id"), col("fp")).distinct()
    val probeFp = newFp.join(stop, Seq("fp"), "left_anti")
    probeFp.join(oldFp, "fp")
      .groupBy("new_id", "old_id").agg(count(lit(1)).as("overlap"))
  }

  private[graft] def incrementalProbe(oldFp: DataFrame, stop: DataFrame,
      batch: DataFrame): DataFrame = {
    val newFp = TextOps.winnowNative(batch, "doc_id", "text", k = 9, w = 4)
      .select(col("doc_id").as("new_id"), col("fp")).distinct()
    val probeFp = newFp.join(stop, Seq("fp"), "left_anti").localCheckpoint()
    val nfp = probeFp.groupBy("new_id").agg(count(lit(1)).as("n_fp"))
    val ov = probeFp.join(oldFp, "fp")
      .groupBy("new_id", "old_id").agg(count(lit(1)).as("overlap"))
    // (max overlap, min old_id) argmax in ONE pass: the old max-join-
    // back form recomputed `ov` — i.e. re-ran the posting join against
    // the full fingerprint index — a second time (measured as the r12
    // sf100 pack's biggest pole, 1289 s). Packing the ordering into a
    // single primitive long keeps the aggregate a streaming
    // HashAggregate (a max(struct) would plan as SortAggregate — the
    // integerCells lesson). Bound contract: old ids are corpus doc_ids
    // (< 2^31 at every SF; the +10M mutated ids live on the NEW side),
    // overlap ≤ fps-per-doc, so the key stays well inside ANSI long.
    // The bound is ENFORCED, not assumed (r12 advice): an old_id
    // outside [0, 2^31) would make the low field go negative and
    // collide adjacent overlap buckets — silently wrong picks that no
    // oracle-less scale run would catch. raise_error costs nothing on
    // conforming rows and fails the job loudly the day id allocation
    // changes (the mutatedTenth envelope-guard convention).
    val guardedOld =
      when(col("old_id").between(0L, 2147483647L), col("old_id"))
        .otherwise(raise_error(concat(
          lit("incrementalProbe: old_id "), col("old_id"),
          lit(" breaches the [0, 2^31) packed-argmax envelope"))).cast("long"))
    val best = ov
      .select(col("new_id"),
        (col("overlap") * 4294967296L + (lit(2147483648L) - guardedOld)).as("bk"))
      .groupBy("new_id").agg(max("bk").as("bk"))
      .select(col("new_id"), expr("bk div 4294967296").as("overlap"),
        (lit(2147483648L) - expr("bk % 4294967296")).as("old_id"))
    best.join(nfp, "new_id")
      .filter(col("overlap") * 2 >= col("n_fp"))
      .select(col("new_id"), col("old_id"), col("overlap"), col("n_fp"),
        round(col("overlap").cast("double") / col("n_fp"), 6).as("containment"))
  }

  /** The winnowing-fingerprint CTE chain (char 9-grams, window 4 —
    * winnowNative's parameters) over a caller-supplied corpus
    * relation, ending at `fp` = DISTINCT (doc_id, fpv). Factored so
    * the incremental-dedup oracle and the index-build stats oracle
    * derive from the SAME chain — the build surface must certify
    * exactly the relation the probe surface consumes. */
  private[graft] def winnowOracleCtes(corpusSql: String): String =
      s"""corpus AS ($corpusSql),
        |ch AS (SELECT doc_id, CAST(length(text) - 8 AS BIGINT) AS L,
        |              string_split(text, '') AS c
        |            FROM corpus WHERE length(text) >= 12),
        |hs AS (SELECT doc_id, L, CAST(s.i AS BIGINT) AS pos,
        |         (CAST(ascii(c[CAST(s.i AS INT) + 0]) AS BIGINT) * 852891037441 +
        |          CAST(ascii(c[CAST(s.i AS INT) + 1]) AS BIGINT) * 27512614111 +
        |          CAST(ascii(c[CAST(s.i AS INT) + 2]) AS BIGINT) * 887503681 +
        |          CAST(ascii(c[CAST(s.i AS INT) + 3]) AS BIGINT) * 28629151 +
        |          CAST(ascii(c[CAST(s.i AS INT) + 4]) AS BIGINT) * 923521 +
        |          CAST(ascii(c[CAST(s.i AS INT) + 5]) AS BIGINT) * 29791 +
        |          CAST(ascii(c[CAST(s.i AS INT) + 6]) AS BIGINT) * 961 +
        |          CAST(ascii(c[CAST(s.i AS INT) + 7]) AS BIGINT) * 31 +
        |          CAST(ascii(c[CAST(s.i AS INT) + 8]) AS BIGINT)) % 1000003 AS h
        |       FROM (SELECT doc_id, L, c, unnest(range(1, len(c) - 7)) AS i
        |             FROM ch) s(doc_id, L, c, i)),
        |wexp AS (SELECT doc_id, pos - o.off AS ws, pos, h, L
        |         FROM hs CROSS JOIN (VALUES (0), (1), (2), (3)) o(off)
        |         WHERE pos - o.off >= 1 AND pos - o.off <= L - 3),
        |wm AS (SELECT doc_id, ws, MIN(h) AS wmin FROM wexp GROUP BY 1, 2),
        |sel AS (SELECT e.doc_id, e.ws, MAX(e.pos) AS selpos, MAX(m.wmin) AS fpv
        |        FROM wexp e JOIN wm m ON e.doc_id = m.doc_id AND e.ws = m.ws
        |        WHERE e.h = m.wmin GROUP BY 1, 2),
        |fp AS (SELECT DISTINCT doc_id, fpv FROM sel)""".stripMargin

  /** DuckDB oracle for incremental dedup — shared verbatim by the
    * batch and streaming surfaces (the streaming run must land on the
    * identical rows). Lazy: referenced from `defs`, which initializes
    * earlier in the object body — an eager val here would still be
    * null at that point. */
  private[graft] lazy val IncrementalDedupOracleSql: String =
      s"""WITH ${winnowOracleCtes(
          """
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000,
        |         'pfx' || CAST(doc_id * 7919 % 97 AS VARCHAR) || ' ' || text
        |  FROM documents WHERE doc_id % 10 = 0""".stripMargin)},
        |oldfp AS (SELECT doc_id AS old_id, fpv FROM fp WHERE doc_id < 10000000),
        |df AS (SELECT fpv, COUNT(*) AS d FROM oldfp GROUP BY 1),
        |newfp AS (SELECT doc_id AS new_id, fpv FROM fp WHERE doc_id >= 10000000),
        |probe AS (SELECT n.new_id, n.fpv FROM newfp n
        |          LEFT JOIN df ON n.fpv = df.fpv
        |          WHERE COALESCE(df.d, 0) <= 10),
        |nfp AS (SELECT new_id, COUNT(*) AS n_fp FROM probe GROUP BY 1),
        |ov AS (SELECT p.new_id, o.old_id, COUNT(*) AS overlap
        |       FROM probe p JOIN oldfp o USING (fpv)
        |       GROUP BY 1, 2),
        |best AS (SELECT new_id, MAX(overlap) AS overlap FROM ov GROUP BY 1),
        |pick AS (SELECT b.new_id, b.overlap, MIN(o.old_id) AS old_id
        |         FROM best b JOIN ov o ON o.new_id = b.new_id AND o.overlap = b.overlap
        |         GROUP BY 1, 2)
        |SELECT p.new_id, p.old_id, CAST(p.overlap AS BIGINT) AS overlap,
        |  CAST(f.n_fp AS BIGINT) AS n_fp,
        |  ROUND(CAST(p.overlap AS DOUBLE) / f.n_fp, 6) AS containment
        |FROM pick p JOIN nfp f USING (new_id)
        |WHERE p.overlap * 2 >= f.n_fp
        |ORDER BY new_id""".stripMargin

  /** B27: distribution drift between corpus snapshots — the check a
    * training pipeline runs before accepting a new crawl (did the
    * token mix shift?). Halves are deterministic (doc_id parity, the
    * corpus_sample_split convention); drift = add-one-smoothed
    * KL(A‖B) per lang over the union vocabulary.
    *
    * Determinism: counts are exact longs; every ln() argument is an
    * exact integer (c+1, N+V), so per-term values agree across engines
    * bit-for-bit (the text_entropy precedent) and the final sum hides
    * reduce-order ulps far below the ROUND(.,6) cut. Scale: one
    * token-keyed shuffle for the counts (high-cardinality key, partial
    * agg), per-lang totals are a tiny broadcast join back, and the
    * final per-lang sum is map-side combined — no windows, no
    * low-cardinality sorts. */
  /** Per-doc corpus-LM fluency score (see the `text_lm_score` entry
    * for semantics, determinism, and the interpreted-lambda scale
    * lesson). Factored out so `corpus_lm_buckets` can bucket the same
    * scores the scoring surface emits: (doc_id, [carry...], n_bigrams,
    * lm_score), docs with ≥2 tokens only, lm_score rounded to 6
    * places. `carry` columns ride the doc-keyed group-bys (they must
    * be functions of doc_id — lang, source — so they add no group
    * cardinality and save the caller a 1:1 self-join back). */
  private[graft] def lmScores(documents: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val docKeys = (col("doc_id") +: carry.map(col)).toSeq
    val docs = documents
      .select((docKeys :+ toks(col("text")).as("t")): _*)
      .filter(size(col("t")) >= 2)
    val bg = docs
      .select((docKeys :+ explode(expr(
        "transform(sequence(1, size(t) - 1), " +
          "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"))
        .as("b")): _*)
      .select((docKeys :+ col("b.w1").as("w1") :+ col("b.w2").as("w2")): _*)
    val bgc = bg.groupBy((docKeys :+ col("w1") :+ col("w2")): _*).agg(count(lit(1)).as("k"))
    val bic = bgc.groupBy("w1", "w2").agg(sum("k").as("c2"))
    val uni = bic.groupBy(col("w1").as("u_w1")).agg(sum("c2").as("c1"))
    val scored = bic.join(uni, col("w1") === col("u_w1"))
      .select(col("w1"), col("w2"),
        (log(col("c2").cast("double")) - log(col("c1").cast("double"))).as("ll"))
    bgc.join(scored, Seq("w1", "w2"))
      .groupBy(docKeys: _*)
      .agg(sum("k").as("n_bigrams"),
        round(sum(col("k").cast("double") * col("ll")) / sum("k").cast("double"), 6)
          .as("lm_score"))
  }

  private[graft] def corpusDrift(docs: DataFrame): DataFrame = {
    val cnt = docs
      .select(col("lang"), col("doc_id"), explode(toks(col("text"))).as("w"))
      .groupBy("lang", "w")
      .agg(
        sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L)).as("cb"))
    val tot = cnt.groupBy(col("lang").as("t_lang"))
      .agg(sum("ca").as("na"), sum("cb").as("nb"), count(lit(1)).as("v"))
    cnt.join(broadcast(tot), col("lang") === col("t_lang"))
      .groupBy("lang", "v")
      .agg(round(sum(
        (col("ca") + lit(1.0)) / (col("na") + col("v")).cast("double") *
          (log(col("ca") + lit(1.0)) - log((col("na") + col("v")).cast("double")) -
            log(col("cb") + lit(1.0)) + log((col("nb") + col("v")).cast("double")))),
        6).as("kl_ab"))
      .select(col("lang"), col("v").cast("long").as("n_terms"), col("kl_ab"))
      .orderBy("lang")
  }
}
