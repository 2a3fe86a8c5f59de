package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted build-once indexes — the physical split the incremental
  * dedup contract implies (VERDICT r12 task 1).
  *
  * `dedup_incremental`'s production shape is "an existing corpus is
  * ALREADY indexed; only the new batch probes it" — but until round 13
  * the surface rebuilt the fingerprint index inside every run, so the
  * sf100 bench charged ~1000 s of index BUILD to a surface whose
  * contract is probe-only. This store gives the index a durable home:
  *
  *  - the (old_id, fp) posting relation persists as a parquet table
  *    BUCKETED and SORTED by `fp` — the probe join's key — so every
  *    later probe's sort-merge join reads the index pre-partitioned
  *    and pre-sorted with NO exchange and NO sort on the (huge) index
  *    side; only the (small) probe batch shuffles. That is the 100 TB
  *    posture: per-ingest cost ∝ batch size, amortized build cost
  *    paid once and shared by every batch and by the streaming twin.
  *  - the stop list (fps with old-corpus df > 10) persists beside it —
  *    tiny, broadcast at probe time.
  *
  * Index location is keyed by a CONTENT fingerprint of the corpus
  * parquet (file names, lengths, mtimes): regenerate the testdata and
  * the key changes, so a stale index can never serve a new corpus —
  * the cache is self-invalidating, no manual flush step.
  *
  * Catalog note: bucketing metadata lives in the session catalog, and
  * this project runs on the default in-memory catalog (no Hive
  * metastore), so each new session re-registers the external bucketed
  * table with `CREATE TABLE ... CLUSTERED BY ... LOCATION` DDL over
  * the persisted files — the stand-in for the persistent metastore a
  * cluster deployment would have. Bucket files are written by Spark's
  * own bucketed writer, so the DDL's spec matches the file layout
  * exactly.
  */
object IndexStore {

  /** 32 buckets matches the local-mode parallelism; a cluster build
    * would size this by index bytes (e.g. one bucket per ~256 MB). */
  private val buckets = 32

  /** Default root is PER-PROCESS (a [[graft.Scratch]] directory, gone
    * when the JVM exits): within one JVM the build-once/probe-many split
    * holds — build in warmup or as its own timed surface, every probe
    * reads the bucketed files — but nothing survives the process, so
    * every bench/verify invocation provably computes from the parquet
    * inputs alone (no cross-run result caching). A production deployment
    * sets GRAFT_INDEX_DIR to durable storage and gets the true
    * build-once amortization. */
  private lazy val processRoot: String = graft.Scratch.fresh("graft-index")
  private[graft] def rootDir: String =
    sys.env.getOrElse("GRAFT_INDEX_DIR", processRoot)

  /** Content fingerprint of `<dir>/<table>.parquet` — md5 over the
    * sorted (relative name, length, mtime) listing, so any rewrite of
    * the corpus produces a fresh index key. */
  private[graft] def corpusKey(spark: SparkSession, dir: String,
      table: String = "documents"): String = {
    val p = new Path(s"$dir/$table.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files: Seq[(String, Long, Long)] = {
      val st = fs.getFileStatus(p)
      if (st.isDirectory)
        fs.listStatus(p).toSeq
          .filterNot(_.getPath.getName.startsWith("_"))
          .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
      else Seq((st.getPath.getName, st.getLen, st.getModificationTime))
    }
    val canon = files.sortBy(_._1)
      .map { case (n, l, m) => s"$n:$l:$m" }.mkString(dir, "|", "")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8"))
    md.take(8).map(b => f"$b%02x").mkString
  }

  private def indexDir(key: String) = s"$rootDir/$key/winnow_fp"
  private def stopDir(key: String) = s"$rootDir/$key/stop_fp"
  private def metaPath(key: String) = new Path(s"$rootDir/$key/_META")
  private def tableName(key: String) = s"graft_winnow_fp_$key"

  private def hfs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** True when a completed build exists for this corpus. */
  def exists(spark: SparkSession, dir: String): Boolean = {
    val key = corpusKey(spark, dir)
    hfs(spark, rootDir).exists(metaPath(key))
  }

  /** Force-(re)build the winnowing fingerprint index for the corpus at
    * `dir` and return a 1-row stats relation (the benchable,
    * oracle-checkable face of the build): postings, distinct docs,
    * distinct fps, stop-list size. Same winnow parameters as
    * `TextQueries.incrementalIndex` (k=9, w=4, df cap 10) — the probe
    * path must see identical data whichever side built it. */
  def buildWinnowIndex(spark: SparkSession, dir: String): DataFrame = {
    val key = corpusKey(spark, dir)
    val tbl = tableName(key)
    val fs = hfs(spark, rootDir)
    fs.delete(metaPath(key), false)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val docs = graft.Tables.documents(spark, dir)
    val oldFp = TextOps.winnowNative(
        docs.select(col("doc_id"), col("text")), "doc_id", "text", k = 9, w = 4)
      .select(col("doc_id").as("old_id"), col("fp")).distinct()
    // pre-repartition on the bucket key so the bucketed write emits one
    // file per bucket instead of (#shuffle-partitions × #buckets)
    oldFp.repartition(buckets, col("fp"))
      .write.mode("overwrite")
      .bucketBy(buckets, "fp").sortBy("fp")
      .option("path", indexDir(key))
      .saveAsTable(tbl)
    // stop list off the WRITTEN table — one bucketed scan, never a
    // second winnow pass
    spark.table(tbl)
      .groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") > 10).select("fp")
      .write.mode("overwrite").parquet(stopDir(key))
    // the meta marker RECORDS the bucket count: a later session must
    // register the external table with the layout the files were
    // actually written in, not whatever its own env says
    val out = fs.create(metaPath(key), true)
    out.write(s"buckets=$buckets\n".getBytes("UTF-8"))
    out.close()
    indexStats(spark, key)
  }

  /** Open the persisted index for `dir`, building it first if absent.
    * Returns (postings bucketed on fp, stop-list) — drop-in for
    * `TextQueries.incrementalIndex`, minus the per-run build cost. */
  def winnowIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val key = corpusKey(spark, dir)
    if (!hfs(spark, rootDir).exists(metaPath(key))) buildWinnowIndex(spark, dir)
    (openTable(spark, key), spark.read.parquet(stopDir(key)))
  }

  /** Pre-build hook for benches: make sure the index exists so probe
    * surfaces time the probe, with the build its own line item. */
  def ensure(spark: SparkSession, dir: String): Unit = {
    val key = corpusKey(spark, dir)
    if (!hfs(spark, rootDir).exists(metaPath(key))) buildWinnowIndex(spark, dir)
  }

  /** Bucket count the index at `key` was WRITTEN with (from the meta
    * marker); falls back to the env default for pre-marker builds. */
  private def writtenBuckets(spark: SparkSession, key: String): Int = {
    val fs = hfs(spark, rootDir)
    val in = fs.open(metaPath(key))
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    "buckets=(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toInt)
      .getOrElse(buckets)
  }

  private def openTable(spark: SparkSession, key: String): DataFrame = {
    val tbl = tableName(key)
    if (!spark.catalog.tableExists(tbl))
      // re-attach the external bucketed table in this session's
      // in-memory catalog with the layout the files were WRITTEN in
      // (recorded in the meta marker — the session's own env may
      // differ); the files carry Spark's bucketed naming
      spark.sql(
        s"""CREATE TABLE $tbl (old_id BIGINT, fp BIGINT)
           |USING PARQUET
           |CLUSTERED BY (fp) SORTED BY (fp) INTO ${writtenBuckets(spark, key)} BUCKETS
           |LOCATION '${indexDir(key)}'""".stripMargin)
    spark.table(tbl).select("old_id", "fp")
  }

  // ---------------------------------------------------------------
  // IVF-PQ vector index (r13): the same build/probe split for the
  // vector tier. Artifacts per embeddings-corpus key:
  //   ivfpq/cent     (cell, ccv)          — coarse centroids, tiny
  //   ivfpq/codebook (m, code, cv)        — residual codebook, tiny
  //   ivfpq/codes    (vec_id, m, code, cell) — the coded corpus
  // Parameters are pinned to the ann_topk_ivfpq surface contract
  // (kc=8, coarseIters=2, m=8, codes=16, pqIters=2) and stamped into
  // the artifact path, so a parameter change can never read a
  // mismatched index. codes/ is NOT bucketed: the probe's ADC join
  // broadcasts the per-query LUT, so the coded corpus never shuffles.
  // ---------------------------------------------------------------

  private val IvfPqTag = "ivfpq_kc8i2m8x16p2"
  private def ivfPqDir(key: String) = s"$rootDir/$key/$IvfPqTag"
  private def ivfPqMeta(key: String) = new Path(s"${ivfPqDir(key)}/_META")

  /** Force-(re)build the IVF-PQ index for `<dir>/embeddings.parquet`;
    * returns the 1-row coded-corpus census the DuckDB oracle
    * recomputes from scratch (vectors coded, cells in use, code rows,
    * and a content checksum over the (cell, m, code) assignments). */
  def buildIvfPqIndex(spark: SparkSession, dir: String): DataFrame = {
    val key = corpusKey(spark, dir, "embeddings")
    val fs = hfs(spark, rootDir)
    fs.delete(ivfPqMeta(key), false)
    val (cent, codebook, codesDf) = VectorOps.ivfPqTrainAssign(
      graft.Tables.embeddings(spark, dir),
      kc = 8, coarseIters = 2, m = 8, codes = 16, pqIters = 2)
    cent.write.mode("overwrite").parquet(s"${ivfPqDir(key)}/cent")
    codebook.write.mode("overwrite").parquet(s"${ivfPqDir(key)}/codebook")
    codesDf.write.mode("overwrite").parquet(s"${ivfPqDir(key)}/codes")
    fs.create(ivfPqMeta(key), true).close()
    ivfPqStats(spark, key)
  }

  /** Open (cent, codebook, codes) for `dir`, building on first miss. */
  def ivfPqIndex(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val key = corpusKey(spark, dir, "embeddings")
    if (!hfs(spark, rootDir).exists(ivfPqMeta(key))) buildIvfPqIndex(spark, dir)
    (spark.read.parquet(s"${ivfPqDir(key)}/cent"),
      spark.read.parquet(s"${ivfPqDir(key)}/codebook"),
      spark.read.parquet(s"${ivfPqDir(key)}/codes"))
  }

  /** Pre-build hook for benches (see [[ensure]]). */
  def ensureIvfPq(spark: SparkSession, dir: String): Unit = {
    val key = corpusKey(spark, dir, "embeddings")
    if (!hfs(spark, rootDir).exists(ivfPqMeta(key))) buildIvfPqIndex(spark, dir)
  }

  private def ivfPqStats(spark: SparkSession, key: String): DataFrame =
    spark.read.parquet(s"${ivfPqDir(key)}/codes").agg(
      countDistinct("vec_id").as("n_vecs"),
      countDistinct("cell").as("n_cells"),
      count(lit(1)).as("n_code_rows"),
      // content checksum over bounded fields only (cell < 8, m < 8,
      // code < 16): stays far inside ANSI long at any corpus size
      sum(col("cell") * 251L + col("m") * 31L + col("code")).as("code_checksum"))

  private def indexStats(spark: SparkSession, key: String): DataFrame = {
    val post = openTable(spark, key).agg(
      count(lit(1)).as("n_postings"),
      countDistinct("old_id").as("n_docs"),
      countDistinct("fp").as("n_fps"))
    val stop = spark.read.parquet(stopDir(key))
      .agg(count(lit(1)).as("n_stop"))
    post.crossJoin(stop)
      .select(col("n_docs"), col("n_fps"), col("n_postings"), col("n_stop"))
  }
}
