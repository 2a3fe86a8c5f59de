package graft.operators

import java.time.{Instant, LocalDateTime, ZoneId, ZoneOffset}
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Time-partitioned span layout (SURVEY.md §2 A22) — the Spark
  * analogue of the reference's hourly ES index buckets + TTL
  * (reader/.../SpansIndexConfiguration.indexHourBucket/indexHourTtl and
  * ESUtils.getESIndexes index-name fan-out).
  *
  * Spans land under dt=YYYY-MM-DD/hr=HH directories; every time-ranged
  * query filters on the partition columns so the scan prunes whole
  * directories before reading a byte — at 100 TB with hourly partitions
  * a one-day search touches 24/8760ths of the data. Retention (the
  * reference's TTL) is `drop partition`, not a delete-scan.
  */
object TimePartitioner {

  /** Write a span relation partitioned by start time: (dt, hr) when
    * `hourly` (the 100 TB layout — keeps each directory's data volume
    * bounded), dt-only otherwise (right-sized for small corpora, where
    * hourly dirs would be a small-files pathology). */
  def writePartitioned(spans: DataFrame, outDir: String, hourly: Boolean = true): Unit = {
    val withCols = spans
      .withColumn("start_ts", timestamp_micros(col("start_us")))
      .withColumn("dt", date_format(col("start_ts"), "yyyy-MM-dd"))
      .withColumn("hr", date_format(col("start_ts"), "HH"))
      .drop("start_ts")
    val (df, cols) =
      if (hourly) (withCols, Seq("dt", "hr")) else (withCols.drop("hr"), Seq("dt"))
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(cols: _*)
      .parquet(outDir)
  }

  /** Retention (the reference's index TTL): drop whole dt=… partition
    * directories strictly older than the cutoff. A metadata/filesystem
    * operation — no scan, no rewrite, no tombstones — which is the
    * entire point of time-partitioned layouts at 100 TB (the reference
    * achieves the same by letting whole hourly ES indexes age out).
    * Uses the Hadoop FileSystem API, so URI-form and remote paths
    * (file:/, hdfs://, s3a://) work like local ones, and a partition
    * is only reported dropped if the recursive delete actually
    * succeeded. Returns the dropped partition names. */
  def expire(spark: SparkSession, dir: String, cutoffUs: Long): Seq[String] = {
    val cutoffDt = instant(cutoffUs).atZone(sessionZone(spark)).toLocalDate.toString
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("dt="))
      .filter(_.getPath.getName.stripPrefix("dt=") < cutoffDt)
      .filter(st => fs.delete(st.getPath, true))
      .map(_.getPath.getName)
      .sorted
  }

  /** Small-file compaction for one or all dt=… partitions — the other
    * half of the layout's lifecycle (write → prune → expire →
    * COMPACT). Streaming ingest and incremental backfills leave many
    * small files per partition; each costs a task + footer read +
    * catalog entry, and at 100 TB the metadata tax outruns the data.
    * Rewrites each selected partition's files into
    * `ceil(bytes / targetBytes)` files via a per-partition coalesce,
    * atomically-ish: writes to a `_compact_tmp` sibling, then swaps
    * directories (Hadoop FileSystem rename — same API as [[expire]],
    * so object-store URIs behave). Returns (partition, filesBefore,
    * filesAfter) for each rewritten partition; partitions already at
    * or under one target file per `targetBytes` are left untouched. */
  def compact(
      spark: SparkSession, dir: String, targetBytes: Long): Seq[(String, Int, Int)] = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    // A crashed prior run may have stranded tmp dirs (underscore prefix
    // hides them from readers). The crash window between delete(target)
    // and rename(tmp, target) leaves the tmp dir holding the ONLY copy
    // of that partition — so recovery must FINISH an interrupted swap
    // (target missing → rename tmp into place), and may only discard a
    // tmp whose target still exists (crash before the swap started, so
    // the tmp is an unreferenced spare copy). Tmp dirs live NEXT TO
    // their target (same parent, name = "_compact_tmp_" + =-encoded target name)
    // precisely so the target is recoverable from the tmp path alone.
    // Spark's hidden-path filter keeps underscore names that CONTAIN
    // "=" (shouldFilterOut is `startsWith("_") && !contains("=")`), so
    // a working name like "_compact_tmp_dt=X" is NOT reader-hidden —
    // partition discovery would infer a bogus "_compact_tmp_dt" column
    // for any reader that lists mid-compact. Working names therefore
    // escape reversibly: '~'→"~t" then '='→"~e"
    // ("_compact_tmp_dt~e2024-01-01") — injective on ANY name, where a
    // blanket '='↔'~' swap destroys the distinction for names that
    // already contain '~'. decode() inverts a fully valid new-style
    // name (every '~' followed by t/e); anything else falls back to
    // the legacy blanket form (legacy-encoded partition names put a
    // digit after '~', never t/e, so the grammars don't collide).
    def encode(name: String): String =
      name.replace("~", "~t").replace("=", "~e")
    def decode(name: String): String =
      if (name.contains("~") && !name.matches(".*~(?![te]).*"))
        name.replace("~e", "=").replace("~t", "~")
      else name.replace("~", "=")
    // Only names the CURRENT writer produces may be auto-renamed into
    // place: "dt=yyyy-MM-dd" at the root, "hr=HH" inside a dt dir. A
    // stranded tmp whose decoded name doesn't parse (e.g. a
    // legacy-format "_compact_tmp_dt=X_hr=05" parked at the root) must
    // NOT become a bogus partition dir that corrupts the layout for
    // every reader — and must not be deleted either, since it may hold
    // the only copy. It is quarantined under a reader-hidden orphan
    // name for manual recovery.
    def validTarget(parent: org.apache.hadoop.fs.Path, name: String): Boolean =
      if (parent == root) name.matches("dt=\\d{4}-\\d{2}-\\d{2}")
      else name.matches("hr=\\d{2}")
    def sweepTmp(parent: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(parent).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("_compact_tmp_"))
        .foreach { st =>
          val rawSuffix = st.getPath.getName.stripPrefix("_compact_tmp_")
          val name = decode(rawSuffix)
          val target = new org.apache.hadoop.fs.Path(parent, name)
          if (fs.exists(target)) fs.delete(st.getPath, true)
          else if (!validTarget(parent, name)) {
            // quarantine under the encoded RAW suffix — encode is
            // injective, so the original tmp name (not a lossy
            // decode of it) is recoverable for manual repair
            val orphan = new org.apache.hadoop.fs.Path(
              parent, s"_compact_orphan_${encode(rawSuffix)}")
            // loud on ANY failure to move it aside — silently leaving
            // an "="-named tmp in place poisons partition discovery
            // for every reader (it is NOT hidden, see encode above)
            if (fs.exists(orphan))
              throw new java.io.IOException(
                s"compact: quarantine destination $orphan already exists; " +
                  s"resolve it manually so ${st.getPath} can be moved aside")
            if (!fs.rename(st.getPath, orphan))
              throw new java.io.IOException(
                s"compact: failed to quarantine unrecognized tmp ${st.getPath}")
          } else if (!fs.rename(st.getPath, target))
            throw new java.io.IOException(
              s"compact: failed to recover interrupted swap ${st.getPath} -> $target")
        }
    sweepTmp(root)
    val dtDirs = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("dt="))
    dtDirs.foreach(d => sweepTmp(d.getPath))
    // leaf partitions hold the files: dt=… directly for the dt-only
    // layout, dt=…/hr=… for the hourly one — compact whichever level
    // the files actually live at
    val leaves = dtDirs.flatMap { d =>
      val hrs = fs.listStatus(d.getPath).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("hr="))
      if (hrs.nonEmpty) hrs else Seq(d)
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    // independent per-partition rewrites run as concurrent Spark jobs —
    // a serial loop leaves the cluster idle between hundreds of small
    // jobs at the stated 100 TB posture
    val rewrites = leaves.map { part => Future {
      val files = fs.listStatus(part.getPath).toSeq
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      val bytes = files.map(_.getLen).sum
      val want = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      if (files.size <= want) None
      else {
        val rel = fs.makeQualified(part.getPath).toString
          .stripPrefix(fs.makeQualified(root).toString).stripPrefix("/")
        // sibling of the target, target name recoverable by stripping + decoding
        // the prefix — the startup sweep depends on this invariant
        val tmp = new org.apache.hadoop.fs.Path(part.getPath.getParent,
          s"_compact_tmp_${encode(part.getPath.getName)}")
        spark.read.parquet(part.getPath.toString)
          .coalesce(want)
          .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        val rewritten = fs.listStatus(tmp).count(f =>
          f.isFile && f.getPath.getName.endsWith(".parquet"))
        // the swap must be loud on failure: a false return here means
        // duplicate data (old dir survived) or a hidden partition (data
        // stranded under the underscore tmp name) — never report either
        // as success (expire() checks delete's return the same way)
        if (!fs.delete(part.getPath, true))
          throw new java.io.IOException(s"compact: failed to remove ${part.getPath}")
        if (!fs.rename(tmp, part.getPath))
          throw new java.io.IOException(s"compact: failed to swap $tmp into ${part.getPath}")
        Some((rel, files.size, rewritten))
      }
    } }
    Await.result(Future.sequence(rewrites), Duration.Inf).flatten.sortBy(_._1)
  }

  /** Read back with partition pruning for a time window. Of the layout,
    * only the root's dt= names and the window's days are listed; the
    * read takes the window's hr= leaves (a dt-only day, or a day wholly
    * in the window, is passed whole) with `basePath = dir`, so dt/hr
    * stay partition columns, under the data schema Spark wrote into one
    * leaf file's footer: no full-layout listing and no schema-inference
    * job when the DataFrame is built. The dt/hr predicates still bind
    * to partition directories (PartitionFilters in the scan), the
    * start_us predicate refines within surviving files. With no file in
    * the window, the whole directory is read. */
  def readRange(spark: SparkSession, dir: String, fromUs: Long, toUs: Long): DataFrame = {
    // dt/hr partition values were produced by date_format, which renders
    // in the SESSION time zone — derive the directory bounds in the same
    // zone or boundary rows silently fall outside the pruned range
    val zone = sessionZone(spark)
    def dt(us: Long): String = instant(us).atZone(zone).toLocalDate.toString
    val root = new Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val paths = windowPartitions(fs, root, zone, fromUs, toUs)
    val footerFile = paths.iterator.flatMap { p =>
      val files = fs.listFiles(p, true)
      Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath)
    }.find(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val spans = footerFile match {
      case None => spark.read.parquet(dir)
      case Some(file) =>
        val reader = spark.read.option("basePath", dir)
        val schema = footerSchema(conf, file)
          .filterNot(_ => spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean)
        schema.fold(reader)(reader.schema).parquet(paths.map(_.toString): _*)
    }
    spans
      .filter(col("dt") >= dt(fromUs) && col("dt") <= dt(toUs))
      .filter(col("start_us").between(fromUs, toUs))
  }

  private def sessionZone(spark: SparkSession): ZoneId = ZoneId.of(
    spark.conf.get("spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID))

  private def instant(us: Long): Instant = Instant.ofEpochSecond(0, us * 1000)

  /** The partition directories that can hold a row of [fromUs, toUs].
    * A leaf is kept when its "dt/hr" key lies between the window's
    * bounds rendered in `zone`; the lower bound uses the smallest UTC
    * offset the zone takes inside the window and the upper the largest,
    * so a daylight-saving shift never drops a leaf. */
  private def windowPartitions(
      fs: FileSystem, root: Path, zone: ZoneId, fromUs: Long, toUs: Long): Seq[Path] = {
    val (from, to) = (instant(fromUs), instant(toUs))
    val rules = zone.getRules
    val offsets = Iterator.iterate(rules.nextTransition(from))(t => rules.nextTransition(t.getInstant))
      .takeWhile(t => t != null && !t.getInstant.isAfter(to))
      .map(_.getOffsetAfter).toSeq :+ rules.getOffset(from)
    def key(at: Instant, offset: ZoneOffset): String = {
      val t = LocalDateTime.ofInstant(at, offset)
      f"${t.toLocalDate}/${t.getHour}%02d"
    }
    val lo = key(from, offsets.minBy(_.getTotalSeconds))
    val hi = key(to, offsets.maxBy(_.getTotalSeconds))
    def dirs(p: Path, prefix: String): Seq[Path] =
      fs.listStatus(p).toSeq.filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
        .map(_.getPath)
    if (!fs.exists(root)) Seq.empty
    else dirs(root, "dt=").flatMap { day =>
      val d = day.getName.stripPrefix("dt=")
      if (s"$d/23" < lo || s"$d/00" > hi) Nil
      else {
        val hours = dirs(day, "hr=")
        val in = hours.filter { h =>
          val k = s"$d/${h.getName.stripPrefix("hr=")}"
          k >= lo && k <= hi
        }
        // a dt-only day (no hr= leaves) or a day wholly in the window
        if (in.size == hours.size) Seq(day) else in
      }
    }
  }

  /** The data schema Spark wrote into a parquet file's footer (its row
    * metadata) — what schema inference returns for that file, read on
    * the driver instead of by inference's Spark job. None when the file
    * carries no Spark metadata. */
  private def footerSchema(conf: Configuration, file: Path): Option[StructType] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY)
      finally reader.close()
    Option(json).flatMap(j => Try(DataType.fromJson(j)).toOption).collect { case st: StructType => st }
  }
}
