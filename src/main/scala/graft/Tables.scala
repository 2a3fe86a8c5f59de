package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import scala.jdk.CollectionConverters._

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * Every loader is a plain `spark.read.parquet` — column pruning and
  * filter pushdown happen in Catalyst from the downstream plan, so the
  * scan only reads what the query needs. At 100 TB these paths would be
  * time/bucket-partitioned directories; the API stays the same.
  */
object Tables {
  def region(s: SparkSession, dir: String): DataFrame = load(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame = load(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame = load(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = load(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame = load(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame = load(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame = load(s, dir, "lineitem")
  /** The driver has shipped `events.ts` under two physical parquet
    * encodings across regenerations: TIMESTAMP(MICROS) (current — loads
    * as timestamp/timestamp_ntz) and TIMESTAMP(NANOS) (legacy — Spark
    * has no nanos type; the conf below reads it as a nanos long).
    * Consumers must not assume either: derive epoch-micros via
    * [[eventTimeUs]], which dispatches on the loaded dtype. The conf is
    * a no-op on micros files, so setting it unconditionally is safe. */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    load(s, dir, "events")
  }

  /** Micros-since-epoch for `events.ts`, whatever the file encoding:
    * timestamp/timestamp_ntz → `unix_micros` (NTZ casts through the
    * UTC session zone, instant-preserving — every graft session pins
    * spark.sql.session.timeZone=UTC); legacy nanos-long → `div 1000`.
    * Both match DuckDB's `epoch_us(ts)` on the same file, which is what
    * every trace-domain oracle uses. */
  def eventTimeUs(events: DataFrame): Column = events.schema("ts").dataType match {
    case TimestampType | TimestampNTZType => unix_micros(col("ts").cast(TimestampType))
    case LongType                         => expr("ts div 1000")
    case other => throw new IllegalArgumentException(
      s"events.ts: unsupported type $other (expected timestamp[us/ns] or long nanos)")
  }
  def documents(s: SparkSession, dir: String): DataFrame = load(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")

  /** Rows of a parquet `table`, summed from its files' footers on the
    * driver: no Spark job, no data read. The file list is the one the
    * relation already holds. */
  def footerRows(table: DataFrame): Long = {
    val conf = table.sparkSession.sparkContext.hadoopConfiguration
    table.inputFiles.iterator.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(new java.net.URI(f)), conf))
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  /** Per-(session, path) memo of the UNEXECUTED lazy DataFrame.
    *
    * `spark.read.parquet` pays a file listing plus a footer read for
    * schema resolution on every call — ~0.1 s of driver work that the
    * bench charged to EVERY query trial (322 surfaces × 3 trials), and
    * that a long-lived serving tier would never re-pay per query. The
    * memo holds only the logical plan: nothing is computed or cached
    * at build time, every action still scans the parquet files, so a
    * bench/oracle invocation (a fresh JVM) provably computes from the
    * inputs alone. Keyed by session identity, and an entry keeps its
    * session reachable for the life of the JVM — so only long-lived
    * sessions belong here. A streaming run's short-lived clone never
    * enters the memo: it reads its inputs itself, under the schema of
    * its caller's entry (StreamingQueries.isolated). Bounded: distinct
    * (session, table) pairs only. */
  private val planMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Distinct sessions the memo holds. */
  private[graft] def memoSessions: Int = planMemo.keySet.asScala.map(_._1).size

  private def load(s: SparkSession, dir: String, name: String): DataFrame =
    planMemo.computeIfAbsent((s, s"$dir/$name.parquet"),
      key => key._1.read.parquet(key._2))
}
