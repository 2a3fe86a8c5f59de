package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derives a larger benchmark dataset from a driver-generated sf dir by
  * replicating the FACT tables `factor`× with shifted keys, keeping the
  * dimension tables fixed — the shape real growth takes in this domain
  * (traces/docs/vectors accumulate; services, nations and parts don't).
  *
  *  - events: new disjoint trace-id (user_id) and span-id (event_id)
  *    ranges per copy — more traces, same per-trace span counts, so
  *    trace assembly/search scale in trace COUNT like production;
  *  - lineitem/orders/customer: orderkey/custkey ranges shift together
  *    (fact-fact joins still match within a copy); part/supp refs stay
  *    so dim joins stay broadcastable;
  *  - documents: text kept identical across copies — cross-copy exact
  *    duplicates make the dedup family run against a heavily-duplicated
  *    corpus, which is the production case (web crawls are dup-heavy);
  *  - embeddings: identical vectors under new vec_ids — LSH buckets get
  *    `factor`× denser, the stress case for banded candidate volume.
  *
  * Usage: runMain graft.ScaleUp <srcSfDir> <outDir> <factor>
  * Queries keep their literal predicates (trace ids, vec_id bounds)
  * valid because copy 0 is the unmodified source data.
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorStr) = args
    val factor = factorStr.toInt
    require(factor >= 1, "factor must be >= 1")
    // reuse a live session as it is when run in-process (specs); only
    // stop what we ourselves created
    val preexisting = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = preexisting.getOrElse(GraftSession())

    /** factor copies of df, each with the given long key columns
      * shifted into a disjoint range. Strides for FOREIGN keys must be
      * the owning table's stride, so copy i's orders reference copy i's
      * customers — hence explicit (column, stride) pairs. */
    def replicate(df: DataFrame, strides: Seq[(String, Long)]): DataFrame =
      (0 until factor).map { i =>
        strides.foldLeft(df) { case (d, (c, stride)) =>
          d.withColumn(c, col(c) + lit(i * stride))
        }
      }.reduce(_ unionAll _)

    def stride(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head.getLong(0) + 1L

    // rows from the written files' footers: a df.count() would re-run
    // the whole replicate-union
    def write(df: DataFrame, name: String): Unit = {
      val path = s"$outDir/$name.parquet"
      df.coalesce(math.max(1, factor / 2)).write.mode("overwrite").parquet(path)
      val rows = Tables.footerRows(spark.read.schema(df.schema).parquet(path))
      println(s"[scaleup] $name: $rows rows")
    }

    // dims: straight copies
    Seq("region", "nation", "part", "supplier").foreach { t =>
      write(spark.read.parquet(s"$srcDir/$t.parquet"), t)
    }
    // facts: shifted replicas; FK strides come from the owning table
    val customer = Tables.customer(spark, srcDir)
    val orders = Tables.orders(spark, srcDir)
    val custStride = stride(customer, "c_custkey")
    val orderStride = stride(orders, "o_orderkey")
    write(replicate(customer, Seq("c_custkey" -> custStride)), "customer")
    write(replicate(orders,
      Seq("o_orderkey" -> orderStride, "o_custkey" -> custStride)), "orders")
    write(replicate(Tables.lineitem(spark, srcDir),
      Seq("l_orderkey" -> orderStride)), "lineitem")
    val documents = Tables.documents(spark, srcDir)
    write(replicate(documents, Seq("doc_id" -> stride(documents, "doc_id"))), "documents")
    val embeddings = Tables.embeddings(spark, srcDir)
    write(replicate(embeddings, Seq("vec_id" -> stride(embeddings, "vec_id"))), "embeddings")
    // events: ts round-trips in its loaded form (timestamp[us] today,
    // nanos-long legacy) — consumers derive micros via Tables.eventTimeUs,
    // which dispatches on whichever dtype comes back
    val events = Tables.events(spark, srcDir)
    write(replicate(events,
      Seq("event_id" -> stride(events, "event_id"), "user_id" -> stride(events, "user_id"))),
      "events")
    if (preexisting.isEmpty) spark.stop()
  }
}
