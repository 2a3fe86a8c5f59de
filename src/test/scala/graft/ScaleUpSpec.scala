package graft

import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

/** ScaleUp derives factor-N bench datasets; the properties that make
  * the derived data a VALID benchmark input are structural — fact rows
  * multiply, dims stay, and foreign keys keep joining — so they are
  * asserted here on a factor-2 derivation of the smallest sf dir.
  */
class ScaleUpSpec extends AnyFunSpec with Matchers with SparkTestBase {

  private lazy val outDir = {
    val dir = Scratch.fresh("scaleup-spec")
    // run the main in-process on the shared session's tables
    ScaleUp.main(Array(sfDir, dir, "2"))
    dir
  }

  it("multiplies fact tables by the factor and keeps dims fixed") {
    val src = Tables.lineitem(spark, sfDir).count()
    spark.read.parquet(s"$outDir/lineitem.parquet").count() shouldBe 2 * src
    val srcEvents = Tables.events(spark, sfDir).count()
    spark.read.parquet(s"$outDir/events.parquet").count() shouldBe 2 * srcEvents
    spark.read.parquet(s"$outDir/nation.parquet").count() shouldBe
      Tables.nation(spark, sfDir).count()
  }

  it("keeps every order joinable to a customer (FK strides align)") {
    val orders = spark.read.parquet(s"$outDir/orders.parquet")
    val customer = spark.read.parquet(s"$outDir/customer.parquet")
    orders.join(customer, col("o_custkey") === col("c_custkey"), "left_anti")
      .count() shouldBe 0L
  }

  it("keeps every lineitem joinable to an order") {
    val li = spark.read.parquet(s"$outDir/lineitem.parquet")
    val orders = spark.read.parquet(s"$outDir/orders.parquet")
    li.join(orders, col("l_orderkey") === col("o_orderkey"), "left_anti")
      .count() shouldBe 0L
  }

  it("gives each copy disjoint trace ids with identical per-trace span counts") {
    val src = Tables.events(spark, sfDir)
      .groupBy("user_id").count().orderBy("user_id")
      .collect().map(r => r.getLong(1)).toSeq
    val scaled = spark.read.parquet(s"$outDir/events.parquet")
      .groupBy("user_id").count().orderBy("user_id")
      .collect().map(r => r.getLong(1)).toSeq
    scaled.length shouldBe 2 * src.length
    // copy 0 is the unmodified source; copy 1 repeats its distribution
    scaled.take(src.length) shouldBe src
    scaled.drop(src.length) shouldBe src
  }
}
