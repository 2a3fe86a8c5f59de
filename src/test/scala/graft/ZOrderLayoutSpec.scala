package graft

import graft.operators.{SpanOps, ZOrderLayout}
import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

class ZOrderLayoutSpec extends AnyFunSpec with Matchers with SparkTestBase {

  private lazy val spansDf = SpanOps.spansFromEvents(Tables.events(spark, sfDir))
    .select(col("trace_id").cast("long").as("trace_key"), col("span_id"),
      col("service"), col("start_us"), col("duration_us"))

  /** Files whose (trace_key, start_us) envelopes overlap the box. */
  private def overlapping(
      path: String, kLo: Double, kHi: Double, tLo: Double, tHi: Double): Int = {
    val kEnv = ZOrderLayout.fileEnvelopes(spark, path, "trace_key").map(e => e._1 -> (e._2, e._3)).toMap
    val tEnv = ZOrderLayout.fileEnvelopes(spark, path, "start_us").map(e => e._1 -> (e._2, e._3)).toMap
    kEnv.keys.count { f =>
      val (kMin, kMax) = kEnv(f); val (tMin, tMax) = tEnv(f)
      kMax >= kLo && kMin <= kHi && tMax >= tLo && tMin <= tHi
    }
  }

  describe("ZOrderLayout") {
    it("round-trips the data unchanged") {
      val dir = Scratch.fresh("graft_z_rt_")
      ZOrderLayout.writeZOrdered(spansDf, dir, "trace_key", "start_us", nFiles = 8)
      val back = spark.read.parquet(dir)
      back.count() shouldBe spansDf.count()
      back.agg(sum("span_id")).head().getLong(0) shouldBe
        spansDf.agg(sum("span_id")).head().getLong(0)
    }

    it("prunes a 2-D box query better than a single-dimension sort layout") {
      val zDir = Scratch.fresh("graft_z_")
      val tDir = Scratch.fresh("graft_t_")
      val nFiles = 16
      ZOrderLayout.writeZOrdered(spansDf, zDir, "trace_key", "start_us", nFiles)
      // the natural alternative: cluster by time only
      spansDf.repartitionByRange(nFiles, col("start_us"))
        .sortWithinPartitions("start_us")
        .write.mode("overwrite").parquet(tDir)

      val b = spansDf.agg(
        min("trace_key").cast("double"), max("trace_key").cast("double"),
        min("start_us").cast("double"), max("start_us").cast("double")).head()
      // a quarter-range box on each dimension
      val (kLo, kHi) = (b.getDouble(0), b.getDouble(0) + (b.getDouble(1) - b.getDouble(0)) / 4)
      val (tLo, tHi) = (b.getDouble(2), b.getDouble(2) + (b.getDouble(3) - b.getDouble(2)) / 4)

      val zFiles = overlapping(zDir, kLo, kHi, tLo, tHi)
      val tFiles = overlapping(tDir, kLo, kHi, tLo, tHi)
      withClue(s"z=$zFiles time-sorted=$tFiles of $nFiles: ") {
        zFiles should be < tFiles
      }
    }
  }
}
