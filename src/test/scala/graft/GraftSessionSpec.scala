package graft

import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

/** The session spine: one SparkSession builder, `GraftSession` in
  * Bench.scala, that every main and the test base build from. */
class GraftSessionSpec extends AnyFunSpec with Matchers with SparkTestBase {

  describe("SparkSession builders") {
    it("occur once in the main sources, in Bench.scala, and never in the tests") {
      val builder = "SparkSession\\.builder"
      SourceLint.sites("main", builder).map(_.getFileName.toString) shouldBe List("Bench.scala")
      SourceLint.sites("test", builder) shouldBe empty
    }
  }

  describe("the test session") {
    it("runs on the mains' settings at 4 local cores") {
      spark.sparkContext.master shouldBe "local[4]"
      spark.conf.get("spark.sql.shuffle.partitions") shouldBe "4"
      spark.conf.get("spark.sql.codegen.cache.maxEntries") shouldBe "10000"
      spark.conf.get("spark.sql.adaptive.enabled") shouldBe "true"
      spark.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
    }
  }
}
