package graft

import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

class CharNgramsSpec extends AnyFunSpec with Matchers with SparkTestBase {

  describe("char_ngrams") {
    it("equals transform(sequence, substring) on the real corpus") {
      GraftExtensions.register(spark)
      val docs = Tables.documents(spark, sfDir).filter("length(text) >= 3")
      val native = docs
        .selectExpr("doc_id", "char_ngrams(text, 3) AS g")
      val declarative = docs.selectExpr("doc_id",
        "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3)) AS g")
      val n = native.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val d = declarative.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      n shouldBe d
      n.values.map(_.size).sum should be > 0
    }

    it("handles multi-byte codepoints like substring does") {
      GraftExtensions.register(spark)
      import spark.implicits._
      // 2-byte (é), 3-byte (€) and 4-byte (surrogate-pair 😀) sequences:
      // a gram is 3 CODEPOINTS, whatever their byte/UTF-16 widths
      val rows = Seq("abcé€😀xy", "ηßç", "😀😀😀😀", "ab").toDF("text")
      val native = rows.selectExpr("char_ngrams(text, 3) AS g").collect()
        .map(_.getSeq[String](0))
      val declarative = rows.selectExpr(
        "CASE WHEN length(text) >= 3 THEN " +
          "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3)) " +
          "ELSE array() END AS g").collect()
        .map(_.getSeq[String](0))
      native should contain theSameElementsInOrderAs declarative
    }

    it("stays inside whole-stage codegen") {
      GraftExtensions.register(spark)
      val plan = Tables.documents(spark, sfDir)
        .selectExpr("char_ngrams(text, 3) AS g")
        .queryExecution.executedPlan.toString
      plan should include("*(1) Project [char_ngrams")
    }

    it("rejects a null or non-positive n at analysis, before any row runs") {
      GraftExtensions.register(spark)
      val docs = Tables.documents(spark, sfDir)
      for (n <- Seq("0", "-2", "CAST(NULL AS INT)")) withClue(n) {
        // selectExpr analyzes eagerly: no action, so no executor row
        val ex = intercept[org.apache.spark.sql.AnalysisException] {
          docs.selectExpr(s"char_ngrams(text, $n)")
        }
        ex.getMessage should include("n >= 1")
      }
    }

    it("rejects non-string input at analysis") {
      GraftExtensions.register(spark)
      assertThrows[Exception] {
        Tables.documents(spark, sfDir).selectExpr("char_ngrams(doc_id, 3)").collect()
      }
    }
  }
}
