package graft

import graft.operators.TropicalScan
import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

class TropicalScanSpec extends AnyFunSpec with Matchers with SparkTestBase {

  /** Reference sequential Viterbi: V_s(h) = e_s(h) + min(V_s, V_s' + t). */
  private def seqDp(e0: Seq[Long], e1: Seq[Long], t: Long): (Long, Long) = {
    var v0 = e0.head
    var v1 = e1.head
    e0.tail.zip(e1.tail).foreach { case (a, b) =>
      val n0 = a + math.min(v0, v1 + t)
      val n1 = b + math.min(v1, v0 + t)
      v0 = n0; v1 = n1
    }
    (v0, v1)
  }

  private def scan(key: String, e0: Seq[Long], e1: Seq[Long], t: Long): (Long, Long) = {
    val s = spark
    import s.implicits._
    val df = e0.indices.map(i => (key, i.toLong, e0(i), e1(i), t))
      .toDF("k", "idx", "e0", "e1", "t")
      .repartition(4) // the fold must not depend on row placement
    val r = TropicalScan.viterbi2(df, "k", "idx", "e0", "e1", col("t"))
      .collect().head
    (r.getAs[Long]("m00"), r.getAs[Long]("m01"))
  }

  describe("viterbi2") {
    it("matches the sequential DP on a planted burst") {
      // baseline ~0 cost in state0, a 3-hour burst where state1 is
      // cheap; switch penalty 5 makes exactly two switches optimal
      val e0 = Seq(0L, 1L, 20L, 25L, 22L, 0L, 1L)
      val e1 = Seq(18L, 19L, 1L, 0L, 2L, 21L, 19L)
      scan("a", e0, e1, 5L) shouldBe seqDp(e0, e1, 5L)
    }

    it("matches the sequential DP on seeded random costs, odd and even lengths") {
      val rnd = new scala.util.Random(7)
      for (len <- Seq(1, 2, 3, 5, 8, 31, 64, 100)) {
        val e0 = Seq.fill(len)(rnd.nextInt(50).toLong)
        val e1 = Seq.fill(len)(rnd.nextInt(50).toLong)
        withClue(s"len=$len") {
          scan(s"k$len", e0, e1, 7L) shouldBe seqDp(e0, e1, 7L)
        }
      }
    }

    it("handles several keys independently in one call") {
      val s = spark
      import s.implicits._
      val a = (0 until 10).map(i => ("a", i.toLong, (i % 3).toLong, (i % 5).toLong, 2L))
      val b = (0 until 7).map(i => ("b", i.toLong, (i % 4).toLong, (i % 2).toLong, 3L))
      val out = TropicalScan.viterbi2(
          (a ++ b).toDF("k", "idx", "e0", "e1", "t"), "k", "idx", "e0", "e1", col("t"))
        .collect().map(r => r.getString(0) -> (r.getAs[Long]("m00"), r.getAs[Long]("m01"))).toMap
      out("a") shouldBe seqDp(a.map(_._3), a.map(_._4), 2L)
      out("b") shouldBe seqDp(b.map(_._3), b.map(_._4), 3L)
    }

    it("rejects an idx that is not dense: a repeated value, an all-null idx") {
      val s = spark
      import s.implicits._
      // {0,1,2,4,4} has min 0 and max count-1, so only the distinct
      // count tells it from a dense idx
      val repeated = Seq(0L, 1L, 2L, 4L, 4L).map(i => ("a", Option(i), 1L, 2L, 3L))
      val allNull = (0 until 3).map(_ => ("b", Option.empty[Long], 1L, 2L, 3L))
      for ((name, rows) <- Seq("repeated" -> repeated, "all-null" -> allNull)) withClue(name) {
        val ex = intercept[IllegalArgumentException] {
          TropicalScan.viterbi2(rows.toDF("k", "idx", "e0", "e1", "t"),
            "k", "idx", "e0", "e1", col("t"))
        }
        ex.getMessage should include("DENSE")
      }
    }
  }
}
