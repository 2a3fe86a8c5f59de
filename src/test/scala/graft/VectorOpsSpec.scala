package graft

import graft.operators.VectorOps
import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

class VectorOpsSpec extends AnyFunSpec with Matchers with SparkTestBase {

  private lazy val emb = Tables.embeddings(spark, sfDir)

  describe("annTopKBrute") {
    it("returns k neighbors per query, best-first") {
      val res = VectorOps.annTopKBrute(emb, col("vec_id") < 3, 5).collect()
      res.length shouldBe 15
      res.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rows) =>
        val scores = rows.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Double]("score"))
        scores.toSeq shouldBe scores.sorted(Ordering[Double].reverse).toSeq
      }
    }
    it("never returns the query itself") {
      val res = VectorOps.annTopKBrute(emb, col("vec_id") < 3, 5).collect()
      res.foreach(r => r.getAs[Long]("q_id") should not be r.getAs[Long]("neighbor_id"))
    }
  }

  describe("annTopKLsh") {
    it("only proposes candidates from the query's bucket and ranks like brute force on them") {
      val brute = VectorOps.annTopKBrute(emb, col("vec_id") < 10, 3).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
      val lsh = VectorOps.annTopKLsh(emb, col("vec_id") < 10, 3, 64, 2).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
      // with 2 bits (4 buckets) recall should be non-trivial on 500 vecs
      val recall = (brute & lsh).size.toDouble / brute.size
      recall should be > 0.05
    }
  }

  describe("annTopKQuantized") {
    it("reaches high recall vs brute at a modest rerank budget") {
      val brute = VectorOps.annTopKBrute(emb, col("vec_id") < 10, 5).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
      val quant = VectorOps.annTopKQuantized(emb, col("vec_id") < 10, 5, rerank = 15)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
      // int8 coarse scores are a tight cosine approximation — recall
      // should be near-perfect, unlike bucketing-based ANN
      val recall = (brute & quant).size.toDouble / brute.size
      recall should be > 0.85
    }

    it("rescored scores are exactly the brute scores for shared pairs") {
      val brute = VectorOps.annTopKBrute(emb, col("vec_id") < 10, 5).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("score")).toMap
      val quant = VectorOps.annTopKQuantized(emb, col("vec_id") < 10, 5, rerank = 15)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("score")).toMap
      val shared = brute.keySet & quant.keySet
      shared should not be empty
      shared.foreach(k => quant(k) shouldBe brute(k))
    }

    it("excludes zero-norm vectors instead of letting NaN outrank real neighbors") {
      val s = spark
      import s.implicits._
      val tiny = Seq(
        (0L, Array(0.0, 0.0, 0.0)), (1L, Array(1.0, 2.0, 3.0)),
        (2L, Array(2.0, 4.0, 6.0)), (3L, Array(-1.0, 0.5, 0.25)))
        .toDF("vec_id", "embedding")
      val out = VectorOps.annTopKQuantized(tiny, col("vec_id") === 1L, 3, rerank = 3)
        .collect()
      // the all-zero vec 0 is gone; colinear vec 2 ranks first at 1.0
      out.map(_.getAs[Long]("neighbor_id")).toSet shouldBe Set(2L, 3L)
      out.head.getAs[Long]("neighbor_id") shouldBe 2L
      out.head.getAs[Double]("score") shouldBe 1.0
      out.foreach(r => r.getAs[Double]("score").isNaN shouldBe false)
    }
  }

  describe("annTopKIvf") {
    it("achieves reasonable recall with a fraction of the scan") {
      val brute = VectorOps.annTopKBrute(emb, col("vec_id") < 10, 3).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
      val ivf = VectorOps.annTopKIvf(emb, col("vec_id") < 10, 3, nCentroids = 16, nProbe = 4)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
      val recall = (brute & ivf).size.toDouble / brute.size
      recall should be > 0.2 // probing 4/16 cells
    }

    it("assigns cells without shuffling the corpus") {
      val plan = VectorOps.annTopKIvf(emb, col("vec_id") < 10, 3, 16, 4)
        .queryExecution.executedPlan.toString
      // round 1 assigned cells via a per-vector window — an Exchange
      // hash-partitioned on vec_id over corpus×nCentroids rows. The
      // row-local array path must never partition by vec_id; the only
      // exchanges left serve the candidate-set window and final sort.
      plan should not include "hashpartitioning(vec_id"
      plan should include("BroadcastNestedLoopJoin")
    }

    it("reaches at least the raw-centroid recall with k-means-refined cells") {
      val brute = VectorOps.annTopKBrute(emb, col("vec_id") < 10, 3).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
      val ivf = VectorOps.annTopKIvf(emb, col("vec_id") < 10, 3,
        nCentroids = 16, nProbe = 4, kmeansIters = 2)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
      val recall = (brute & ivf).size.toDouble / brute.size
      recall should be > 0.2
    }

    it("never pairs a query with a neighbor twice") {
      val rows = VectorOps.annTopKIvf(emb, col("vec_id") < 10, 3, 16, 4)
        .select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      rows.distinct.length shouldBe rows.length
    }
  }

  describe("kmeansCentroids") {
    it("keeps dimensionality, bounds k, and leaves unit-consistent norms") {
      val cents = VectorOps.kmeansCentroids(emb, k = 8, iters = 2).collect()
      cents.length should be <= 8
      cents.length should be > 0
      cents.foreach { r =>
        r.getAs[scala.collection.Seq[Double]]("cv").length shouldBe 64
        val cv = r.getAs[scala.collection.Seq[Double]]("cv")
        val expected = math.sqrt(cv.map(x => x * x).sum)
        r.getAs[Double]("cnrm") shouldBe expected +- 1e-9
      }
    }

    it("iterating moves centroids toward cell means (not a no-op)") {
      val init = VectorOps.kmeansCentroids(emb, k = 8, iters = 0)
        .collect().map(r => r.getAs[Long]("c_id") -> r.getAs[scala.collection.Seq[Double]]("cv")).toMap
      val once = VectorOps.kmeansCentroids(emb, k = 8, iters = 1)
        .collect().map(r => r.getAs[Long]("c_id") -> r.getAs[scala.collection.Seq[Double]]("cv")).toMap
      once should not be init
    }

    it("truncates lineage per round: the result is a local relation, not a nested plan") {
      // the returned frame must carry NO per-iteration subtree — round
      // 1's unbounded plan growth meant every extra Lloyd's round
      // re-nested the full corpus-assignment job. A LocalRelation plan
      // proves truncation structurally (no timing flake).
      val plan = VectorOps.kmeansCentroids(emb, k = 8, iters = 3)
        .queryExecution.optimizedPlan
      plan.collectLeaves().map(_.nodeName).distinct shouldBe Seq("LocalRelation")
      // and no RDD blocks may be left behind by the internal checkpoints
      spark.sparkContext.getPersistentRDDs.values
        .filter(_.name != null)
        .count(_.toString.contains("kmeans")) shouldBe 0
    }

    it("wall time stays ~linear in iterations (no per-round plan blowup)") {
      def time(iters: Int): Double = {
        val t0 = System.nanoTime()
        VectorOps.kmeansCentroids(emb, k = 8, iters = iters).collect()
        (System.nanoTime() - t0) / 1e9
      }
      time(1) // warm JIT/codegen paths
      val t2 = time(2)
      val t8 = time(8)
      // linear would be ~4×; superlinear plan growth is well beyond
      // this deliberately-generous bound even on a noisy machine
      t8 should be < (8 * t2 + 5.0)
    }
  }

  describe("cosineNearDupPairs") {
    it("returns symmetric-free ordered pairs above threshold") {
      val res = VectorOps.cosineNearDupPairs(emb, 100, 0.2).collect()
      res.foreach { r =>
        r.getAs[Long]("d1") should be < r.getAs[Long]("d2")
        r.getAs[Double]("score") should be >= 0.2
      }
    }

    it("LSH-bucketed variant returns a subset of the exact pairs with nontrivial recall") {
      val exact = VectorOps.cosineNearDupPairs(emb, 300, 0.2).collect()
        .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
      val lsh = VectorOps.cosineNearDupPairsLsh(emb, 300, 0.2, 64, 2).collect()
        .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
      lsh.subsetOf(exact) shouldBe true // exact verify: no false positives
      if (exact.nonEmpty) (lsh.size.toDouble / exact.size) should be > 0.1
    }
  }

  describe("lsh_band_keys native expression") {
    it("produces bit-identical band keys to the declarative plane chain") {
      // the whole oracle story rests on sign-bit equality between the
      // native loop, the Column reduce chain, and the SQL literal
      // chain; compare native vs declarative at a width where the
      // declarative tree still compiles
      graft.GraftExtensions.register(spark)
      val dim = 64; val bitsPerBand = 2; val bands = 2
      val ws = VectorOps.lshWeights(dim, bitsPerBand * bands)
      def planeDot(w: Seq[Double]) =
        (0 until dim).map(i => element_at(col("v"), i + 1) * lit(w(i))).reduce(_ + _)
      val declared = (0 until bands).map { j =>
        concat(lit(s"$j:"), concat((0 until bitsPerBand).map { b =>
          when(planeDot(ws(j * bitsPerBand + b)) >= 0, "1").otherwise("0")
        }: _*))
      }
      val rows = emb.limit(200)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .select(col("vec_id"),
          expr(s"lsh_band_keys(v, $bitsPerBand, $bands)").as("native"),
          array(declared: _*).as("declarative"))
        .collect()
      rows.length shouldBe 200
      rows.foreach { r =>
        r.getAs[scala.collection.Seq[String]]("native") shouldBe
          r.getAs[scala.collection.Seq[String]]("declarative")
      }
    }
  }

  describe("cosineNearDupPairsLshBanded") {
    it("generates far fewer candidates than all-pairs at production bit widths") {
      val n = 300L
      val allPairs = n * (n - 1) / 2
      val candidates = VectorOps
        .cosineNearDupCandidatesLshBanded(emb, 300, 64, bitsPerBand = 5, bands = 6)
        .count()
      // 6 bands × 5 bits: random-pair collision ≈ 1−(1−2⁻⁵)⁶ ≈ 17% —
      // the whole point of banding is that the verify stage runs on a
      // fraction of n²/2; allow headroom for non-Gaussian planes
      candidates should be < (allPairs * 0.35).toLong
      candidates should be > 0L
    }

    it("banded pairs are a subset of exact pairs (verify stage admits no false positives)") {
      val exact = VectorOps.cosineNearDupPairs(emb, 300, 0.4).collect()
        .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
      val banded = VectorOps
        .cosineNearDupPairsLshBanded(emb, 300, 0.4, 64, bitsPerBand = 5, bands = 6)
        .collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
      banded.subsetOf(exact) shouldBe true
    }

    it("achieves 100% recall on planted exact duplicates while candidates stay sparse") {
      // identical vectors agree on every sign bit, so they share every
      // band's bucket by construction — recall on true duplicates is
      // deterministic, not probabilistic
      val base = emb.filter(col("vec_id") < 50)
      val planted = base.withColumn("vec_id", col("vec_id") + lit(10000L))
      val corpus = emb.filter(col("vec_id") < 300).union(planted)
      val pairs = VectorOps
        .cosineNearDupPairsLshBanded(corpus, 20000, 0.999, 64, bitsPerBand = 8, bands = 4)
        .collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
      val expected = (0L until 50L).map(i => (i, i + 10000L)).toSet
      expected.subsetOf(pairs) shouldBe true
      // at 8 bits × 4 bands the random-pair candidate rate is
      // ≈ 1−(1−2⁻⁸)⁴ ≈ 1.6% — candidate volume must reflect that
      val nTotal = 350L
      val candidates = VectorOps
        .cosineNearDupCandidatesLshBanded(corpus, 20000, 64, bitsPerBand = 8, bands = 4)
        .count()
      candidates should be < (nTotal * (nTotal - 1) / 2 / 5)
    }
  }

  describe("cosineNearDupPairsAuto (the r9 primary: corpus-dialed bits)") {
    it("sizes the bit width by the integer ladder, never float log") {
      VectorOps.lshBitsForCount(100L) shouldBe 2
      VectorOps.lshBitsForCount(256L) shouldBe 2
      VectorOps.lshBitsForCount(257L) shouldBe 3
      VectorOps.lshBitsForCount(500L) shouldBe 3
      VectorOps.lshBitsForCount(2000L) shouldBe 5
      VectorOps.lshBitsForCount(2048L) shouldBe 5 // exact power boundary
      VectorOps.lshBitsForCount(200000L) shouldBe 12
      VectorOps.lshBitsForCount(100000000L) shouldBe 16 // clamp
    }

    it("collapses planted exact duplicates into representative group counts") {
      // identical vectors now collapse BEFORE the banded join (the
      // sf100 lesson: their pairwise expansion is output-quadratic on
      // replicated corpora) — the planted copies must surface as
      // n_dups = 2 on the min-id representative, never as pairs
      val base = emb.filter(col("vec_id") < 50)
      val planted = base.withColumn("vec_id", col("vec_id") + lit(10000L))
      val corpus = emb.union(planted)
      val out = VectorOps.cosineNearDupPairsAuto(corpus, 0.4, 64, bands = 6)
        .collect()
      out.foreach { r =>
        val (d1, d2) = (r.getAs[Long]("d1"), r.getAs[Long]("d2"))
        d2 should not be (d1 + 10000L) // copies merged, never paired
        val expected1 = if (d1 < 50) 2L else 1L
        r.getAs[Long]("n1_dups") shouldBe expected1
        r.getAs[Long]("n2_dups") shouldBe (if (d2 < 50 && d2 >= 0) 2L else 1L)
      }
    }

    it("recovers perturbed near-duplicates through the banded join") {
      // near (not exact) duplicates survive the collapse as distinct
      // representatives and must be found via shared bands: perturb one
      // dimension by +0.001 — cosine stays >= 0.999, and most sign bits
      // agree. Deterministic given the fixed weights; assert a recall
      // floor rather than an exact set.
      val base = emb.filter(col("vec_id") < 50)
      val planted = base.withColumn("vec_id", col("vec_id") + lit(10000L))
        .withColumn("embedding",
          expr("transform(embedding, (x, i) -> CAST(CASE WHEN i = 0 THEN x + 0.001 ELSE x END AS FLOAT))"))
      val corpus = emb.union(planted)
      val pairs = VectorOps.cosineNearDupPairsAuto(corpus, 0.9, 64, bands = 6)
        .collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
      val recovered = (0L until 50L).count(i => pairs.contains((i, i + 10000L)))
      recovered should be >= 40
    }

    it("finds every pair the capped exact form finds within the cap (the demoted spec anchor)") {
      // the exact all-pairs form is now a spec anchor only: on the
      // id-capped subset, auto-banded ∩ cap ⊆ exact (no false
      // positives), and the lsh_band_keys_lin weights must not be
      // degenerate — a reasonable share of the exact pairs survive
      val exact = VectorOps.cosineNearDupPairs(emb, 300, 0.4).collect()
        .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
      val auto = VectorOps.cosineNearDupPairsAuto(emb, 0.4, 64, bands = 6)
        .filter(col("d1") < 300 && col("d2") < 300)
        .collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
      auto.subsetOf(exact) shouldBe true
      auto.size should be >= exact.size / 2 // recall floor on true 0.4-cosine pairs
    }

    it("native lsh_band_keys_lin equals the weight-formula recomputation") {
      graft.GraftExtensions.register(spark)
      val keys = emb.filter(col("vec_id") === 7)
        .select(expr("lsh_band_keys_lin(CAST(embedding AS ARRAY<DOUBLE>), 4, 3)").as("ks"))
        .head().getAs[scala.collection.Seq[String]]("ks")
      keys.length shouldBe 3
      val v = emb.filter(col("vec_id") === 7)
        .select(expr("CAST(embedding AS ARRAY<DOUBLE>)")).head()
        .getAs[scala.collection.Seq[Double]](0)
      val expected = (0 until 3).map { band =>
        val bits = (0 until 4).map { bit =>
          val p = band * 4L + bit
          var s = 0.0
          v.indices.foreach(i => s += v(i) * graft.functions.LshFamily.Lin.weight(p, i.toLong))
          if (s >= 0) '1' else '0'
        }.mkString
        s"$band:$bits"
      }
      keys.toSeq shouldBe expected
    }
  }

  describe("labelCentroidSums") {
    it("is bit-identical under any partitioning (the exact-DECIMAL claim)") {
      // float sums drift with reduce order; the decimal accumulation
      // must not — 1 partition vs 32 shuffled partitions, same bits
      def sums(df: org.apache.spark.sql.DataFrame): Map[(Int, Int), java.math.BigDecimal] =
        VectorOps.labelCentroidSums(df).collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> r.getDecimal(2)).toMap
      val one = sums(emb.repartition(1))
      val many = sums(emb.repartition(32, col("vec_id")))
      many shouldBe one
    }

    it("matches a driver-side BigDecimal fold exactly") {
      val rows = emb.select(col("label"), col("embedding")).collect()
      val expected = rows
        .flatMap { r =>
          val l = r.getInt(0)
          r.getSeq[Float](1).zipWithIndex.map { case (x, i) => (l, i) -> x }
        }
        .groupBy(_._1)
        .map { case (k, xs) =>
          k -> xs.map { case (_, x) =>
            new java.math.BigDecimal(x.toDouble).setScale(9, java.math.RoundingMode.HALF_UP)
          }.reduce(_.add(_)).setScale(9)
        }
      val got = VectorOps.labelCentroidSums(emb).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDecimal(2).setScale(9)).toMap
      got.keySet shouldBe expected.keySet
      got.foreach { case (k, v) => v.compareTo(expected(k)) shouldBe 0 }
    }
  }

  describe("semDeDup") {
    it("census is consistent and covers every nonzero-norm vector exactly once") {
      val res = VectorOps.semDeDup(emb, nCentroids = 8, threshold = 0.4).collect()
      res.foreach { r =>
        (r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped")) shouldBe r.getAs[Long]("n_vecs")
      }
      val total = res.map(_.getAs[Long]("n_vecs")).sum
      val nonzero = VectorOps.withNorms(emb).filter(col("nrm") > 0).count()
      total shouldBe nonzero
    }

    it("drops a planted exact duplicate (and keeps its lower-id original)") {
      import spark.implicits._
      val base = emb.filter(col("vec_id") < 50)
      // duplicate vec_id 20 under a fresh high id: identical vector ⇒
      // same cell, cosine 1 ⇒ dropped by the min-id rule
      val dup = base.filter(col("vec_id") === 20)
        .withColumn("vec_id", lit(9999L))
      val before = VectorOps.semDeDup(base, nCentroids = 8, threshold = 0.99)
        .agg(sum("n_dropped")).as[Long].head()
      val after = VectorOps.semDeDup(base.unionByName(dup), nCentroids = 8, threshold = 0.99)
        .agg(sum("n_dropped")).as[Long].head()
      after shouldBe (before + 1)
    }

    it("excludes zero-norm vectors rather than emitting null-cosine cells") {
      import spark.implicits._
      val base = emb.filter(col("vec_id") < 50)
      val zero = base.filter(col("vec_id") === 20)
        .withColumn("vec_id", lit(9999L))
        .withColumn("embedding", expr("transform(embedding, x -> CAST(0.0 AS FLOAT))"))
      val withZero = VectorOps.semDeDup(base.unionByName(zero), nCentroids = 8, threshold = 0.4)
        .agg(sum("n_vecs")).as[Long].head()
      val without = VectorOps.semDeDup(base, nCentroids = 8, threshold = 0.4)
        .agg(sum("n_vecs")).as[Long].head()
      withZero shouldBe without
    }
  }

  describe("annTopKPq") {
    it("returns k ADC-ranked neighbors per query with exact integer distances") {
      val res = VectorOps.annTopKPq(emb, col("vec_id") < 5, k = 5).collect()
      res.length shouldBe 25
      res.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rows) =>
        val d = rows.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Long]("dist"))
        d.toSeq shouldBe d.sorted.toSeq
      }
      res.foreach(r => r.getAs[Long]("q_id") should not be r.getAs[Long]("neighbor_id"))
    }
    it("reaches non-trivial recall vs brute-force cosine") {
      val brute = VectorOps.annTopKBrute(emb, col("vec_id") < 10, 5).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
      val pq = VectorOps.annTopKPq(emb, col("vec_id") < 10, k = 5).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
      // 16 codes × 8 subspaces on a 500-vector corpus: coarse, but the
      // ADC ordering must still agree with brute force well beyond
      // chance (5 random picks of 500 would overlap ~1%)
      val recall = (brute & pq).size.toDouble / brute.size
      recall should be > 0.1
    }
  }

  describe("annTopKIvfPq") {
    it("returns k ranked neighbors per query with monotone ADC distances") {
      val res = VectorOps.annTopKIvfPq(emb, col("vec_id") < 5, k = 5).collect()
      res.length shouldBe 25
      res.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rows) =>
        val d = rows.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Long]("dist"))
        d.toSeq shouldBe d.sorted.toSeq
      }
      res.foreach(r => r.getAs[Long]("q_id") should not be r.getAs[Long]("neighbor_id"))
    }
    it("keeps useful recall under cell pruning") {
      val brute = VectorOps.annTopKBrute(emb, col("vec_id") < 10, 5).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
      val ivfpq = VectorOps.annTopKIvfPq(emb, col("vec_id") < 10, k = 5).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
      // probing 2 of 8 cells with 16 residual codes: coarse, but still
      // far beyond the ~1% chance overlap of random top-5s over 500
      val recall = (brute & ivfpq).size.toDouble / brute.size
      recall should be > 0.1
    }
  }

  describe("pcaTopComponent") {
    it("recovers a planted dominant direction and normalizes exactly") {
      // corpus with variance concentrated on dim 3 (amplitude ±0.4),
      // small independent spread on dim 10 (±0.04): PC1 must be dim 3
      val rows = (0 until 200).map { i =>
        val v = Array.fill(64)(0.0f)
        v(2) = (if (i % 2 == 0) 0.4f else -0.4f) * (1 + (i % 5) / 10.0f)
        v(9) = (if (i % 3 == 0) 0.04f else -0.04f)
        (i.toLong, v.toSeq)
      }
      val df = spark.createDataFrame(rows).toDF("vec_id", "embedding")
      val out = VectorOps.pcaTopComponent(df, iters = 24, topK = 10).collect()
      val loads = out.filter(_.getString(0) == "load")
        .map(r => r.getLong(1) -> r.getLong(2)).toMap
      loads.size shouldBe 64
      // max-abs component is exactly the 1e6 scale, on the planted dim,
      // positive after canonicalization
      loads(3L) shouldBe 1000000L
      loads.filter(_._1 != 3L).values.foreach(v => math.abs(v) should be < 200000L)
      // eigenvalue estimate positive and projections = topK
      out.filter(_.getString(0) == "lambda").head.getLong(2) should be > 0L
      out.count(_.getString(0) == "proj") shouldBe 10
    }
  }

  describe("seed-argmin cell assignment (the fused integerCells twin)") {
    it("matches the declarative integerCells min-encoding, ties included") {
      val s = spark
      import s.implicits._
      val rng = new scala.util.Random(31)
      // rows 0 and 1 share one q vector and rows 2/3 another, so seed
      // ties exist by construction (equal d2 → lowest sid must win);
      // the rest are random 8-dim milli-scale vectors
      val dup1 = Array.fill(8)(rng.nextLong(4000) - 2000)
      val dup2 = Array.fill(8)(rng.nextLong(4000) - 2000)
      val rows = (0L until 60L).map { id =>
        val q =
          if (id < 2) dup1.clone
          else if (id < 4) dup2.clone
          else Array.fill(8)(rng.nextLong(4000) - 2000)
        (id, q)
      }
      val qdf = rows.toDF("vec_id", "q")
      val k = 7
      val expected = VectorOps.integerCells(qdf, k).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val seeds = VectorOps.collectSeeds(qdf, k)
      val got = rows.map { case (id, q) =>
        id -> VectorOps.seedArgmin(seeds, q)
      }.toMap
      got shouldBe expected
    }
  }
}
