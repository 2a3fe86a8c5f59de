package graft

import graft.operators.IndexStore
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

/** The scratch spine: one per-process temp root that every temp
  * directory of the main sources lives under, one write-once memo for
  * the layouts materialized per (JVM, sf dir), and streaming results
  * that keep their output schema when nothing landed. */
class ScratchSpec extends AnyFunSpec with Matchers with SparkTestBase {

  private val root = Paths.get(Scratch.root)

  private def files(df: DataFrame): Seq[Path] =
    df.inputFiles.toSeq.map(f => Paths.get(new java.net.URI(f).getPath))

  /** The directories directly under the root that `df` reads from. */
  private def scratchDirs(df: DataFrame): Set[Path] =
    files(df).map(f => root.resolve(root.relativize(f).getName(0))).toSet

  describe("temp directories") {
    it("are created only by Scratch in the main sources") {
      SourceLint.sites("main", "createTempDirectory")
        .map(_.getFileName.toString).distinct shouldBe List("Scratch.scala")
    }

    it("hold the default index store and streaming sinks under the one root") {
      assume(sys.env.get("GRAFT_INDEX_DIR").isEmpty, "GRAFT_INDEX_DIR overrides the default root")
      Paths.get(IndexStore.rootDir).startsWith(root) shouldBe true
      val alerts = SparkEntry.queries("streaming_alerts")(spark, sfDir)
      files(alerts) should not be empty
      all(files(alerts).map(_.startsWith(root))) shouldBe true
    }
  }

  describe("Scratch.once") {
    it("writes each (prefix, dir) once and hands back the same directory") {
      var writes = 0
      val a = Scratch.once("graft_once_spec_", "sfA") { _ => writes += 1 }
      val b = Scratch.once("graft_once_spec_", "sfA") { _ => writes += 1 }
      val c = Scratch.once("graft_once_spec_", "sfB") { _ => writes += 1 }
      a shouldBe b
      c should not be a
      writes shouldBe 2
      Paths.get(a).getFileName.toString should startWith("graft_once_spec_")
      Paths.get(a).getParent shouldBe root
    }

    for (name <- Seq("trace_partitioned_scan", "trace_field_values_meta",
        "trace_field_names", "trace_zorder_scan"))
      it(s"makes a second $name build run no Spark job over the same layout") {
        val first = SparkEntry.queries(name)(spark, sfDir)
        var second: DataFrame = null
        jobsDuring { second = SparkEntry.queries(name)(spark, sfDir) } shouldBe 0
        all(files(second).map(_.startsWith(root))) shouldBe true
        scratchDirs(first).size shouldBe 1
        scratchDirs(second) shouldBe scratchDirs(first)
        second.collect() should contain theSameElementsInOrderAs first.collect()
      }
  }

  describe("foreachBatch-landed streaming surfaces on an empty corpus") {
    // sf0.001 with a 0-row documents table (same schema)
    lazy val emptyDocsDir: String = {
      val d = Scratch.fresh("graft_spec_empty_docs_")
      Files.copy(Paths.get(sfDir, "events.parquet"), Paths.get(d, "events.parquet"))
      Tables.documents(spark, sfDir).limit(0).coalesce(1)
        .write.parquet(s"$d/documents.parquet")
      d
    }

    def schemaOf(df: DataFrame): Seq[(String, String)] =
      df.schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString)

    it("streaming_quality_ensemble keeps sf0.001's columns with 0 rows") {
      val full = SparkEntry.queries("streaming_quality_ensemble")(spark, sfDir)
      val empty = SparkEntry.queries("streaming_quality_ensemble")(spark, emptyDocsDir)
      schemaOf(empty) shouldBe schemaOf(full)
      empty.count() shouldBe 0
    }

    it("a stream that lands no batch still returns the per-batch output schema") {
      val src = Scratch.fresh("graft_spec_no_files_")
      val stream = spark.readStream.schema("doc_id BIGINT, text STRING").parquet(src)
      val out = graft.queries.StreamingQueries.runForeachBatch(spark, stream, "spec_none") {
        _.selectExpr("doc_id", "length(text) AS n_chars")
      }
      schemaOf(out) shouldBe Seq("doc_id" -> "bigint", "n_chars" -> "int")
      out.count() shouldBe 0
    }

    it("streaming_dedup_incremental keeps sf0.001's columns with 0 rows") {
      val full = SparkEntry.queries("streaming_dedup_incremental")(spark, sfDir)
      val empty = SparkEntry.queries("streaming_dedup_incremental")(spark, emptyDocsDir)
      schemaOf(empty) shouldBe schemaOf(full)
      empty.count() shouldBe 0
    }
  }
}
