package graft

import graft.operators.WhitelistIndex
import graft.operators.WhitelistIndex.WhitelistField
import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

class WhitelistIndexSpec extends AnyFunSpec with Matchers with SparkTestBase {

  private def tagged(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("span_id", "tags")
  }

  describe("extractTags") {
    it("extracts typed columns, resolving aliases case-insensitively") {
      val df = tagged(
        1L -> """{"httpstatus": "200", "svc": "api"}""",
        2L -> """{"status": "404"}""")
      val fields = Seq(
        WhitelistField("HTTPStatus", "long", aliases = Seq("Status")),
        WhitelistField("svc", "string"))
      val out = WhitelistIndex.extractTags(df, fields)
        .select("span_id", "httpstatus", "svc").collect()
        .map(r => (r.getLong(0), r.get(1), r.get(2))).toSet
      out shouldBe Set((1L, 200L, "api"), (2L, 404L, null))
    }

    it("matches tag keys case-insensitively, like the reference's lowercased lookup") {
      val df = tagged(1L -> """{"HttpStatus": "200"}""")
      val out = WhitelistIndex.extractTags(df,
        Seq(WhitelistField("httpstatus", "long")))
        .select("httpstatus").collect().head.getLong(0)
      out shouldBe 200L
    }

    it("coerces unquoted JSON scalars (numbers, bools) through the map parse") {
      val df = tagged(1L -> """{"n": 42, "b": true, "d": 1.5}""")
      val out = WhitelistIndex.extractTags(df, Seq(
        WhitelistField("n", "long"), WhitelistField("b", "boolean"),
        WhitelistField("d", "double")))
        .select("n", "b", "d").collect().head
      (out.getLong(0), out.getBoolean(1), out.getDouble(2)) shouldBe ((42L, true, 1.5))
    }

    it("prefers the field name over its aliases when both exist") {
      val df = tagged(1L -> """{"status": "1", "code": "2"}""")
      val out = WhitelistIndex.extractTags(df,
        Seq(WhitelistField("status", "long", aliases = Seq("code"))))
        .select("status").collect().head.getLong(0)
      out shouldBe 1L
    }

    it("indexes null (not an error) on conversion failure, like the reference Try") {
      val df = tagged(1L -> """{"n": "not-a-number", "b": "maybe"}""")
      val out = WhitelistIndex.extractTags(df, Seq(
        WhitelistField("n", "long"), WhitelistField("b", "boolean")))
        .select("n", "b").collect().head
      out.isNullAt(0) shouldBe true
      out.isNullAt(1) shouldBe true
    }

    it("tolerates tag keys differing only in case (first value wins)") {
      val df = tagged(1L -> """{"Region": "us", "region": "eu", "other": "x"}""")
      val out = WhitelistIndex.extractTags(df,
        Seq(WhitelistField("region", "string")))
        .select("region").collect().head.getString(0)
      out shouldBe "us"
    }

    it("rejects a whitelist field whose name collides with a span column") {
      val df = tagged(1L -> """{"span_id": "7"}""")
      val ex = intercept[IllegalArgumentException] {
        WhitelistIndex.extractTags(df, Seq(WhitelistField("Span_ID", "long")))
      }
      ex.getMessage should include("span_id")
    }

    it("skips disabled fields") {
      val df = tagged(1L -> """{"a": "1"}""")
      val cols = WhitelistIndex.extractTags(df,
        Seq(WhitelistField("a", "long", enabled = false))).columns.toSeq
      cols should not contain "a"
    }
  }

  describe("fieldNames") {
    it("serves intrinsics plus whitelisted fields that indexed a value") {
      val df = tagged(
        1L -> """{"present": "7"}""",
        2L -> """{"other": "x"}""")
      val names = WhitelistIndex.fieldNames(df, Seq(
        WhitelistField("present", "long"),
        WhitelistField("absent", "long"),          // tag never occurs
        WhitelistField("unconvertible", "long", aliases = Seq("other"))))
        .collect().map(_.getString(0)).sorted.toSeq
      names shouldBe (WhitelistIndex.IntrinsicFields :+ "present").sorted
    }

    it("serves just the intrinsic fields when the config is empty or fully disabled") {
      val df = tagged(1L -> """{"a": "1"}""")
      WhitelistIndex.fieldNames(df, Nil)
        .collect().map(_.getString(0)).sorted.toSeq shouldBe WhitelistIndex.IntrinsicFields
      WhitelistIndex.fieldNames(df, Seq(WhitelistField("a", "long", enabled = false)))
        .collect().map(_.getString(0)).sorted.toSeq shouldBe WhitelistIndex.IntrinsicFields
    }
  }

  describe("catalog") {
    it("exposes normalized metadata sorted by name") {
      WhitelistIndex.catalog(Seq(
        WhitelistField("B", "string"),
        WhitelistField("a", "long", enableRangeQuery = true),
        WhitelistField("off", "long", enabled = false))) shouldBe
        Seq(("a", "long", true), ("b", "string", false))
    }
  }

  describe("Reloader (config hot-reload between batches)") {
    def writeConfig(path: java.nio.file.Path, lines: String*): Unit =
      java.nio.file.Files.write(path, lines.mkString("\n").getBytes)

    it("a changed config file takes effect on the next batch") {
      val f = java.nio.file.Paths.get(Scratch.fresh("graft_wl_"), "whitelist.jsonl")
      writeConfig(f, """{"name":"kval","fieldType":"long","aliases":["k"],"enableRangeQuery":true}""")
      val reloader = new WhitelistIndex.Reloader(spark, f.toString)

      // batch 1: plan binds to v1 — kval indexed, region unknown
      val v1 = reloader.current()
      v1.map(_.name) shouldBe Seq("kval")
      val batch1 = WhitelistIndex.extractTags(tagged(1L -> """{"k": "7", "region": "eu"}"""), v1)
      batch1.columns should contain("kval")
      batch1.columns should not contain "region"

      // config swap (longer content so (mtime, len) always differs,
      // even on a coarse-mtime filesystem)
      writeConfig(f,
        """{"name":"region","fieldType":"string"}""",
        """{"name":"kval","fieldType":"long","enabled":false}""")
      val v2 = reloader.current()
      v2.filter(_.enabled).map(_.name) shouldBe Seq("region")
      // batch 2: the NEXT plan binds to v2 — the reference's reload
      // semantics without live-plan mutation
      val batch2 = WhitelistIndex.extractTags(tagged(1L -> """{"k": "7", "region": "eu"}"""), v2)
      batch2.columns should contain("region")
      batch2.columns should not contain "kval"

      java.nio.file.Files.delete(f)
    }

    it("an unchanged file is not re-read (same cached instance)") {
      val f = java.nio.file.Paths.get(Scratch.fresh("graft_wl_"), "whitelist.jsonl")
      writeConfig(f, """{"name":"kval","fieldType":"long"}""")
      val reloader = new WhitelistIndex.Reloader(spark, f.toString)
      val a = reloader.current()
      val b = reloader.current()
      (a eq b) shouldBe true
      java.nio.file.Files.delete(f)
    }

    it("loadConfig applies defaults and rejects a missing name") {
      val f = java.nio.file.Paths.get(Scratch.fresh("graft_wl_"), "whitelist.jsonl")
      writeConfig(f, """{"name":"x"}""")
      val Seq(x) = WhitelistIndex.loadConfig(spark, f.toString)
      (x.fieldType, x.aliases, x.enableRangeQuery, x.enabled) shouldBe
        ("string", Nil, false, true)
      writeConfig(f, """{"fieldType":"long"}""")
      an[IllegalArgumentException] should be thrownBy
        WhitelistIndex.loadConfig(spark, f.toString)
      java.nio.file.Files.delete(f)
    }
  }
}
