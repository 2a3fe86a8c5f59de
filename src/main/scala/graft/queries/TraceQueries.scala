package graft.queries

import graft.{Scratch, Tables}
import graft.operators.{ShardedWindow, SpanOps, TimePartitioner, TraceSearch, WhitelistIndex}
import graft.operators.WhitelistIndex.WhitelistField
import graft.trace.TraceDataset
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StringType, StructField, StructType}

/** Trace-domain coverage (SURVEY.md §2 A-block): the haystack-traces
  * reader/indexer query surface over the `events`-derived span relation
  * (see [[SpanOps.spansFromEvents]]). Every oracle shares the same
  * spans CTE so both engines see one span relation.
  *
  * Time window constants cover the whole events range (Jan 2024, UTC).
  */
object TraceQueries {

  private val T0 = 1704067200000000L // 2024-01-01 00:00:00 UTC in micros
  private val HourUs = 3600000000L
  private val T1 = 1706745600000000L // 2024-02-01
  private val DayUs = 86400000000L

  /** Upper bound (exclusive) of the fixed incident-window workload in
    * q_range_join: the driver's largest pack (sf0.1) has dense event
    * ids 0..99999, and ScaleUp shifts replica ids past max+1, so this
    * bound keeps the window COUNT constant as derived packs grow the
    * probe side. TestdataContractSpec pins the dense-id assumption. */
  private val WindowWorkloadMaxId = 100000L

  private def spans(s: SparkSession, dir: String): DataFrame =
    SpanOps.spansFromEvents(Tables.events(s, dir))

  private def cte(body: String): String = SpanOps.spansSqlCte + "\n" + body

  /** Demo whitelist config (A6/A13): four live fields of four types —
    * two reached through aliases — plus one that never converts
    * (badnum's only source is a non-numeric string), exercising the
    * reference's ignore-on-cast-failure path. */
  private val demoWhitelist = Seq(
    WhitelistField("kval", "long", aliases = Seq("k"), enableRangeQuery = true),
    WhitelistField("iserror", "boolean", aliases = Seq("err")),
    WhitelistField("score", "double", enableRangeQuery = true),
    WhitelistField("region", "string"),
    WhitelistField("badnum", "long", aliases = Seq("region")))

  /** Spans with a richer tags JSON (the events stream only carries one
    * tag key): typed values re-serialized into real JSON so the
    * whitelist extraction exercises an actual JSON round trip. The
    * oracle computes the same typed values straight from span columns,
    * so the compare proves extraction, not serialization. score is a
    * plain division (never ROUND on a double — engines disagree on
    * half-way doubles; decimal casts are correctly rounded on both).
    *
    * Materialized ONCE per (JVM, sf dir) — in production rich tag JSON
    * arrives from ingest; synthesizing it per-row inside every timed
    * whitelist query charged the GENERATOR to the surface (measured
    * 136 s of trace_field_names' sf100 entry was to_json, not the
    * presence scan). Queries over richSpans now time what they claim:
    * JSON extraction/search over a stored span relation, read back
    * under the written frame's schema (no footer-inference job). */
  private def richSpans(s: SparkSession, dir: String): DataFrame = {
    val rich = spans(s, dir).withColumn("tags", to_json(struct(
      get_json_object(col("tags"), "$.k").cast("int").as("k"),
      (col("service") === "error").as("err"),
      (col("duration_us") / 1000.0).as("score"),
      upper(substring(col("service"), 1, 3)).as("region"))))
    s.read.schema(rich.schema).parquet(Scratch.once("graft_rich_spans_", dir) { d =>
      rich.write.mode("overwrite").parquet(d)
    })
  }

  /** Spark's default JSON timestamp pattern is millisecond-precision —
    * a silent 1000× granularity loss on micros data — so the wire
    * format pins a micros pattern on BOTH serialize and parse. */
  private[graft] val JsonTsOptions = Map(
    "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "timestampNTZFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  /** One JSON-lines copy of events per (JVM, sf dir) — see
    * trace_span_ingest_json. */
  private def jsonEvents(s: SparkSession, dir: String): DataFrame =
    s.read.text(Scratch.once("graft_json_events_", dir) { d =>
      Tables.events(s, dir).write.mode("overwrite").options(JsonTsOptions).json(d)
    })

  val defs: Map[String, QueryDef] = Map(
    // A1: span ingest/deserialize — typed projection of the raw stream
    "trace_span_ingest" -> QueryDef.sql(
      (s, dir) => spans(s, dir).orderBy("span_id").limit(100),
      cte("SELECT * FROM spans ORDER BY span_id LIMIT 100")),

    // A1b: ingest from a TEXT wire format — the push-collector shape
    // (one JSON object per line, the haystack agent's span POST body
    // re-expressed for this schema): parse with from_json against the
    // typed schema inside the scan stage, derive the same span
    // relation, and prove the whole pipeline equals the columnar path
    // by hashing a per-service rollup against the parquet-derived
    // oracle. The JSON copy is written once per (JVM, sf dir) — the
    // query times parse+derive, not the generator (the richSpans
    // precedent). Timestamps round-trip at micros through ISO strings;
    // eventTimeUs dispatches on the parsed dtype like any other source.
    "trace_span_ingest_json" -> QueryDef.sql(
      (s, dir) => {
        val parsed = jsonEvents(s, dir)
          .select(from_json(col("value"), Tables.events(s, dir).schema,
            JsonTsOptions).as("e"))
          .select("e.*")
        SpanOps.spansFromEvents(parsed)
          .groupBy("service")
          .agg(count(lit(1)).as("n_spans"),
            sum("duration_us").as("total_dur_us"),
            min("start_us").as("first_us"), max("start_us").as("last_us"))
          .orderBy("service")
      },
      cte("""SELECT service, COUNT(*) AS n_spans,
            |  CAST(SUM(duration_us) AS BIGINT) AS total_dur_us,
            |  MIN(start_us) AS first_us, MAX(start_us) AS last_us
            |FROM spans GROUP BY service ORDER BY service""".stripMargin)),

    // A2: span-buffer assembly summary (one traceId shuffle)
    "trace_span_buffer" -> QueryDef.sql(
      (s, dir) => SpanOps.spanBufferSummary(spans(s, dir)).orderBy("trace_id"),
      cte("""SELECT trace_id, COUNT(*) AS span_count, MIN(start_us) AS trace_start_us,
            |  MAX(start_us + duration_us) AS trace_end_us,
            |  COUNT(DISTINCT service) AS n_services
            |FROM spans GROUP BY trace_id ORDER BY trace_id""".stripMargin)),

    // A4: trace index documents — (trace, service, operation) rollup
    "trace_index_docs" -> QueryDef.sql(
      (s, dir) => SpanOps.indexDocs(spans(s, dir))
        .orderBy("trace_id", "service", "operation"),
      cte("""SELECT trace_id, service, operation, COUNT(*) AS span_count,
            |  MIN(start_us - (start_us % 1000000)) AS min_start_us_sec,
            |  COUNT(DISTINCT CASE WHEN duration_us > 20000000
            |        THEN duration_us - (duration_us % 1000000) ELSE duration_us END) AS distinct_durations
            |FROM spans WHERE service IS NOT NULL AND operation IS NOT NULL
            |GROUP BY trace_id, service, operation
            |ORDER BY trace_id, service, operation""".stripMargin)),

    // A5: service metadata catalog
    "trace_service_metadata" -> QueryDef.sql(
      (s, dir) => SpanOps.serviceMetadata(spans(s, dir)).orderBy("service"),
      cte("""SELECT service, COUNT(DISTINCT operation) AS n_operations,
            |  MIN(start_us) AS first_seen_us, MAX(start_us) AS last_seen_us
            |FROM spans GROUP BY service ORDER BY service""".stripMargin)),

    // A6/C14: configurable whitelist tag indexing — five fields, four
    // types, alias resolution, and cast-failure tolerance, aggregated
    // per service. The oracle derives every typed value directly from
    // span columns, so the hash match proves the config-driven JSON
    // extraction produced exactly the declared types and values.
    "trace_tag_extract" -> QueryDef.sql(
      (s, dir) =>
        WhitelistIndex.extractTags(richSpans(s, dir), demoWhitelist)
          .groupBy("service")
          .agg(
            count(lit(1)).as("n_spans"),
            max("kval").as("max_k"),
            sum(when(col("iserror"), 1L).otherwise(0L)).as("n_err"),
            sum(col("score").cast(DecimalType(18, 3))).cast(DecimalType(38, 3))
              .cast("double").as("total_score"),
            min("region").as("region"),
            count(col("badnum")).as("n_badnum"))
          .orderBy("service"),
      cte("""SELECT service, COUNT(*) AS n_spans,
            |  MAX(CAST(CAST(json_extract(tags, '$.k') AS INT) AS BIGINT)) AS max_k,
            |  CAST(SUM(CASE WHEN service = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_err,
            |  CAST(CAST(SUM(CAST(duration_us / 1000.0 AS DECIMAL(18,3))) AS DECIMAL(38,3)) AS DOUBLE) AS total_score,
            |  MIN(upper(substr(service, 1, 3))) AS region,
            |  COUNT(TRY_CAST(upper(substr(service, 1, 3)) AS BIGINT)) AS n_badnum
            |FROM spans GROUP BY service ORDER BY service""".stripMargin)),

    // A7: getTrace — fetch one full trace
    "trace_get" -> QueryDef.sql(
      (s, dir) => spans(s, dir).filter(col("trace_id") === "13").orderBy("span_id"),
      cte("SELECT * FROM spans WHERE trace_id = '13' ORDER BY span_id")),

    // A8: getRawSpan — (traceId, spanId) point lookup (scalar subquery)
    "trace_get_span" -> QueryDef.sql(
      (s, dir) => {
        val t = spans(s, dir).filter(col("trace_id") === "13")
        t.join(broadcast(t.agg(min("span_id").as("span_id"))), "span_id")
          .select(t.columns.map(col).toIndexedSeq: _*)
      },
      cte("""SELECT * FROM spans WHERE trace_id = '13'
            |  AND span_id = (SELECT MIN(span_id) FROM spans WHERE trace_id = '13')""".stripMargin)),

    // A9: getRawTraces — multi-get
    "trace_multi_get" -> QueryDef.sql(
      (s, dir) => spans(s, dir).filter(col("trace_id").isin("7", "11", "13"))
        .orderBy("trace_id", "span_id"),
      cte("""SELECT * FROM spans WHERE trace_id IN ('7', '11', '13')
            |ORDER BY trace_id, span_id""".stripMargin)),

    // A10: searchTraces — the index lookup and the trace fetch in one pass
    "trace_search" -> QueryDef.sql(
      (s, dir) => SpanOps.searchTraces(spans(s, dir), "purchase", T0, T0 + 7 * DayUs, 10),
      cte(s"""SELECT trace_id, MIN(start_us) AS trace_start_us, COUNT(*) AS span_count
             |FROM spans
             |WHERE trace_id IN (SELECT DISTINCT trace_id FROM spans
             |                   WHERE service = 'purchase' AND start_us BETWEEN $T0 AND ${T0 + 7 * DayUs})
             |GROUP BY trace_id
             |ORDER BY trace_start_us DESC, trace_id LIMIT 10""".stripMargin)),

    // A10b: searchTraces by whitelisted TAG field — the reference's
    // primary search path (field filters hit the ES index built from
    // whitelist-extracted tags). The typed tag predicate + time range
    // is one span-level group of the shared one-pass search, run over
    // the config-extracted columns, so search and indexing share one
    // whitelist definition.
    "trace_search_tags" -> QueryDef.sql(
      (s, dir) => SpanOps.searchTraceSummaries(
        WhitelistIndex.extractTags(richSpans(s, dir), demoWhitelist),
        Seq(col("kval") > 90 && col("iserror") && col("start_us").between(T0, T0 + 14 * DayUs)),
        10),
      cte(s"""SELECT trace_id, MIN(start_us) AS trace_start_us, COUNT(*) AS span_count
             |FROM spans
             |WHERE trace_id IN (
             |  SELECT DISTINCT trace_id FROM spans
             |  WHERE CAST(CAST(json_extract(tags, '$$.k') AS INT) AS BIGINT) > 90
             |    AND service = 'error'
             |    AND start_us BETWEEN $T0 AND ${T0 + 14 * DayUs})
             |GROUP BY trace_id
             |ORDER BY trace_start_us DESC, trace_id LIMIT 10""".stripMargin)),

    // A10c: range search on a whitelist TAG field through the guarded
    // path — kval carries enableRangeQuery, so the analysis-time check
    // (matchingTraceIdsTagged → validateRangeFields) admits the query;
    // the same range on a non-range field is rejected before any plan
    // builds (TraceSearchSpec covers the rejection). Mirrors the
    // reference, where the ES mapping decides which fields accept
    // range filters.
    "trace_search_tags_range" -> QueryDef.sql(
      (s, dir) => {
        import TraceSearch._
        TraceSearch.matchingTraceIdsTagged(richSpans(s, dir), Seq(
          And(Seq(RangeUs("kval", 91, 1000000),
            RangeUs("start_us", T0, T0 + 14 * DayUs)))),
          demoWhitelist).orderBy("trace_id")
      },
      cte(s"""SELECT DISTINCT trace_id FROM spans
             |WHERE CAST(CAST(json_extract(tags, '$$.k') AS INT) AS BIGINT) BETWEEN 91 AND 1000000
             |  AND start_us BETWEEN $T0 AND ${T0 + 14 * DayUs}
             |ORDER BY trace_id""".stripMargin)),

    // A24: packed-blob store format — the reference compresses span
    // buffers into framed blobs before the Cassandra write
    // (commons/packer: "hytc" magic + metadata JSON + gzip/snappy/zstd
    // body). graft reproduces the frame byte-for-byte over Spark's own
    // codec jars (native pack_blob/unpack_blob expressions), so
    // reference-written blobs unpack in a graft scan and vice versa
    // (byte-level interop proven in PackedBlobSpec). The compression
    // bytes themselves aren't SQL-expressible, but the ROUND TRIP is:
    // per trace, serialize the span rows, pack under each codec,
    // unpack, and re-emit the decoded SPAN ROWS — the DuckDB oracle is
    // a plain SELECT of the same columns straight from spans, so the
    // driver's own hash proves unpack(pack(x)) == x and all four
    // codecs. SAMPLED: a deterministic md5 bucket keeps 1/16 of the
    // traces (every span of a kept trace) — the frame bytes are
    // already proven byte-for-byte in PackedBlobSpec; this query's job
    // is end-to-end store wiring, and round-tripping the ENTIRE corpus
    // through gzip 4× timed the codec, not the engine (127 s at
    // sf100). Traces 0–2 are pinned in unconditionally so the sample
    // is never empty at smoke scale (sf0.001 has ~15 traces — a 1/16
    // bucket alone goes empty ~38% of regenerations). The oracle
    // applies the identical predicate.
    "trace_store_blobs" -> QueryDef.sql(
      (s, dir) => {
        graft.GraftExtensions.register(s)
        val spanStruct = struct(
          col("span_id"), col("parent_span_id"), col("service"),
          col("operation"), col("start_us"), col("duration_us"))
        val packed = spans(s, dir)
          .filter(substring(md5(col("trace_id").cast("binary")), 1, 1) === "0" ||
            col("trace_id").isin("0", "1", "2"))
          .groupBy("trace_id")
          .agg(to_json(sort_array(collect_list(spanStruct))).as("payload"))
        val rtSchema = "array<struct<span_id:bigint,parent_span_id:bigint," +
          "service:string,operation:string,start_us:bigint,duration_us:bigint>>"
        Seq("GZIP", "NONE", "SNAPPY", "ZSTD").map { c =>
          packed.select(
            lit(c).as("codec"), col("trace_id"),
            expr(s"cast(unpack_blob(pack_blob(cast(payload as binary), '$c')) as string)")
              .as("rt"))
        }.reduce(_ unionAll _)
          .select(col("codec"), col("trace_id"),
            explode(from_json(col("rt"), rtSchema, Map.empty[String, String])).as("sp"))
          .select(col("codec"), col("trace_id"), col("sp.span_id"),
            col("sp.parent_span_id"), col("sp.service"), col("sp.operation"),
            col("sp.start_us"), col("sp.duration_us"))
        // no trailing global sort: 4x the span relation at corpus
        // scale, set-compared by the gate — a blob writer partitions
        // by trace, it never totally orders the store
      },
      cte("""
        |SELECT c.codec, trace_id, span_id, parent_span_id, service, operation,
        |       start_us, duration_us
        |FROM spans CROSS JOIN (VALUES ('GZIP'), ('NONE'), ('SNAPPY'), ('ZSTD')) c(codec)
        |WHERE substr(md5(trace_id), 1, 1) = '0' OR trace_id IN ('0', '1', '2')
        |ORDER BY codec, trace_id, span_id""".stripMargin)),

    // A11: expression-tree search — AND of span-level groups
    "trace_search_expr" -> QueryDef.sql(
      (s, dir) => SpanOps.searchTracesExpr(spans(s, dir), Seq(
        col("service") === "purchase" && col("start_us").between(T0, T1),
        col("service") === "error" && col("start_us").between(T0, T1)))
        .orderBy("trace_id"),
      cte(s"""SELECT trace_id FROM spans WHERE service = 'purchase' AND start_us BETWEEN $T0 AND $T1
             |INTERSECT
             |SELECT trace_id FROM spans WHERE service = 'error' AND start_us BETWEEN $T0 AND $T1
             |ORDER BY trace_id""".stripMargin)),

    // A11 full ADT: boolean structure (OR) inside span-level groups
    "trace_search_expr_tree" -> QueryDef.sql(
      (s, dir) => {
        import TraceSearch._
        TraceSearch.matchingTraceIds(spans(s, dir), Seq(
          And(Seq(Or(Seq(Eq("service", "purchase"), Eq("service", "signup"))),
            RangeUs("start_us", T0, T1))),
          And(Seq(Eq("service", "error"), RangeUs("start_us", T0, T0 + 14 * DayUs)))))
          .orderBy("trace_id")
      },
      cte(s"""SELECT trace_id FROM spans
             |WHERE (service = 'purchase' OR service = 'signup') AND start_us BETWEEN $T0 AND $T1
             |INTERSECT
             |SELECT trace_id FROM spans
             |WHERE service = 'error' AND start_us BETWEEN $T0 AND ${T0 + 14 * DayUs}
             |ORDER BY trace_id""".stripMargin)),

    // A11 Not branch: span-level negation inside a group — traces with
    // a span in a one-day window that is NONE of the three common
    // services (NOT applies to a single span's fields, mirroring the
    // reference tree's must_not); selective, so a broken Not would
    // change the row set, not just pass through
    "trace_search_expr_not" -> QueryDef.sql(
      (s, dir) => {
        import TraceSearch._
        TraceSearch.matchingTraceIds(spans(s, dir), Seq(
          And(Seq(Not(Or(Seq(Eq("service", "view"), Eq("service", "click"),
            Eq("service", "signup")))),
            RangeUs("start_us", T0, T0 + DayUs)))))
          .orderBy("trace_id")
      },
      cte(s"""SELECT DISTINCT trace_id FROM spans
             |WHERE NOT (service = 'view' OR service = 'click' OR service = 'signup')
             |  AND start_us BETWEEN $T0 AND ${T0 + DayUs}
             |ORDER BY trace_id""".stripMargin)),

    // A22: hourly-partitioned layout round trip — write dt/hr partitions
    // ONCE per (JVM, sf dir) into a run-unique temp dir (concurrent
    // runs can't clobber each other), then read back with partition
    // pruning; the result must equal a plain time-range scan (which is
    // exactly what the oracle computes). Benchmarks therefore time the
    // pruned READ, not the setup write.
    "trace_partitioned_scan" -> QueryDef.sql(
      (s, dir) => {
        val outDir = Scratch.once("graft_partitioned_spans_", dir) { d =>
          TimePartitioner.writePartitioned(spans(s, dir), d, hourly = false)
        }
        TimePartitioner.readRange(s, outDir, T0, T0 + 3 * DayUs)
          .groupBy("service").agg(count(lit(1)).as("n_spans"))
          .orderBy("service")
      },
      cte(s"""SELECT service, COUNT(*) AS n_spans FROM spans
             |WHERE start_us BETWEEN $T0 AND ${T0 + 3 * DayUs}
             |GROUP BY service ORDER BY service""".stripMargin)),

    // Z-order (Morton) layout scan (operators/ZOrderLayout): the store
    // clustered on interleaved (trace_key, start_us) bits, so a 2-D box
    // query — a trace-range AND a time-range — prunes parquet files on
    // BOTH dimensions' min/max envelopes (a single-dim sort scatters
    // the other dimension; ZOrderLayoutSpec measures the pruning win).
    // Layout write is once per JVM+sf like trace_partitioned_scan; the
    // timed query is the pruned box read. Results are layout-invariant,
    // which is exactly what the oracle checks.
    "trace_zorder_scan" -> QueryDef.sql(
      (s, dir) => {
        val keyed = spans(s, dir).select(col("trace_id").cast("long").as("trace_key"),
          col("span_id"), col("service"), col("start_us"))
        val outDir = Scratch.once("graft_zorder_spans_", dir) { d =>
          graft.operators.ZOrderLayout.writeZOrdered(keyed, d, "trace_key", "start_us", nFiles = 16)
        }
        // under the written frame's schema: no footer-inference job
        s.read.schema(keyed.schema).parquet(outDir)
          .filter(col("trace_key").between(0, 4) &&
            col("start_us").between(T0, T0 + 3 * DayUs))
          .groupBy("service").agg(count(lit(1)).as("n_spans"))
          .orderBy("service")
      },
      cte(s"""SELECT service, COUNT(*) AS n_spans FROM spans
             |WHERE CAST(trace_id AS BIGINT) BETWEEN 0 AND 4
             |  AND start_us BETWEEN $T0 AND ${T0 + 3 * DayUs}
             |GROUP BY service ORDER BY service""".stripMargin)),

    // A12/C18: getTraceCounts — time-bucket histogram
    "trace_counts" -> QueryDef.sql(
      (s, dir) => SpanOps.traceCounts(spans(s, dir), "error", T0, T1, DayUs).orderBy("bucket"),
      cte(s"""SELECT CAST(FLOOR((start_us - $T0) / $DayUs) AS BIGINT) AS bucket, COUNT(*) AS n
             |FROM spans WHERE service = 'error' AND start_us BETWEEN $T0 AND $T1
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // C37: dense time-series gap-fill — hourly counts per service with
    // explicit zero rows for silent hours (the dashboard shape: a
    // missing bucket must read 0, not be absent). The dense grid is
    // services × sequence(min_hour, max_hour), built distributed with
    // explode(sequence()) — no driver loop — and both join sides are
    // grid-bounded (services × hours), so the left join broadcasts no
    // matter how big the underlying span table is.
    "trace_gapfill" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir)
        val hours = sp.select(expr(s"start_us div $HourUs").as("hb"))
          .agg(min("hb").as("lo"), max("hb").as("hi"))
          .select(explode(sequence(col("lo"), col("hi"))).as("bucket"))
        val services = sp.select(col("service")).distinct()
        val counts = sp
          .groupBy(col("service"), expr(s"start_us div $HourUs").as("bucket"))
          .agg(count(lit(1)).as("n"))
        services.crossJoin(hours)
          .join(counts, Seq("service", "bucket"), "left_outer")
          .select(col("service"), col("bucket"), coalesce(col("n"), lit(0L)).as("n"))
          .orderBy("service", "bucket")
      },
      cte(s"""
        |, b AS (SELECT min(start_us // $HourUs) AS lo, max(start_us // $HourUs) AS hi FROM spans),
        |grid AS (SELECT sv.service, CAST(u.x AS BIGINT) AS bucket
        |         FROM (SELECT DISTINCT service FROM spans) sv, b, UNNEST(range(lo, hi + 1)) AS u(x)),
        |c AS (SELECT service, start_us // $HourUs AS bucket, COUNT(*) AS n FROM spans GROUP BY 1, 2)
        |SELECT g.service, g.bucket, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
        |FROM grid g LEFT JOIN c ON g.service = c.service AND g.bucket = c.bucket
        |ORDER BY g.service, g.bucket""".stripMargin)),

    // C38 staged funnel: superseded by the strict-sequential C66
    // definition below (same key; the map kept only the later entry,
    // so the old body is removed rather than shadowed).

    // Custom whole-operator tier (SURVEY §2 preference (c)): native
    // AS-OF join (graft.plans.AsOfJoinExec — co-partitioned merge scan)
    // — for each error span, the latest purchase span of the same trace
    // at or before it. Oracle is DuckDB's native ASOF JOIN.
    "q_asof_join" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir)
        val errors = sp.filter(col("service") === "error")
          .select("trace_id", "span_id", "start_us")
        val purchases = sp.filter(col("service") === "purchase")
          .select("trace_id", "span_id", "start_us")
        org.apache.spark.sql.GraftPlanBridge
          .asofJoin(errors, purchases, Seq("trace_id"), "start_us")
          .select(col("trace_id"), col("span_id").as("err_span_id"),
            col("span_id_r").as("purchase_span_id"),
            (col("start_us") - col("start_us_r")).as("lag_us"))
          .orderBy("err_span_id")
      },
      cte("""SELECT e.trace_id, e.span_id AS err_span_id, p.p_span_id AS purchase_span_id,
            |  e.start_us - p.p_start_us AS lag_us
            |FROM (SELECT trace_id, span_id, start_us FROM spans WHERE service = 'error') e
            |ASOF JOIN (SELECT trace_id, span_id AS p_span_id, start_us AS p_start_us
            |           FROM spans WHERE service = 'purchase') p
            |  ON e.trace_id = p.trace_id AND e.start_us >= p.p_start_us
            |ORDER BY err_span_id""".stripMargin)),

    // C96: NEAREST as-of join — the bidirectional variant of the
    // custom merge-scan plan (closest right row in time, either
    // direction; exact tie prefers backward — pandas merge_asof
    // direction='nearest' semantics, which DuckDB's ASOF lacks): one
    // extra PEEK of the already-sorted forward row per left row, so
    // the operator stays O(n+m) per co-partition with no candidate
    // blow-up. The oracle ranks the full pair set by (|diff|,
    // direction, scan tie-break) — the hash proves the merge-scan
    // peek lands on the true nearest under every tie rule.
    "q_asof_nearest" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir)
        val errors = sp.filter(col("service") === "error")
          .select("trace_id", "span_id", "start_us")
        val purchases = sp.filter(col("service") === "purchase")
          .select("trace_id", "span_id", "start_us")
        org.apache.spark.sql.GraftPlanBridge
          .asofJoin(errors, purchases, Seq("trace_id"), "start_us", nearest = true)
          .select(col("trace_id"), col("span_id").as("err_span_id"),
            col("span_id_r").as("nearest_span_id"),
            (col("start_us_r") - col("start_us")).as("signed_diff_us"))
          .orderBy("err_span_id")
      },
      cte("""
        |, e AS (SELECT trace_id, span_id, start_us FROM spans
        |        WHERE service = 'error'),
        |p AS (SELECT trace_id, span_id AS p_span_id, start_us AS p_start_us
        |      FROM spans WHERE service = 'purchase'),
        |pairs AS (
        |  SELECT e.trace_id, e.span_id AS err_span_id, e.start_us,
        |         p.p_span_id, p.p_start_us,
        |    CASE WHEN p.p_start_us <= e.start_us THEN e.start_us - p.p_start_us
        |         ELSE p.p_start_us - e.start_us END AS adiff,
        |    CASE WHEN p.p_start_us <= e.start_us THEN 0 ELSE 1 END AS dir
        |  FROM e JOIN p ON e.trace_id = p.trace_id)
        |SELECT trace_id, err_span_id, p_span_id AS nearest_span_id,
        |  p_start_us - start_us AS signed_diff_us
        |FROM pairs
        |QUALIFY row_number() OVER (PARTITION BY err_span_id
        |  ORDER BY adiff, dir,
        |    CASE WHEN dir = 0 THEN -p_span_id ELSE p_span_id END) = 1
        |ORDER BY err_span_id""".stripMargin)),

    // Batch sessionization — the A3 gap semantics (30 min quiet splits
    // a trace into sessions) expressed as pure window functions, the
    // form a backfill over stored spans runs (streaming handles the
    // live path). One shuffle by trace_id; the flag + running-sum +
    // final agg all ride the same partitioning, so session assembly
    // adds no exchange beyond the groupBy's. ROWS frames explicit on
    // both engines so the running sum never picks up range-frame peers.
    "trace_sessions_batch" -> QueryDef.sql(
      (s, dir) => {
        val gapUs = 30 * 60 * 1000000L
        val w = Window.partitionBy("trace_id").orderBy("start_us", "span_id")
        val runsum = Window.partitionBy("trace_id").orderBy("start_us", "span_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spans(s, dir).select("trace_id", "span_id", "start_us")
          .withColumn("new_sess",
            when(lag("start_us", 1).over(w).isNull ||
              col("start_us") - lag("start_us", 1).over(w) > gapUs, 1L).otherwise(0L))
          .withColumn("session_idx", sum("new_sess").over(runsum))
          .groupBy("trace_id", "session_idx")
          .agg(count(lit(1)).as("n_spans"),
            min("start_us").as("sess_start_us"), max("start_us").as("sess_end_us"))
        // no trailing global sort: the output is every session at
        // corpus scale and the gate compares row SETS — a total order
        // is not part of the operator (trace_sort_spans is where
        // ordering is the semantics)
      },
      cte(""", flagged AS (
            |  SELECT trace_id, span_id, start_us,
            |    CASE WHEN lag(start_us) OVER w IS NULL
            |           OR start_us - lag(start_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
            |  FROM spans
            |  WINDOW w AS (PARTITION BY trace_id ORDER BY start_us, span_id)),
            |sess AS (
            |  SELECT trace_id, start_us,
            |    SUM(new_sess) OVER (PARTITION BY trace_id ORDER BY start_us, span_id
            |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
            |  FROM flagged)
            |SELECT trace_id, CAST(session_idx AS BIGINT) AS session_idx,
            |  COUNT(*) AS n_spans, MIN(start_us) AS sess_start_us, MAX(start_us) AS sess_end_us
            |FROM sess GROUP BY trace_id, session_idx
            |ORDER BY trace_id, session_idx""".stripMargin)),

    // Keep-latest upsert merge — the span-store compaction path: a
    // correction feed (every 13th span re-emitted with fixed duration,
    // version 1) merges over the base store (version 0) by
    // row_number()=1 per (trace_id, span_id) ordered by version desc.
    // This is how late/duplicate span revisions reconcile at rest: one
    // shuffle by the merge key — and zero when both sides live in the
    // traceId-bucketed layout (BucketedLayout), where the window runs
    // exchange-free per bucket.
    "trace_upsert" -> QueryDef.sql(
      (s, dir) => {
        val base = spans(s, dir)
          .select(col("trace_id"), col("span_id"), col("service"),
            col("duration_us"), lit(0L).as("version"))
        val updates = base.filter(col("span_id") % 13 === 0)
          .select(col("trace_id"), col("span_id"), col("service"),
            (col("duration_us") + 1000L).as("duration_us"), lit(1L).as("version"))
        val w = Window.partitionBy("trace_id", "span_id")
          .orderBy(col("version").desc)
        base.unionAll(updates)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
        // no trailing global sort: the merged snapshot is the whole
        // store — a compaction writes partitioned, never totally
        // ordered (set-compared by the gate)
      },
      cte(""", merged AS (
            |  SELECT trace_id, span_id, service, duration_us, 0 AS version FROM spans
            |  UNION ALL
            |  SELECT trace_id, span_id, service, duration_us + 1000, 1 FROM spans
            |  WHERE span_id % 13 = 0)
            |SELECT trace_id, span_id, service, duration_us, CAST(version AS BIGINT) AS version
            |FROM (SELECT *, row_number() OVER (PARTITION BY trace_id, span_id
            |                                   ORDER BY version DESC) AS rn
            |      FROM merged) t
            |WHERE rn = 1
            |ORDER BY trace_id, span_id""".stripMargin)),

    // Range/interval join, binned scale path (operators/RangeJoin): all
    // spans of a service falling inside that service's incident windows
    // (anchored at every 199th span, 2 h wide). The generic theta form
    // of this predicate has no equi-key and plans as a nested-loop
    // compare; RangeJoin explodes each window into its 1 h buckets and
    // equi-joins on (service, bucket) + residual range filter — one
    // shuffle (or a broadcast of the window side) at any scale.
    // RangeJoinSpec asserts the pair set equals the naive theta join
    // and that the plan is hash/merge, not nested-loop.
    //
    // The window side is a FIXED incident workload: anchors come only
    // from the base id range (span_id < WindowWorkloadMaxId = the
    // driver's largest pack, sf0.1). ScaleUp replicas shift ids past
    // that bound, so derived packs grow the PROBE side only — without
    // the cap the sf10 pack derived 100× windows over the same time
    // range and the pair OUTPUT went quadratic (430 M rows,
    // BASELINE.md sf10 notes). At sf<=0.1 ids are dense 0..N-1 below
    // the bound, so the cap is a no-op and the oracle hash unchanged.
    "q_range_join" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir).select("span_id", "service", "start_us")
        val windows = sp
          .filter(col("span_id") % 199 === 0 &&
            col("span_id") < WindowWorkloadMaxId)
          .select(col("span_id").as("w_id"), col("service"),
            col("start_us").as("w_start"),
            (col("start_us") + lit(2 * HourUs)).as("w_end"))
        graft.operators.RangeJoin
          .pointInInterval(sp, windows, "start_us", "w_start", "w_end",
            keys = Seq("service"), width = HourUs)
          .select(col("w_id"), col("span_id"),
            (col("start_us") - col("w_start")).as("offset_us"))
          .orderBy("w_id", "span_id")
      },
      cte(s"""SELECT w.w_id, p.span_id, p.start_us - w.w_start AS offset_us
             |FROM (SELECT span_id, service, start_us FROM spans) p
             |JOIN (SELECT span_id AS w_id, service, start_us AS w_start,
             |             start_us + ${2 * HourUs} AS w_end
             |      FROM spans
             |      WHERE span_id % 199 = 0 AND span_id < $WindowWorkloadMaxId) w
             |  ON p.service = w.service
             | AND p.start_us >= w.w_start AND p.start_us < w.w_end
             |ORDER BY w_id, span_id""".stripMargin)),

    // Service cardinality rollup on HLL sketches — the 100 TB form of
    // "how many distinct operations/traces per service" (A5's exact
    // distinct is the small-scale anchor): approx_count_distinct keeps
    // a mergeable fixed-size sketch per group, so partials combine
    // map-side and nothing rehashes the raw values at the reducer.
    // Rows-only by the same contract as the t-digest entries — the
    // sketch is approximate; CardinalitySpec bounds its error against
    // the exact counts.
    "trace_service_cardinality" -> QueryDef.rowsOnly(
      (s, dir) => spans(s, dir)
        .groupBy("service")
        .agg(approx_count_distinct("operation").as("approx_operations"),
          approx_count_distinct("trace_id").as("approx_traces"),
          count(lit(1)).as("n_spans"))
        .orderBy("service")),

    // Latency percentiles per service — the haystack-trends-style
    // rollup served from the same span relation. Exact interpolated
    // values, but NOT the buffering `percentile` aggregate:
    // ExactQuantiles.percentilesFromCounts over the map-combined
    // (service, duration)->count relation, so a task holds only a
    // service's bounded distinct-duration histogram, never its full
    // duration list — the same numbers with the per-group buffer
    // removed; percentile_approx (next surface) stays the sketch-based
    // alternative.
    "trace_latency_quantiles" -> QueryDef.sql(
      (s, dir) => graft.operators.ExactQuantiles.percentilesFromCounts(
          spans(s, dir).groupBy("service", "duration_us")
            .agg(count(lit(1)).as("cnt")),
          keys = Seq("service"), value = col("duration_us"),
          weight = col("cnt"),
          pcts = Seq(
            graft.operators.ExactQuantiles.Cont("p50", 1, 2),
            graft.operators.ExactQuantiles.Cont("p95", 19, 20),
            graft.operators.ExactQuantiles.Cont("p99", 99, 100)),
          countOut = Some("n_spans"))
        .select(col("service"),
          round(col("p50"), 6).as("p50"), round(col("p95"), 6).as("p95"),
          round(col("p99"), 6).as("p99"), col("n_spans"))
        .orderBy("service"),
      cte("""SELECT service,
            |  ROUND(quantile_cont(duration_us, 0.5), 6) AS p50,
            |  ROUND(quantile_cont(duration_us, 0.95), 6) AS p95,
            |  ROUND(quantile_cont(duration_us, 0.99), 6) AS p99,
            |  COUNT(*) AS n_spans
            |FROM spans GROUP BY service ORDER BY service""".stripMargin)),

    // Scale path for the percentile rollup: t-digest sketch
    // (percentile_approx) — mergeable, bounded memory, the form that
    // runs at 100 TB; exactness is covered by trace_latency_quantiles.
    // Output is projected to scalar columns (not array<double>) so the
    // driver's pandas row sort can handle it.
    "trace_latency_quantiles_approx" -> QueryDef.rowsOnly(
      (s, dir) => spans(s, dir)
        .groupBy("service")
        .agg(
          expr("percentile_approx(duration_us, array(0.5, 0.95, 0.99), 1000)").as("pcts"),
          count(lit(1)).as("n_spans"))
        .select(col("service"), col("pcts").getItem(0).as("p50"),
          col("pcts").getItem(1).as("p95"), col("pcts").getItem(2).as("p99"),
          col("n_spans"))
        .orderBy("service")),

    // A13: getFieldNames — catalog derived from the whitelist config +
    // the data: intrinsic index-doc fields plus whitelisted fields that
    // indexed at least one value. badnum is configured but never
    // converts, so it must NOT appear — the oracle re-derives presence
    // per field with EXISTS probes over the same span relation.
    "trace_field_names" -> QueryDef.sql(
      (s, dir) => WhitelistIndex.fieldNames(richSpans(s, dir), demoWhitelist).orderBy("field"),
      cte("""SELECT field FROM (
            |  SELECT unnest(['duration','operation','service','starttime','traceid']) AS field
            |  UNION
            |  SELECT 'kval' WHERE EXISTS (SELECT 1 FROM spans
            |    WHERE TRY_CAST(json_extract_string(tags, '$.k') AS BIGINT) IS NOT NULL)
            |  UNION
            |  SELECT 'iserror' WHERE EXISTS (SELECT 1 FROM spans
            |    WHERE TRY_CAST(CAST(service = 'error' AS VARCHAR) AS BOOLEAN) IS NOT NULL)
            |  UNION
            |  SELECT 'score' WHERE EXISTS (SELECT 1 FROM spans
            |    WHERE TRY_CAST(CAST(duration_us / 1000.0 AS VARCHAR) AS DOUBLE) IS NOT NULL)
            |  UNION
            |  SELECT 'region' WHERE EXISTS (SELECT 1 FROM spans
            |    WHERE upper(substr(service, 1, 3)) IS NOT NULL)
            |  UNION
            |  SELECT 'badnum' WHERE EXISTS (SELECT 1 FROM spans
            |    WHERE TRY_CAST(upper(substr(service, 1, 3)) AS BIGINT) IS NOT NULL)
            |) t ORDER BY field""".stripMargin)),

    // A14: getFieldValues — filtered distinct values of an indexed field
    "trace_field_values" -> QueryDef.sql(
      (s, dir) => SpanOps.fieldValues(spans(s, dir), "service",
        col("start_us").between(T0, T0 + 14 * DayUs)).orderBy("value"),
      cte(s"""SELECT DISTINCT service AS value FROM spans
             |WHERE start_us BETWEEN $T0 AND ${T0 + 14 * DayUs} ORDER BY value""".stripMargin)),

    // A14 fast path (reader ServiceMetadataQueryGenerator.scala:30):
    // when the requested field is serviceName/operationName, the
    // reference answers from the service-metadata index instead of
    // searching spans. Spark analogue: the (service, operation)
    // catalog is materialized ONCE (the ingest side maintains it —
    // here written per (JVM, sf dir) like the z-order layout), and the
    // query reads only that tiny relation — the plan never scans the
    // span source (asserted in QueryPlanShapeSpec). Same answers as
    // the span-scanning trace_field_values by construction.
    "trace_field_values_meta" -> QueryDef.sql(
      (s, dir) => {
        val catalog = SpanOps.serviceOperationCatalog(spans(s, dir))
        val outDir = Scratch.once("graft_svc_catalog_", dir) { d =>
          catalog.coalesce(1).write.mode("overwrite").parquet(d)
        }
        // under the written frame's schema: no footer-inference job
        SpanOps.fieldValuesFromCatalog(
          s.read.schema(catalog.schema).parquet(outDir), "operation", col("service") === "purchase")
          .orderBy("value")
      },
      cte("""SELECT DISTINCT operation AS value FROM spans
            |WHERE service = 'purchase' ORDER BY value""".stripMargin)),

    // A16: per-trace validation (traceId/root/parent validators)
    "trace_validate" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir)
        val parents = sp.select(col("trace_id").as("p_trace_id"), col("span_id").as("p_span_id"))
        sp.join(parents,
          col("trace_id") === col("p_trace_id") && col("parent_span_id") === col("p_span_id"),
          "left")
          .groupBy("trace_id")
          .agg(
            count(lit(1)).as("span_count"),
            sum(when(col("parent_span_id").isNull, 1L).otherwise(0L)).as("n_roots"),
            sum(when(col("parent_span_id").isNotNull && col("p_span_id").isNull, 1L).otherwise(0L))
              .as("n_unresolved"))
          .orderBy("trace_id")
      },
      cte("""SELECT s.trace_id, COUNT(*) AS span_count,
            |  CAST(SUM(CASE WHEN s.parent_span_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_roots,
            |  CAST(SUM(CASE WHEN s.parent_span_id IS NOT NULL AND p.span_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unresolved
            |FROM spans s LEFT JOIN spans p
            |  ON s.trace_id = p.trace_id AND s.parent_span_id = p.span_id
            |GROUP BY s.trace_id ORDER BY s.trace_id""".stripMargin)),

    // A17: span de-duplication (doubled stream → exact dedup)
    "trace_dedup_spans" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir).select("trace_id", "span_id", "service", "start_us")
        sp.union(sp)
          .groupBy("trace_id", "span_id", "service", "start_us")
          .agg(count(lit(1)).as("n_copies"))
          .orderBy("trace_id", "span_id").limit(200)
      },
      cte("""SELECT trace_id, span_id, service, start_us, COUNT(*) AS n_copies
            |FROM (SELECT trace_id, span_id, service, start_us FROM spans
            |      UNION ALL
            |      SELECT trace_id, span_id, service, start_us FROM spans) t
            |GROUP BY trace_id, span_id, service, start_us
            |ORDER BY trace_id, span_id LIMIT 200""".stripMargin)),

    // A21: root-first span ordering within a trace
    "trace_sort_spans" -> QueryDef.sql(
      (s, dir) => spans(s, dir).filter(col("trace_id") === "7")
        .select("trace_id", "span_id", "parent_span_id", "start_us")
        .orderBy(col("parent_span_id").isNotNull, col("start_us"), col("span_id")),
      cte("""SELECT trace_id, span_id, parent_span_id, start_us FROM spans WHERE trace_id = '7'
            |ORDER BY (parent_span_id IS NOT NULL), start_us, span_id""".stripMargin)),

    // A15: call graph over processed traces. Input tags are dropped
    // before the per-trace stage: call-graph edges read only the aux
    // tags the merge step itself creates, so parsing the ingest JSON
    // here would be pure overhead.
    //
    // ORACLE-EXACT: on a chain-shaped trace (each span's parent is the
    // previous event) ServerClientSpanMergeTransformer's top-down
    // collapse reduces to a GREEDY adjacent-pair scan — walk the chain
    // from the root; at position i, the (i, i+1) pair merges iff
    // services differ AND kinds differ (span_id parity here); a merged
    // pair consumes both positions, so the scan resumes at i+2. That
    // scan is a recursive CTE in DuckDB (state = current position +
    // whether it merged), so the whole user-facing surface — edge set,
    // call counts, exact network-delta sums — is hash-checked; the
    // tree-shaped merge corner cases (multi-child, producer/consumer
    // kinds, already-merged guards) stay in TraceTransformsSpec.
    "trace_call_graph" -> QueryDef.sql(
      (s, dir) => TraceDataset.callGraphEdges(
        TraceDataset.toSpanDataset(
          spans(s, dir)
            .withColumn("kind", when(col("span_id") % 2 === 0, "client").otherwise("server"))
            .withColumn("tags", lit(null).cast("string"))))
        .orderBy("fromService", "fromOperation", "toService", "toOperation"),
      """WITH RECURSIVE chain AS (
        |  SELECT CAST(user_id AS VARCHAR) AS trace_id,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
        |         event_id AS span_id,
        |         event_type AS service,
        |         'op_' || CAST(CAST(json_extract(props, '$.k') AS INT) % 5 AS VARCHAR) AS operation,
        |         CAST(ROUND(value * 1000, 0) AS BIGINT) AS duration_us
        |  FROM events
        |),
        |scan AS (
        |  SELECT c.trace_id, c.pos,
        |         CASE WHEN n.pos IS NOT NULL AND n.service <> c.service
        |                   AND (c.span_id % 2) <> (n.span_id % 2)
        |              THEN 1 ELSE 0 END AS merged
        |  FROM chain c LEFT JOIN chain n
        |    ON n.trace_id = c.trace_id AND n.pos = c.pos + 1
        |  WHERE c.pos = 1
        |  UNION ALL
        |  SELECT c.trace_id, c.pos,
        |         CASE WHEN n.pos IS NOT NULL AND n.service <> c.service
        |                   AND (c.span_id % 2) <> (n.span_id % 2)
        |              THEN 1 ELSE 0 END
        |  FROM scan s
        |  JOIN chain c ON c.trace_id = s.trace_id
        |    AND c.pos = s.pos + (CASE WHEN s.merged = 1 THEN 2 ELSE 1 END)
        |  LEFT JOIN chain n ON n.trace_id = c.trace_id AND n.pos = c.pos + 1
        |),
        |edges AS (
        |  SELECT c.service AS from_service, c.operation AS from_operation,
        |         n.service AS to_service, n.operation AS to_operation,
        |         CASE WHEN n.duration_us < c.duration_us
        |              THEN c.duration_us - n.duration_us ELSE -1 END AS delta
        |  FROM scan s
        |  JOIN chain c ON c.trace_id = s.trace_id AND c.pos = s.pos
        |  JOIN chain n ON n.trace_id = s.trace_id AND n.pos = s.pos + 1
        |  WHERE s.merged = 1
        |)
        |SELECT from_service AS "fromService", from_operation AS "fromOperation",
        |       to_service AS "toService", to_operation AS "toOperation",
        |       COUNT(*) AS n_calls,
        |       CAST(SUM(CASE WHEN delta >= 0 THEN delta END) AS BIGINT) AS sum_network_delta_us,
        |       COUNT(CASE WHEN delta >= 0 THEN 1 END) AS n_measured
        |FROM edges
        |GROUP BY 1, 2, 3, 4
        |ORDER BY 1, 2, 3, 4""".stripMargin),

    // A18–A20 composite: full reference read pipeline over every trace
    // (readers/TraceProcessor.scala:34-41), DRIVER-CHECKED via a
    // deterministic-fields projection. On the chain-shaped demo
    // relation the tree pipeline reduces to a linear scan the oracle
    // replays exactly (the r3 trace_call_graph precedent): a parent
    // with a single different-service child merges into one span
    // (spanId/start/duration of the server=child, kind 'merged'),
    // the walk then skips past the pair; a merged span whose aux
    // event times are out of order carries clock skew
    // delta = sr - (cd-sd)/2 - cs, shifting itself and its same-
    // service direct child. Per trace the projection emits span
    // count, merged count, root span id, and the sums of the
    // post-pipeline start/duration — so the hash pins the dedup,
    // merge, skew-shift, and root-identity stages bit-exactly.
    // Scale shape: ONE traceId shuffle, then partition-local trees.
    "trace_processed" -> QueryDef.sql(
      (s, dir) => {
        val processed = TraceDataset.processedSpans(
          TraceDataset.toSpanDataset(spans(s, dir).withColumn("kind", lit(""))))
        processed.groupBy(col("traceId").as("trace_id"))
          .agg(count(lit(1)).as("n_spans"),
            sum(when(col("kind") === "merged", 1L).otherwise(0L)).as("n_merged"),
            min(when(col("parentSpanId") === "", col("spanId"))).as("root_span_id"),
            sum("startUs").as("sum_start_us"),
            sum("durationUs").as("sum_duration_us"))
          .orderBy("trace_id")
      },
      """WITH RECURSIVE chain AS (
        |  SELECT CAST(user_id AS VARCHAR) AS trace_id,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
        |         event_id AS span_id, event_type AS service,
        |         epoch_us(ts) AS start_us,
        |         CAST(ROUND(value * 1000, 0) AS BIGINT) AS duration_us
        |  FROM events),
        |mg AS (
        |  -- per position: does a client/server merge start here, and if
        |  -- so the merged node's fields and (nullable) clock-skew delta
        |  SELECT c.trace_id, c.pos,
        |         CASE WHEN n.pos IS NOT NULL AND n.service <> c.service
        |              THEN 1 ELSE 0 END AS merged,
        |         CASE WHEN n.pos IS NOT NULL AND n.service <> c.service
        |              THEN CAST(n.span_id AS VARCHAR)
        |              ELSE CAST(c.span_id AS VARCHAR) END AS espan,
        |         CASE WHEN n.pos IS NOT NULL AND n.service <> c.service
        |              THEN n.service ELSE c.service END AS esvc,
        |         CASE WHEN n.pos IS NOT NULL AND n.service <> c.service
        |              THEN n.start_us ELSE c.start_us END AS ebase,
        |         CASE WHEN n.pos IS NOT NULL AND n.service <> c.service
        |              THEN n.duration_us ELSE c.duration_us END AS edur,
        |         CASE WHEN n.pos IS NOT NULL AND n.service <> c.service
        |                   AND NOT (n.duration_us > c.duration_us
        |                            OR (c.start_us < n.start_us
        |                                AND c.start_us + c.duration_us
        |                                    > n.start_us + n.duration_us))
        |              THEN NULLIF(n.start_us
        |                          - (c.duration_us - n.duration_us) // 2
        |                          - c.start_us, 0)
        |         END AS delta
        |  FROM chain c LEFT JOIN chain n
        |    ON n.trace_id = c.trace_id AND n.pos = c.pos + 1),
        |scan AS (
        |  SELECT trace_id, pos, merged, espan, esvc, edur,
        |         ebase - COALESCE(delta, 0) AS estart, delta AS prev_delta
        |  FROM mg WHERE pos = 1
        |  UNION ALL
        |  SELECT m.trace_id, m.pos, m.merged, m.espan, m.esvc, m.edur,
        |         m.ebase
        |           - CASE WHEN s.prev_delta IS NOT NULL AND m.esvc = s.esvc
        |                  THEN s.prev_delta ELSE 0 END
        |           - COALESCE(m.delta, 0),
        |         m.delta
        |  FROM scan s JOIN mg m
        |    ON m.trace_id = s.trace_id
        |   AND m.pos = s.pos + (CASE WHEN s.merged = 1 THEN 2 ELSE 1 END))
        |SELECT trace_id, COUNT(*) AS n_spans,
        |  CAST(SUM(merged) AS BIGINT) AS n_merged,
        |  MIN(CASE WHEN pos = 1 THEN espan END) AS root_span_id,
        |  CAST(SUM(estart) AS BIGINT) AS sum_start_us,
        |  CAST(SUM(edur) AS BIGINT) AS sum_duration_us
        |FROM scan GROUP BY trace_id ORDER BY trace_id""".stripMargin),

    // Repairing variant (InvalidRoot/InvalidParent/Orphaned enabled),
    // DRIVER-CHECKED: the demo traces are well-formed, so the surface
    // IMPOSES a deterministic breakage — the span at pos n div 2 + 1
    // loses its parent — giving every n>=2 trace two roots. The
    // repair path then must synthesize the auto-generated root
    // (InvalidRootTransformer's many-roots arm: id traceId +
    // '-autogen-root', start = earliest head start, duration = max
    // head end - that) and re-parent both segment heads under it,
    // after which the merge/skew pipeline runs per segment. The
    // oracle re-derives all of it: the same projection as
    // trace_processed over a two-segment scan plus the autogen row's
    // closed-form fields — so the hash pins the repair arithmetic,
    // not just row counts.
    "trace_repaired" -> QueryDef.sql(
      (s, dir) => {
        val w = Window.partitionBy("trace_id").orderBy("start_us", "span_id")
        val broken = spans(s, dir).withColumn("kind", lit(""))
          .withColumn("pos", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("trace_id")))
          .withColumn("parent_span_id",
            when(col("n") >= 2 && col("pos") === expr("n div 2 + 1"),
              lit(null).cast("long")).otherwise(col("parent_span_id")))
          .drop("pos", "n")
        TraceDataset.transformTraces(TraceDataset.toSpanDataset(broken))(
            graft.trace.TraceTransforms.repairingPipeline)
          .groupBy(col("traceId").as("trace_id"))
          .agg(count(lit(1)).as("n_spans"),
            sum(when(col("kind") === "merged", 1L).otherwise(0L)).as("n_merged"),
            min(when(col("parentSpanId") === "", col("spanId"))).as("root_span_id"),
            sum("startUs").as("sum_start_us"),
            sum("durationUs").as("sum_duration_us"))
          .orderBy("trace_id")
      },
      """WITH RECURSIVE chain0 AS (
        |  SELECT CAST(user_id AS VARCHAR) AS trace_id,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
        |         COUNT(*) OVER (PARTITION BY user_id) AS n,
        |         event_id AS span_id, event_type AS service,
        |         epoch_us(ts) AS start_us,
        |         CAST(ROUND(value * 1000, 0) AS BIGINT) AS duration_us
        |  FROM events),
        |chain AS (
        |  SELECT *, n // 2 + 1 AS mid,
        |         CASE WHEN n >= 2 AND pos >= n // 2 + 1 THEN 2 ELSE 1 END AS seg
        |  FROM chain0),
        |mg AS (
        |  SELECT c.trace_id, c.pos, c.seg, c.mid, c.n,
        |         CASE WHEN n2.pos IS NOT NULL AND n2.service <> c.service
        |              THEN 1 ELSE 0 END AS merged,
        |         CASE WHEN n2.pos IS NOT NULL AND n2.service <> c.service
        |              THEN CAST(n2.span_id AS VARCHAR)
        |              ELSE CAST(c.span_id AS VARCHAR) END AS espan,
        |         CASE WHEN n2.pos IS NOT NULL AND n2.service <> c.service
        |              THEN n2.service ELSE c.service END AS esvc,
        |         CASE WHEN n2.pos IS NOT NULL AND n2.service <> c.service
        |              THEN n2.start_us ELSE c.start_us END AS ebase,
        |         CASE WHEN n2.pos IS NOT NULL AND n2.service <> c.service
        |              THEN n2.duration_us ELSE c.duration_us END AS edur,
        |         CASE WHEN n2.pos IS NOT NULL AND n2.service <> c.service
        |                   AND NOT (n2.duration_us > c.duration_us
        |                            OR (c.start_us < n2.start_us
        |                                AND c.start_us + c.duration_us
        |                                    > n2.start_us + n2.duration_us))
        |              THEN NULLIF(n2.start_us
        |                          - (c.duration_us - n2.duration_us) // 2
        |                          - c.start_us, 0)
        |         END AS delta
        |  FROM chain c LEFT JOIN chain n2
        |    ON n2.trace_id = c.trace_id AND n2.pos = c.pos + 1
        |   AND n2.seg = c.seg),
        |scan AS (
        |  SELECT trace_id, pos, seg, merged, espan, esvc, edur,
        |         ebase - COALESCE(delta, 0) AS estart, delta AS prev_delta
        |  FROM mg WHERE pos = 1 OR pos = mid
        |  UNION ALL
        |  SELECT m.trace_id, m.pos, m.seg, m.merged, m.espan, m.esvc, m.edur,
        |         m.ebase
        |           - CASE WHEN s.prev_delta IS NOT NULL AND m.esvc = s.esvc
        |                  THEN s.prev_delta ELSE 0 END
        |           - COALESCE(m.delta, 0),
        |         m.delta
        |  FROM scan s JOIN mg m
        |    ON m.trace_id = s.trace_id AND m.seg = s.seg
        |   AND m.pos = s.pos + (CASE WHEN s.merged = 1 THEN 2 ELSE 1 END)),
        |segagg AS (
        |  SELECT trace_id, COUNT(*) AS cnt, SUM(merged) AS mrg,
        |         SUM(estart) AS st, SUM(edur) AS du
        |  FROM scan GROUP BY 1),
        |meta AS (
        |  SELECT trace_id, MAX(n) AS n, MIN(start_us) AS min_start,
        |         MAX(CASE WHEN pos = 1 OR pos = mid
        |                  THEN start_us + duration_us END) AS max_head_end,
        |         MIN(CASE WHEN pos = 1 THEN CAST(span_id AS VARCHAR) END)
        |           AS first_span
        |  FROM chain GROUP BY 1)
        |SELECT m.trace_id,
        |  CAST(s.cnt + CASE WHEN m.n >= 2 THEN 1 ELSE 0 END AS BIGINT) AS n_spans,
        |  CAST(s.mrg AS BIGINT) AS n_merged,
        |  CASE WHEN m.n >= 2 THEN m.trace_id || '-autogen-root'
        |       ELSE m.first_span END AS root_span_id,
        |  CAST(s.st + CASE WHEN m.n >= 2 THEN m.min_start ELSE 0 END AS BIGINT)
        |    AS sum_start_us,
        |  CAST(s.du + CASE WHEN m.n >= 2 THEN m.max_head_end - m.min_start
        |              ELSE 0 END AS BIGINT) AS sum_duration_us
        |FROM segagg s JOIN meta m ON s.trace_id = m.trace_id
        |ORDER BY m.trace_id""".stripMargin),

    // Skew-safe aggregation: salted two-phase result must equal the plain
    // groupBy — which is exactly what the oracle computes
    "q_salted_agg" -> QueryDef.sql(
      (s, dir) => graft.operators.SkewOps.saltedAggregate(
        Tables.events(s, dir), col("event_type"),
        col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)), salts = 16)
        .select(col("k"), col("n"),
          col("total").cast(org.apache.spark.sql.types.DecimalType(38, 2)).cast("double").as("total"))
        .orderBy("k"),
      """SELECT event_type AS k, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total
        |FROM events GROUP BY event_type ORDER BY k""".stripMargin),

    // B12 hash-green codec surface: render REAL PNGs whose geometry
    // and fill color are pure arithmetic in doc_id, decode them with
    // the real JDK ImageIO codec, and emit the decoded numbers — the
    // DuckDB oracle computes the same numbers arithmetically, so the
    // driver's hash proves decode(encode(img)) recovers exactly the
    // planted dimensions and pixels (PNG is lossless) for every row.
    // The demo corpus is capped at 20k images (4× the sf0.1 corpus —
    // all dev scales unaffected): per-row javax.imageio encode+decode
    // measured 161 µs/image, so the UNCAPPED sf100 run spent 805 s
    // (19% of the whole pack) re-proving the same codec 5M times. A
    // production pipeline decodes once at ingest with native codecs;
    // the engine surface exists to prove the batch plumbing and codec
    // round-trip, both fully exercised at 20k.
    "media_image_decode" -> QueryDef.sql(
      (s, dir) => graft.operators.MultimodalOps.decodeImageStats(
        graft.operators.MultimodalOps.syntheticImages(
          Tables.documents(s, dir).filter(col("doc_id") < 20000)))
        .orderBy("media_id"),
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CAST(16 + doc_id % 32 AS BIGINT) AS width,
        |  CAST(16 + (doc_id * 7) % 32 AS BIGINT) AS height,
        |  CAST(doc_id % 256 AS BIGINT) AS r,
        |  CAST((doc_id * 3) % 256 AS BIGINT) AS g,
        |  CAST((doc_id * 7) % 256 AS BIGINT) AS b
        |FROM documents WHERE doc_id < 20000 ORDER BY media_id""".stripMargin),

    // B53: real audio decode — RIFF/WAVE PCM16 payloads generated by
    // arithmetic in doc_id (MultimodalOps.renderWav — a genuine wire
    // format any WAV reader accepts), parsed back by the strict codec
    // (MultimodalOps.decodeWav) and rolled into exact integer clip
    // stats. The oracle re-derives every stat from the generator
    // formula, so the hash match proves the byte-level encode→decode
    // round trip AND the stats arithmetic. Payloads are rendered and
    // consumed partition-locally (never shuffled); same 20k demo cap
    // as media_image_decode.
    "media_audio_decode" -> QueryDef.sql(
      (s, dir) => graft.operators.MultimodalOps.decodeAudioStats(
        graft.operators.MultimodalOps.syntheticAudio(
          Tables.documents(s, dir).filter(col("doc_id") < 20000)))
        .orderBy("media_id"),
      """WITH d AS (SELECT doc_id, 4000 + doc_id % 1000 AS n
        |           FROM documents WHERE doc_id < 20000),
        |v AS (SELECT doc_id, n,
        |        (doc_id * 31 + s.i * 7919) % 65536 - 32768 AS v
        |      FROM (SELECT doc_id, n, unnest(range(0, n)) AS i FROM d) s(doc_id, n, i))
        |SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(16000 AS BIGINT) AS sample_rate_hz,
        |  CAST(n * 1000 // 16000 AS BIGINT) AS duration_ms,
        |  CAST(SUM(v * v) AS BIGINT) AS sum_sq,
        |  CAST(MAX(ABS(v)) AS BIGINT) AS peak
        |FROM v GROUP BY doc_id, n ORDER BY media_id""".stripMargin),

    // B76: voice-activity detection over the decoded WAV clips — the
    // speech-preprocessing step in front of ASR/quality pipelines:
    // 160-sample (10 ms @ 16 kHz) frames, a frame is active iff its
    // exact integer energy exceeds the fixed threshold (57.3e9 ≈ the
    // synthetic corpus's median frame energy, so activity genuinely
    // splits), segments = maximal active runs. Decode + segmentation
    // are partition-local; the oracle re-derives frames from the
    // sample-generator formula and finds runs with the gaps-and-
    // islands rank trick, so the hash proves the framing arithmetic.
    "media_audio_vad" -> QueryDef.sql(
      (s, dir) => graft.operators.MultimodalOps.vadStats(
        graft.operators.MultimodalOps.syntheticAudio(
          Tables.documents(s, dir).filter(col("doc_id") < 20000)),
        frameLen = 160, threshold = 57300000000L).orderBy("media_id"),
      """WITH d AS (SELECT doc_id, 4000 + doc_id % 1000 AS n
        |           FROM documents WHERE doc_id < 20000),
        |v AS (SELECT doc_id,
        |        (doc_id * 31 + s.i * 7919) % 65536 - 32768 AS v,
        |        s.i // 160 AS f
        |      FROM (SELECT doc_id, n, unnest(range(0, (n // 160) * 160)) AS i
        |            FROM d) s(doc_id, n, i)),
        |fe AS (SELECT doc_id, f, SUM(v * v) AS e FROM v GROUP BY 1, 2),
        |fa AS (SELECT doc_id, f, (e > 57300000000) AS a FROM fe),
        |isl AS (SELECT doc_id, f, a,
        |          f - row_number() OVER (PARTITION BY doc_id, a ORDER BY f) AS g
        |        FROM fa),
        |runs AS (SELECT doc_id, g, COUNT(*) AS len FROM isl WHERE a GROUP BY 1, 2),
        |agg AS (SELECT doc_id,
        |          CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS active_frames
        |        FROM fa GROUP BY 1),
        |rs AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
        |         CAST(MAX(len) AS BIGINT) AS longest_run
        |       FROM runs GROUP BY 1)
        |SELECT CAST(d.doc_id AS BIGINT) AS media_id,
        |  CAST(d.n // 160 AS BIGINT) AS n_frames,
        |  COALESCE(active_frames, 0) AS active_frames,
        |  COALESCE(n_segments, 0) AS n_segments,
        |  COALESCE(longest_run, 0) AS longest_run,
        |  COALESCE(active_frames, 0) * 1000000 // (d.n // 160) AS active_ppm
        |FROM d LEFT JOIN agg USING (doc_id) LEFT JOIN rs USING (doc_id)
        |ORDER BY media_id""".stripMargin),

    // B79: perceptual-hash image near-dup — dHash over REAL patterned
    // PNGs: 9×8 grayscale grids rendered from (doc_id div 6, doc_id
    // mod 6) arithmetic, decoded back through the codec, 64
    // adjacent-compare bits packed into a decimal string. Brightness
    // shifts every pixel equally, so the 6 brightness variants of one
    // seed are byte-DIFFERENT files with the SAME dHash — exactly the
    // near-dup class a perceptual hash exists to catch; seeds repeat
    // mod 199, so byte-identical files across id ranges fold in too
    // (n_distinct_payloads counts them via md5, and the oracle
    // re-derives that count from (seed mod 199, brightness) identity —
    // hashing the whole render→encode→decode→hash chain). Render +
    // hash are partition-local; one dhash-keyed shuffle.
    "media_image_dhash" -> QueryDef.sql(
      (s, dir) => {
        val imgs = graft.operators.MultimodalOps.syntheticPatternImages(
          Tables.documents(s, dir).filter(col("doc_id") < 20000))
          .localCheckpoint()
        val dh = graft.operators.MultimodalOps.dHash(imgs)
        val pm = imgs.select(col("media_id").as("pm_id"),
          md5(col("payload")).as("pmd5"))
        dh.join(pm, col("media_id") === col("pm_id"))
          .groupBy("dhash")
          .agg(count(lit(1)).as("n_images"),
            min(col("media_id")).as("keep_id"),
            countDistinct(col("pmd5")).as("n_distinct_payloads"))
          .orderBy("dhash")
      },
      """WITH d AS (SELECT doc_id, doc_id // 6 AS seed, doc_id % 6 AS br
        |           FROM documents WHERE doc_id < 20000),
        |bits AS (
        |  SELECT doc_id, seed, br, s.y * 8 + s.x AS i,
        |    CASE WHEN
        |      ((((seed*31 + (s.x+1)*17 + s.y*29) % 199)
        |        * ((seed*31 + (s.x+1)*17 + s.y*29) % 199)) % 199) % 128
        |      >
        |      ((((seed*31 + s.x*17 + s.y*29) % 199)
        |        * ((seed*31 + s.x*17 + s.y*29) % 199)) % 199) % 128
        |    THEN 1 ELSE 0 END AS b
        |  FROM d, (SELECT t1.x, t2.y
        |           FROM (SELECT unnest(range(0, 8)) AS x) t1,
        |                (SELECT unnest(range(0, 8)) AS y) t2) s),
        |dh AS (
        |  SELECT doc_id, seed, br,
        |    CAST(SUM(CASE WHEN i < 32 THEN CAST(b AS BIGINT) << CAST(i AS INT) ELSE 0 END) AS HUGEINT)
        |    + CAST(SUM(CASE WHEN i >= 32 THEN CAST(b AS BIGINT) << CAST(i - 32 AS INT) ELSE 0 END) AS HUGEINT)
        |      * 4294967296 AS dhv
        |  FROM bits GROUP BY 1, 2, 3)
        |SELECT CAST(dhv AS VARCHAR) AS dhash, COUNT(*) AS n_images,
        |  MIN(doc_id) AS keep_id,
        |  CAST(COUNT(DISTINCT (seed % 199) * 10 + br) AS BIGINT)
        |    AS n_distinct_payloads
        |FROM dh GROUP BY 1 ORDER BY 1""".stripMargin),

    // B66: real video container decode + frame sampling — YUV4MPEG2
    // (Y4M) payloads generated by arithmetic in doc_id
    // (MultimodalOps.renderY4m — the standard uncompressed video
    // container, public and byte-verifiable), parsed back by the
    // strict parser (MultimodalOps.decodeY4m: header tokens, FRAME
    // markers, fixed 4:2:0 plane geometry), every 2nd frame sampled
    // (the uniform temporal stride a feature extractor uses), and
    // exact integer luma stats emitted. The oracle re-derives every
    // stat from the generator formula, so the hash proves the
    // container byte math — header length, marker offsets, plane
    // strides — not just the plumbing. Payloads render and decode
    // partition-locally (never shuffled); same 20k demo cap as the
    // image/audio legs.
    "media_video_frames" -> QueryDef.sql(
      (s, dir) => graft.operators.MultimodalOps.decodeVideoStats(
        graft.operators.MultimodalOps.syntheticVideo(
          Tables.documents(s, dir).filter(col("doc_id") < 20000)))
        .orderBy("media_id"),
      """WITH d AS (SELECT doc_id, 8 + doc_id % 5 AS n
        |           FROM documents WHERE doc_id < 20000),
        |y AS (SELECT doc_id, n, (doc_id * 13 + s.f * 101 + s.i * 7) % 256 AS v
        |      FROM (SELECT doc_id, n, ff.f, ii.i
        |            FROM d, unnest(range(0, n)) ff(f), unnest(range(0, 256)) ii(i)
        |            WHERE ff.f % 2 = 0) s(doc_id, n, f, i))
        |SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
        |  CAST(n AS BIGINT) AS n_frames,
        |  CAST(n * 1000 // 25 AS BIGINT) AS duration_ms,
        |  CAST((n + 1) // 2 AS BIGINT) AS n_sampled,
        |  CAST(SUM(v) AS BIGINT) AS y_sum,
        |  CAST(MAX(v) AS BIGINT) AS y_peak
        |FROM y GROUP BY doc_id, n ORDER BY media_id""".stripMargin),

    // B12 surface, DRIVER-CHECKED since r9: multimodal feature
    // extraction over a MIXED corpus of real wire formats (PNG / WAV /
    // Y4M by doc_id mod 3, every decoded number pure arithmetic in
    // doc_id), type-dispatched to the real codecs
    // (MultimodalOps.decodeMediaFeatures). The oracle re-derives
    // width/height/duration/units per modality from the generator
    // formulas, so the hash proves the per-type dispatch AND each
    // codec round trip in one surface. Payloads render and decode
    // partition-locally (never shuffled); same 20k demo cap as
    // media_image_decode (161 us/image measured justification). The
    // tolerant stub path (decodeFeatures over arbitrary bytes) stays
    // spec-covered in MultimodalOpsSpec.
    "media_features" -> QueryDef.sql(
      (s, dir) => graft.operators.MultimodalOps.decodeMediaFeatures(
        graft.operators.MultimodalOps.syntheticMixedMedia(
          Tables.documents(s, dir).filter(col("doc_id") < 20000)))
        .orderBy("media_id"),
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |       ELSE 'video' END AS media_type,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 16 + doc_id % 32
        |       WHEN 1 THEN 0 ELSE 16 END AS BIGINT) AS width,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 16 + (doc_id * 7) % 32
        |       WHEN 1 THEN 0 ELSE 16 END AS BIGINT) AS height,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 0
        |       WHEN 1 THEN (4000 + doc_id % 1000) * 1000 // 16000
        |       ELSE (8 + doc_id % 5) * 1000 // 25 END AS BIGINT) AS duration_ms,
        |  CAST(CASE doc_id % 3
        |       WHEN 0 THEN (16 + doc_id % 32) * (16 + (doc_id * 7) % 32)
        |       WHEN 1 THEN 4000 + doc_id % 1000
        |       ELSE 8 + doc_id % 5 END AS BIGINT) AS n_units
        |FROM documents WHERE doc_id < 20000 ORDER BY media_id""".stripMargin),

    // B12 surface, DRIVER-CHECKED since r9: aspect-preserving image
    // resize through the REAL resample path (Graphics2D bilinear draw
    // + PNG re-encode), then a REAL re-decode of the resized payload.
    // Source PNGs are solid-color with arithmetic dims (the
    // media_image_decode generator), so the oracle re-derives the
    // fit-scaled output dims (floor(d * min(1, 24/w, 24/h)) — the
    // identical IEEE expression on both engines) and the preserved
    // fill color (bilinear resample of a constant image is that
    // constant) — the hash proves decode -> resample -> re-encode ->
    // decode end to end. Payloads stay partition-local; same 20k cap.
    "media_resized" -> QueryDef.sql(
      (s, dir) => graft.operators.MultimodalOps.decodeImageStats(
        graft.operators.MultimodalOps.resizeImages(
          graft.operators.MultimodalOps.syntheticImages(
            Tables.documents(s, dir).filter(col("doc_id") < 20000))
            .withColumn("media_type", lit("image"))
            .withColumn("source", lit("syn")),
          maxW = 24, maxH = 24)
          .select(col("media_id"), col("payload")))
        .orderBy("media_id"),
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(16 + doc_id % 32 AS DOUBLE) AS w,
        |         CAST(16 + (doc_id * 7) % 32 AS DOUBLE) AS h
        |  FROM documents WHERE doc_id < 20000)
        |SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CAST(FLOOR(w * LEAST(1.0, 24.0 / w, 24.0 / h)) AS BIGINT) AS width,
        |  CAST(FLOOR(h * LEAST(1.0, 24.0 / w, 24.0 / h)) AS BIGINT) AS height,
        |  CAST(doc_id % 256 AS BIGINT) AS r,
        |  CAST((doc_id * 3) % 256 AS BIGINT) AS g,
        |  CAST((doc_id * 7) % 256 AS BIGINT) AS b
        |FROM d ORDER BY media_id""".stripMargin),

    // Span-tree depth (graft.operators.TreeOps.spanDepths): the
    // per-trace memoized walk, the reference's TraceReader.buildTree
    // shape — parent links stay inside the trace, so each trace's tree
    // resolves on its own (measured 1060 → ~60 s at sf100 against the
    // earlier pointer-quadrupling rounds, whose per-round corpus-wide
    // checkpoints were all I/O). The oracle is a genuine recursive
    // traversal (WITH RECURSIVE over the parent edges), so the hash
    // match proves the walk lands on the true edge distance for every
    // span.
    "trace_depth" -> QueryDef.sql(
      // no trailing global sort: one depth row per span at corpus
      // scale, set-compared by the gate — ordering all spans would be
      // the plan's single most expensive exchange
      (s, dir) => graft.operators.TreeOps.spanDepths(spans(s, dir),
        // traceContiguous: the events->spans window co-locates and
        // block-orders each trace, so the walk runs exchange-free
        traceContiguous = true),
      // RECURSIVE must be declared on the whole WITH list in DuckDB,
      // so this oracle rewrites the shared spans prefix instead of
      // using cte().
      // anchors mirror spanDepths' boundary semantics exactly: roots
      // (null parent) at depth 0 AND orphans (parent id absent from
      // the input — routine when spans are dropped/sampled) at depth 1,
      // so the oracle stays faithful even if a future data round
      // breaks the generator's every-parent-exists invariant. (Cycles
      // remain out of scope for both: spanDepths throws, the CTE would
      // not terminate.)
      cte("""
        |, d AS (
        |  SELECT trace_id, span_id, 0 AS depth FROM spans WHERE parent_span_id IS NULL
        |  UNION ALL
        |  SELECT trace_id, span_id, 1 AS depth FROM spans s
        |  WHERE parent_span_id IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM spans p WHERE p.span_id = s.parent_span_id)
        |  UNION ALL
        |  SELECT s.trace_id, s.span_id, d.depth + 1
        |  FROM spans s JOIN d ON s.parent_span_id = d.span_id)
        |SELECT trace_id, span_id, CAST(depth AS BIGINT) AS depth
        |FROM d ORDER BY span_id""".stripMargin)
        .replaceFirst("WITH ", "WITH RECURSIVE ")),

    // Critical path per trace (TraceDataset.criticalPathHeap): from the
    // root, descend to the child with the latest end time until a leaf
    // — the chain that determines trace wall time. Both sides impose
    // the same heap-shaped tree (pos = start order, parent = pos / 2)
    // since the demo spans are chains; the oracle re-derives the walk
    // with a recursive CTE over the best-ranked child per parent slot,
    // so the hash match proves ordering, tie-breaks, and the walk
    // itself. Scale: one traceId shuffle, then row-local (bounded
    // trace sizes — the TraceDataset contract).
    "trace_critical_path" -> QueryDef.sql(
      (s, dir) => TraceDataset.criticalPathHeap(spans(s, dir))
        .orderBy("trace_id", "step"),
      cte("""
        |, posd AS (
        |  SELECT trace_id, span_id, service, duration_us,
        |         start_us + duration_us AS end_us,
        |         row_number() OVER (PARTITION BY trace_id ORDER BY start_us, span_id) AS pos
        |  FROM spans),
        |ranked AS (
        |  SELECT trace_id, pos, span_id, service, duration_us,
        |         row_number() OVER (PARTITION BY trace_id, pos // 2
        |                            ORDER BY end_us DESC, span_id) AS rn
        |  FROM posd WHERE pos >= 2),
        |walk AS (
        |  SELECT trace_id, pos, span_id, service, duration_us, 1 AS step
        |  FROM posd WHERE pos = 1
        |  UNION ALL
        |  SELECT r.trace_id, r.pos, r.span_id, r.service, r.duration_us, w.step + 1
        |  FROM walk w JOIN ranked r
        |    ON r.trace_id = w.trace_id
        |   AND (r.pos = w.pos * 2 OR r.pos = w.pos * 2 + 1)
        |   AND r.rn = 1)
        |SELECT trace_id, CAST(step AS BIGINT) AS step, span_id, service, duration_us
        |FROM walk ORDER BY trace_id, step""".stripMargin)
        .replaceFirst("WITH ", "WITH RECURSIVE ")),

    // Reader-style "slowest traces per service" leaderboard: trace
    // wall durations once per trace (one keyed agg), service
    // participation via DISTINCT projection, dense top-3 by window
    // rank. Both joins ride the trace_id partitioning; the window
    // shuffles on service (5 keys here, modest at scale since input is
    // already one row per (service, trace)).
    "trace_top_slowest" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir)
        val durations = sp.groupBy("trace_id").agg(
          (max(col("start_us") + col("duration_us")) - min(col("start_us")))
            .as("trace_dur_us"))
        val participation = sp.select("service", "trace_id").distinct()
        val w = Window.partitionBy("service")
          .orderBy(col("trace_dur_us").desc, col("trace_id"))
        participation.join(durations, "trace_id")
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("service"), col("rk").cast("long").as("rk"),
            col("trace_id"), col("trace_dur_us"))
          .orderBy("service", "rk")
      },
      cte("""
        |, dur AS (SELECT trace_id,
        |            MAX(start_us + duration_us) - MIN(start_us) AS trace_dur_us
        |          FROM spans GROUP BY 1),
        |p AS (SELECT DISTINCT service, trace_id FROM spans),
        |r AS (SELECT p.service, p.trace_id, dur.trace_dur_us,
        |        row_number() OVER (PARTITION BY p.service
        |                           ORDER BY dur.trace_dur_us DESC, p.trace_id) AS rk
        |      FROM p JOIN dur ON p.trace_id = dur.trace_id)
        |SELECT service, CAST(rk AS BIGINT) AS rk, trace_id, trace_dur_us
        |FROM r WHERE rk <= 3 ORDER BY service, rk""".stripMargin)),

    // Error-rate trend — the service-health dashboard rollup: per day,
    // how many traces ran and what fraction touched an error span.
    // One trace-grain agg (conditional max flag rides the same shuffle
    // as the time bounds), then a day-grain partial agg. err_rate is a
    // single int/int division — deterministic double on both engines.
    "trace_error_rate" -> QueryDef.sql(
      (s, dir) => spans(s, dir)
        .groupBy("trace_id")
        .agg(min(col("start_us")).as("t_start"),
          max(when(col("service") === "error", 1L).otherwise(0L)).as("has_err"))
        .groupBy(expr(s"(t_start - $T0) div $DayUs").as("day_bucket"))
        .agg(count(lit(1)).as("n_traces"), sum("has_err").as("n_err_traces"))
        .withColumn("err_rate",
          round(col("n_err_traces").cast("double") / col("n_traces"), 6))
        .orderBy("day_bucket"),
      cte(s"""
        |, tr AS (SELECT trace_id, MIN(start_us) AS t_start,
        |           MAX(CASE WHEN service = 'error' THEN 1 ELSE 0 END) AS has_err
        |         FROM spans GROUP BY 1)
        |SELECT CAST((t_start - $T0) // $DayUs AS BIGINT) AS day_bucket,
        |  COUNT(*) AS n_traces,
        |  CAST(SUM(has_err) AS BIGINT) AS n_err_traces,
        |  ROUND(CAST(SUM(has_err) AS DOUBLE) / COUNT(*), 6) AS err_rate
        |FROM tr GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Incremental rollup maintenance — the materialized-view merge: a
    // persisted per-(service, day) aggregate for history plus a
    // fresh-day delta, merged by RE-AGGREGATING the two partial states
    // (count and sum are mergeable; avg derives at read time, never
    // stored). The hash match against the full recompute proves the
    // merge is lossless — the property that lets a 100 TB deployment
    // shuffle only the new day instead of rescanning history.
    "trace_rollup_merge" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir)
        val cutoff = T0 + 25 * DayUs
        def rollup(df: DataFrame): DataFrame = df
          .groupBy(col("service"), expr(s"start_us div $DayUs").as("day_bucket"))
          .agg(count(lit(1)).as("n_spans"), sum("duration_us").as("total_dur_us"))
        val history = rollup(sp.filter(col("start_us") < cutoff)) // stands in for the stored table
        val delta = rollup(sp.filter(col("start_us") >= cutoff))
        history.unionByName(delta)
          .groupBy("service", "day_bucket")
          .agg(sum("n_spans").as("n_spans"), sum("total_dur_us").as("total_dur_us"))
          .withColumn("avg_dur_us",
            round(col("total_dur_us").cast("double") / col("n_spans"), 6))
          .orderBy("service", "day_bucket")
      },
      cte(s"""SELECT service, start_us // $DayUs AS day_bucket,
             |  COUNT(*) AS n_spans,
             |  CAST(SUM(duration_us) AS BIGINT) AS total_dur_us,
             |  ROUND(CAST(SUM(duration_us) AS DOUBLE) / COUNT(*), 6) AS avg_dur_us
             |FROM spans GROUP BY service, day_bucket
             |ORDER BY service, day_bucket""".stripMargin)),

    // Service-importance PageRank over the call graph
    // (GraphOps.pageRank, 3 fixed power iterations — deterministic by
    // construction, no float convergence test; dangling mass
    // REDISTRIBUTED uniformly each round so the rank vector is a
    // proper distribution even when a leaf service never calls out).
    // Call edges = parent→child service pairs weighted by call count:
    // the one distributed, map-combined aggregation; the rounds then
    // run in one task over that service-bounded edge list, so building
    // the frame starts no job. The oracle unrolls the same three
    // iterations as CTEs with the identical IEEE expression tree, so
    // only reduce-order ulps differ under the final ROUND.
    "trace_service_rank" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir)
        val child = sp.select(col("parent_span_id"), col("service").as("dst"))
        val parent = sp.select(col("span_id"), col("service").as("src"))
        val edges = child.join(parent, col("parent_span_id") === col("span_id"))
          .groupBy("src", "dst").agg(count(lit(1)).as("w"))
        graft.operators.GraphOps.pageRank(edges, "src", "dst", "w", iters = 3)
          .select(col("node").as("service"), round(col("rank"), 6).as("rank"))
          .orderBy("service")
      },
      {
        // the teleport numerator must replay Spark's DOUBLE subtraction
        // (1 - 0.85 = 0.15000000000000002): DuckDB parses bare 0.85 as
        // DECIMAL, whose exact (1 - 0.85) is 0.15 — one ulp off — so
        // both operands are cast to DOUBLE before subtracting
        def iter(prev: String, cur: String): String =
          s"""$cur AS (
             |  SELECT nodes.node,
             |    (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
             |      + 0.85 * (COALESCE(s.infl, 0.0) + dm.dm / nn.n) AS rank
             |  FROM nodes CROSS JOIN nn
             |  CROSS JOIN (SELECT COALESCE(SUM($prev.rank), CAST(0 AS DOUBLE)) AS dm
             |              FROM $prev LEFT JOIN outw ON $prev.node = outw.src
             |              WHERE outw.src IS NULL) dm
             |  LEFT JOIN (SELECT ew.dst, SUM($prev.rank * ew.p) AS infl
             |             FROM ew JOIN $prev ON ew.src = $prev.node GROUP BY ew.dst) s
             |    ON nodes.node = s.dst)""".stripMargin
        cte(s"""
           |, edges AS (
           |  SELECT p.service AS src, c.service AS dst, COUNT(*) AS w
           |  FROM spans c JOIN spans p ON c.parent_span_id = p.span_id
           |  GROUP BY 1, 2),
           |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
           |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
           |outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY 1),
           |ew AS (SELECT edges.src, edges.dst,
           |         CAST(edges.w AS DOUBLE) / CAST(outw.ow AS DOUBLE) AS p
           |       FROM edges JOIN outw ON edges.src = outw.src),
           |r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
           |${iter("r0", "r1")},
           |${iter("r1", "r2")},
           |${iter("r2", "r3")}
           |SELECT node AS service, ROUND(rank, 6) AS rank
           |FROM r3 ORDER BY service""".stripMargin)
      }),

    // Corpus-wide service dependency graph — the "system architecture"
    // view a tracing UI renders over the whole store (per-trace call
    // graphs are A15/trace_call_graph; this is their corpus rollup):
    // one edge per caller→callee service pair with call count, calls
    // into the error service, total/avg callee latency, and an exact
    // p95. span_id is globally unique (event ids), so the child→parent
    // self-join needs no trace key; both sides are scan-stage
    // projections of two columns + the join key, the pair agg is
    // map-side combined, and the edge set is #service² rows — tiny at
    // any corpus scale. p95 is percentile_disc (a stored long on both
    // engines — exact integer compare, hash can't drift), computed via
    // ExactQuantiles.percentilesFromCounts so a HOT edge (one service
    // pair carrying a large share of all calls) holds only its
    // distinct-duration histogram in a task, never its full call list.
    "trace_service_graph" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir).select("span_id", "parent_span_id", "service",
          "duration_us")
        val edges = sp.as("c")
          .join(sp.as("p"), col("c.parent_span_id") === col("p.span_id"))
          .select(col("p.service").as("from_service"),
            col("c.service").as("to_service"),
            col("c.duration_us").as("duration_us"))
        // ONE pass end to end: the (edge, duration)->count pre-agg
        // collapses the self-join output to its distinct-duration
        // histogram, and calls/total ride the p95 selection as extra
        // aggregates (calls IS the total weight), so the join body
        // executes exactly once
        val vc = edges.groupBy("from_service", "to_service", "duration_us")
          .agg(count(lit(1)).as("cnt"))
        graft.operators.ExactQuantiles.percentilesFromCounts(
            vc, Seq("from_service", "to_service"), col("duration_us"),
            weight = col("cnt"),
            pcts = Seq(graft.operators.ExactQuantiles.Disc("p95_dur_us", 19, 20)),
            countOut = Some("calls"),
            extraAggs = Seq(
              sum(col("duration_us") * col("cnt")).as("total_dur_us")))
          .withColumn("err_calls",
            when(col("to_service") === "error", col("calls")).otherwise(0L))
          .withColumn("avg_dur_us",
            round(col("total_dur_us").cast("double") / col("calls"), 6))
          .select("from_service", "to_service", "calls", "err_calls",
            "total_dur_us", "p95_dur_us", "avg_dur_us")
          .orderBy("from_service", "to_service")
      },
      cte("""
        |SELECT p.service AS from_service, c.service AS to_service,
        |  COUNT(*) AS calls,
        |  CAST(SUM(CASE WHEN c.service = 'error' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS err_calls,
        |  CAST(SUM(c.duration_us) AS BIGINT) AS total_dur_us,
        |  CAST(quantile_disc(c.duration_us, 0.95) AS BIGINT) AS p95_dur_us,
        |  ROUND(CAST(SUM(c.duration_us) AS DOUBLE) / COUNT(*), 6) AS avg_dur_us
        |FROM spans c JOIN spans p ON c.parent_span_id = p.span_id
        |GROUP BY p.service, c.service
        |ORDER BY from_service, to_service""".stripMargin)),

    // Transitive closure of the service graph with minimum hop counts
    // (C63) — "which services can an incident in X propagate to, and
    // how many call levels away": BFS frontier fixpoint over the
    // distinct caller→callee edges (GraphOps.reachability — each round
    // joins only the newly discovered pairs against the edge list, so
    // cycles terminate and a pair lands at exactly its minimum hop).
    // The oracle re-derives min-hops with a recursive CTE bounded by
    // the node count (shortest paths never need more hops; MIN dedups
    // the path enumeration). The edge distinct runs before iterating:
    // the span self-join executes once, not once per round.
    "trace_service_reachability" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir).select("span_id", "parent_span_id", "service")
        val edges = sp.as("c")
          .join(sp.as("p"), col("c.parent_span_id") === col("p.span_id"))
          .select(col("p.service").as("from_service"),
            col("c.service").as("to_service"))
        graft.operators.GraphOps.reachability(edges, "from_service", "to_service")
          .select(col("src").as("src_service"), col("dst").as("dst_service"),
            col("hops").as("min_hops"))
          .orderBy("src_service", "dst_service")
      },
      cte("""
        |, e AS (
        |  SELECT DISTINCT p.service AS src, c.service AS dst
        |  FROM spans c JOIN spans p ON c.parent_span_id = p.span_id),
        |nn AS (
        |  SELECT COUNT(*) AS cnt
        |  FROM (SELECT src FROM e UNION SELECT dst FROM e) t),
        |r AS (
        |  SELECT src, dst, 1 AS hops FROM e
        |  UNION ALL
        |  SELECT r.src, e.dst, r.hops + 1
        |  FROM r JOIN e ON r.dst = e.src
        |  WHERE r.hops < (SELECT cnt FROM nn))
        |SELECT src AS src_service, dst AS dst_service,
        |       CAST(MIN(hops) AS BIGINT) AS min_hops
        |FROM r GROUP BY src, dst
        |ORDER BY src_service, dst_service""".stripMargin)
        .replaceFirst("WITH ", "WITH RECURSIVE ")),

    // Declarative HyperLogLog (C68) — the companion that makes HLL
    // oracle-checkable (the native approx_count_distinct sketch stays
    // spec-covered): p=8 registers from the portable md5 hash (60
    // bits: index = h mod 256, rank = 53 − bitlen(h div 256)), and
    // the harmonic sum computed EXACTLY — Σ2^(mmax−M_j) as a scaled
    // long (≤ 256·2^53, inside long range) so no float summation
    // order can drift; the estimate is then ONE double expression
    // over exact operands, identical on both engines (the small-range
    // branch is a lazily-evaluated CASE — untaken here since
    // n >> 2.5m, but encoded so the formula is complete). Build:
    // distinct shuffle + 256-row rollup; the register table never
    // leaves the executors un-aggregated.
    "trace_hll_declarative" -> QueryDef.sql(
      (s, dir) => {
        val ids = spans(s, dir).select("trace_id").distinct()
        val h = conv(substring(md5(col("trace_id")), 1, 15), 16, 10).cast("long")
        // j/w via bit ops — Column `/` is DOUBLE division, which
        // rounds a 60-bit hash above 2^53; >> and & stay exact
        val reg = ids
          .select(h.bitwiseAND(lit(255L)).as("j"), shiftright(h, 8).as("w"))
          .withColumn("rho", when(col("w") === 0L, lit(53L))
            .otherwise(lit(53L) - length(conv(col("w"), 10, 2)).cast("long")))
          .groupBy("j").agg(max("rho").as("mj"))
        val allj = s.range(256).select(col("id").as("aj"))
        val regs = allj.join(reg, col("aj") === col("j"), "left")
          .select(col("aj").as("j"), coalesce(col("mj"), lit(0L)).as("mj"))
        val mmax = regs.agg(max("mj").as("mmax"))
        val stats = regs.crossJoin(broadcast(mmax))
          .agg(first("mmax").as("mmax"),
            sum(expr("shiftleft(1L, CAST(mmax - mj AS INT))")).as("s_scaled"),
            sum(when(col("mj") === 0L, 1L).otherwise(0L)).as("n_zero"))
        val nex = ids.agg(count(lit(1)).as("n_exact"))
        stats.crossJoin(broadcast(nex))
          .select(lit(256L).as("m"), col("n_exact"), col("mmax"),
            col("n_zero"), col("s_scaled"),
            (lit(0.7213 / (1 + 1.079 / 256)) * lit(65536.0) *
              expr("CAST(shiftleft(1L, CAST(mmax AS INT)) AS DOUBLE)") /
              col("s_scaled").cast("double")).as("est_raw"))
          .withColumn("estimate",
            // ln across engines can differ by one ulp (measured: one
            // of the 255 possible linear-counting arguments) — the
            // DECIMAL quantization makes the emitted value stable on
            // both sides (decimal casts round identically; never
            // ROUND a raw double)
            when(col("est_raw") <= 2.5 * 256 && col("n_zero") > 0L,
              lit(256.0) * log(lit(256.0) / col("n_zero").cast("double")))
              .otherwise(col("est_raw"))
              .cast(DecimalType(20, 6)).cast("double"))
          .withColumn("rel_err",
            ((col("estimate") - col("n_exact").cast("double")) /
              col("n_exact").cast("double"))
              .cast(DecimalType(20, 9)).cast("double"))
      },
      cte("""
        |, ids AS (SELECT DISTINCT trace_id FROM spans),
        |hx AS (SELECT CAST(('0x' || substr(md5(trace_id), 1, 15)) AS BIGINT) AS h FROM ids),
        |reg AS (SELECT h % 256 AS j,
        |          MAX(CASE WHEN h // 256 = 0 THEN 53
        |                   ELSE 53 - length(bin(h // 256)) END) AS mj
        |        FROM hx GROUP BY 1),
        |regs AS (SELECT t.j, COALESCE(reg.mj, 0) AS mj
        |         FROM range(256) t(j) LEFT JOIN reg ON t.j = reg.j),
        |mm AS (SELECT MAX(mj) AS mmax FROM regs),
        |st AS (SELECT mmax,
        |         CAST(SUM(CAST(1 AS BIGINT) << CAST(mmax - mj AS INT)) AS BIGINT) AS s_scaled,
        |         CAST(SUM(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        |       FROM regs, mm GROUP BY mmax),
        |ne AS (SELECT COUNT(*) AS n_exact FROM ids),
        |es AS (SELECT CAST(256 AS BIGINT) AS m, CAST(n_exact AS BIGINT) AS n_exact,
        |         CAST(mmax AS BIGINT) AS mmax, n_zero, s_scaled,
        |         0.7213 / (1 + 1.079 / 256) * 65536.0
        |           * CAST(CAST(1 AS BIGINT) << CAST(mmax AS INT) AS DOUBLE)
        |           / CAST(s_scaled AS DOUBLE) AS est_raw
        |       FROM st, ne)
        |SELECT m, n_exact, mmax, n_zero, s_scaled, est_raw, estimate,
        |  CAST(CAST((estimate - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)
        |       AS DECIMAL(20, 9)) AS DOUBLE) AS rel_err
        |FROM (SELECT *,
        |        CAST(CAST(CASE WHEN est_raw <= 2.5 * 256 AND n_zero > 0
        |             THEN 256.0 * ln(256.0 / CAST(n_zero AS DOUBLE))
        |             ELSE est_raw END AS DECIMAL(20, 6)) AS DOUBLE) AS estimate
        |      FROM es) q""".stripMargin)),

    // Parallel Viterbi burst detection (C78) — Kleinberg-style
    // two-state (baseline/burst) segmentation of hourly volume, with
    // the "inherently sequential" DP run as a TROPICAL-SEMIRING SCAN
    // (operators/TropicalScan): each hour is a 2×2 min-plus matrix
    // and the product is associative, so a month folds in ceil(log2
    // H) pairwise-merge rounds instead of H chained steps — the
    // pointer-doubling idea applied to dynamic programming.
    // Emissions |n − mean| / |n − 2·mean| and the switch penalty
    // mean/4 are exact integers; the oracle re-runs the DP
    // SEQUENTIALLY in a recursive CTE, so the hash match proves the
    // scan computes the same optimum.
    "trace_burst_viterbi" -> QueryDef.sql(
      (s, dir) => {
        val hourly = spans(s, dir)
          .groupBy(col("service"), expr(s"start_us div $HourUs").as("hr"))
          .agg(count(lit(1)).as("n"))
        val ref = hourly.groupBy(col("service").as("r_service"))
          .agg(sum("n").as("sn"), count(lit(1)).as("cnt"))
          .select(col("r_service"), expr("sn div cnt").as("mean_n"))
        val w = Window.partitionBy("service").orderBy("hr")
        val costed = hourly.join(ref, col("service") === col("r_service"))
          .withColumn("idx", (row_number().over(w) - 1).cast("long"))
          .select(col("service"), col("idx"),
            abs(col("n") - col("mean_n")).as("e0"),
            abs(col("n") - lit(2L) * col("mean_n")).as("e1"),
            expr("mean_n div 4").as("t"))
        graft.operators.TropicalScan.viterbi2(
            costed, "service", "idx", "e0", "e1", col("t"))
          .select(col("key").as("service"), col("m00").as("best_end0"),
            col("m01").as("best_end1"),
            least(col("m00"), col("m01")).as("best_cost"))
          .orderBy("service")
      },
      cte("""
        |, h AS (SELECT service, start_us // 3600000000 AS hr, COUNT(*) AS n
        |        FROM spans GROUP BY 1, 2),
        |r AS (SELECT service AS r_service, SUM(n) // COUNT(*) AS mean_n
        |      FROM h GROUP BY 1),
        |c AS (SELECT service,
        |        ROW_NUMBER() OVER (PARTITION BY service ORDER BY hr) - 1 AS idx,
        |        ABS(n - mean_n) AS e0, ABS(n - 2 * mean_n) AS e1,
        |        mean_n // 4 AS t
        |      FROM h JOIN r ON service = r_service),
        |mx AS (SELECT service AS m_service, MAX(idx) AS mi FROM c GROUP BY 1),
        |v AS (
        |  SELECT service, idx, e0 AS v0, e1 AS v1 FROM c WHERE idx = 0
        |  UNION ALL
        |  SELECT c.service, c.idx,
        |         c.e0 + LEAST(v.v0, v.v1 + c.t),
        |         c.e1 + LEAST(v.v1, v.v0 + c.t)
        |  FROM c JOIN v ON c.service = v.service AND c.idx = v.idx + 1)
        |SELECT service, CAST(v0 AS BIGINT) AS best_end0,
        |       CAST(v1 AS BIGINT) AS best_end1,
        |       CAST(LEAST(v0, v1) AS BIGINT) AS best_cost
        |FROM v JOIN mx ON service = m_service AND idx = mi
        |ORDER BY service""".stripMargin)
        .replaceFirst("WITH ", "WITH RECURSIVE ")),

    // OLS volume forecast (C77) — "is traffic growing, and what does
    // tomorrow look like": per-service least-squares line over daily
    // span counts, ENTIRELY in exact integer fractions (slope =
    // (nΣxy−ΣxΣy)/(nΣx²−(Σx)²); the next-day forecast's numerator
    // folds the intercept in: ŷ·(n·den) = Σy·den + num·(n·x₊ − Σx)).
    // Doubles appear only as single divisions of exact longs at the
    // output edge. x is day-since-corpus-epoch (0..30), so every sum
    // is small; the corpus collapses to |services|·31 rows in ONE
    // map-combined aggregate.
    "trace_volume_forecast" -> QueryDef.sql(
      (s, dir) => {
        val daily = spans(s, dir)
          .groupBy(col("service"),
            (expr(s"start_us div $DayUs") - lit(T0 / DayUs)).as("x"))
          .agg(count(lit(1)).as("y"))
        daily.groupBy("service")
          .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("x") * col("y")).as("sxy"),
            max("x").as("mx"))
          .select(col("service"), col("n"),
            (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
            (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"),
            (col("sy") * (col("n") * col("sxx") - col("sx") * col("sx")) +
              (col("n") * col("sxy") - col("sx") * col("sy")) *
                (col("n") * (col("mx") + 1) - col("sx"))).as("fc_num"),
            (col("n") * (col("n") * col("sxx") - col("sx") * col("sx")))
              .as("fc_den"))
          .withColumn("slope",
            col("slope_num").cast("double") / col("slope_den").cast("double"))
          .withColumn("forecast_next",
            col("fc_num").cast("double") / col("fc_den").cast("double"))
          .orderBy("service")
      },
      cte(s"""
        |, d AS (SELECT service, start_us // $DayUs - ${T0 / DayUs} AS x,
        |          COUNT(*) AS y
        |        FROM spans GROUP BY 1, 2),
        |a AS (SELECT service, COUNT(*) AS n,
        |        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |        CAST(SUM(x * x) AS BIGINT) AS sxx,
        |        CAST(SUM(x * y) AS BIGINT) AS sxy,
        |        CAST(MAX(x) AS BIGINT) AS mx
        |      FROM d GROUP BY 1)
        |SELECT service, n,
        |  n * sxy - sx * sy AS slope_num,
        |  n * sxx - sx * sx AS slope_den,
        |  sy * (n * sxx - sx * sx) + (n * sxy - sx * sy) * (n * (mx + 1) - sx)
        |    AS fc_num,
        |  n * (n * sxx - sx * sx) AS fc_den,
        |  CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
        |    AS slope,
        |  CAST(sy * (n * sxx - sx * sx) + (n * sxy - sx * sy) * (n * (mx + 1) - sx)
        |       AS DOUBLE) / CAST(n * (n * sxx - sx * sx) AS DOUBLE) AS forecast_next
        |FROM a ORDER BY service""".stripMargin)),

    // Bitmap-index distinct rollup (C76) — the OLAP exact-distinct
    // pattern (ClickHouse/Doris bitmap dedup): per (service, day) the
    // distinct-user set packs into (word = id div 64, bits =
    // bit_or(1 << id mod 64)) — a map-combinable AGGREGATE, unlike a
    // distinct count — and month-level distincts then roll up from
    // the daily BITMAPS with another bit_or + popcount, never
    // re-touching raw spans. The monthly numbers are verified against
    // DuckDB's direct COUNT(DISTINCT): the hash match proves the
    // pack/merge/popcount algebra computes exact distincts.
    "trace_bitmap_distinct" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir).select(
          col("service"), expr(s"start_us div $DayUs").as("day"),
          col("trace_id").cast("long").as("uid"))
        val daily = sp
          .groupBy(col("service"), col("day"), expr("uid div 64").as("word"))
          .agg(expr("bit_or(shiftleft(1L, CAST(uid % 64 AS INT)))").as("bits"))
        val dailyCnt = daily
          .groupBy("service", "day")
          .agg(sum(bit_count(col("bits")).cast("long")).as("daily_distinct"))
        val monthly = daily
          .groupBy("service", "word")
          .agg(expr("bit_or(bits)").as("mbits"))
          .groupBy("service")
          .agg(sum(bit_count(col("mbits")).cast("long")).as("monthly_distinct"))
        dailyCnt.groupBy("service")
          .agg(count(lit(1)).as("n_days"), sum("daily_distinct").as("sum_daily"))
          .join(monthly, "service")
          .select(col("service"), col("n_days"), col("sum_daily"),
            col("monthly_distinct"))
          .orderBy("service")
      },
      cte("""
        |, d AS (SELECT service, start_us // 86400000000 AS day,
        |          CAST(trace_id AS BIGINT) AS uid
        |        FROM spans),
        |daily AS (SELECT service, day, COUNT(DISTINCT uid) AS dd
        |          FROM d GROUP BY 1, 2),
        |agg AS (SELECT service, COUNT(*) AS n_days,
        |          CAST(SUM(dd) AS BIGINT) AS sum_daily
        |        FROM daily GROUP BY 1),
        |mon AS (SELECT service, COUNT(DISTINCT uid) AS monthly_distinct
        |        FROM d GROUP BY 1)
        |SELECT service, n_days, sum_daily,
        |       CAST(monthly_distinct AS BIGINT) AS monthly_distinct
        |FROM agg JOIN mon USING (service)
        |ORDER BY service""".stripMargin)),

    // Aggregated path rollup (C74) — the flamegraph/deep-dependency
    // view: every span keyed by its root→self service PATH, rolled up
    // to (path, n_spans, total_dur_us). TreeOps.pathRollup: the
    // per-trace walk gives each span a FIXED-WIDTH dual-prime
    // polynomial fingerprint of its path, the corpus collapses per
    // fingerprint, and each path STRING is built once per trace where
    // it first occurs — a cursor accumulating segment strings blew
    // 250 GB of spill disk at sf100 (measured; BASELINE.md). The
    // oracle walks paths with a genuine recursive CTE, so the hash
    // match proves fingerprint composition lands every span on its
    // true path. No trailing sort: path keys are corpus-bulk (the
    // trace_depth rule); the gate sorts before hashing.
    "trace_path_rollup" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir)
        graft.operators.TreeOps.pathRollup(
          sp.select("trace_id", "span_id", "parent_span_id", "service",
            "duration_us"), traceContiguous = true)
      },
      cte("""
        |, p AS (
        |  SELECT span_id, service AS path FROM spans s
        |  WHERE parent_span_id IS NULL
        |     OR NOT EXISTS (SELECT 1 FROM spans q WHERE q.span_id = s.parent_span_id)
        |  UNION ALL
        |  SELECT s.span_id, p.path || '/' || s.service
        |  FROM spans s JOIN p ON s.parent_span_id = p.span_id)
        |SELECT path, COUNT(*) AS n_spans,
        |       CAST(SUM(duration_us) AS BIGINT) AS total_dur_us
        |FROM p JOIN spans USING (span_id)
        |GROUP BY path""".stripMargin)
        .replaceFirst("WITH ", "WITH RECURSIVE ")),

    // C92: differential flame graph — trace_path_rollup split across
    // the two halves of the retention window (the before/after view a
    // performance regression hunt starts from): per root→self service
    // path, span count and total duration in each half, new/removed/
    // kept status, and the duration ratio in exact ppm. Built on the
    // SAME per-trace path walk (TreeOps.pathRollup) with the half flag
    // as a fixed-width groupCol — the r8 disk-exhaustion lesson says
    // payloads must stay narrow, and one long rides free. Midpoint =
    // 1-row broadcast (the trace_graph_diff idiom); no trailing sort
    // (one row per distinct path — the driver set-compares).
    "trace_flamegraph_diff" -> QueryDef.sql(
      (s, dir) => {
        // ZERO corpus materializations (the r10 sf100 disk-traffic
        // pole was this query's 100 M-row checkpoint write+read): the
        // midpoint is min/max over start_us, which derives straight
        // from events.ts with no window — a column-pruned scan of the
        // raw parquet — so the expensive events->spans lag window runs
        // exactly once, feeding pathRollup's single-pass walk.
        val ev = Tables.events(s, dir)
        val mid = ev.select(Tables.eventTimeUs(ev).as("start_us"))
          .agg(expr("(min(start_us) + max(start_us)) div 2").as("mid_us"))
        val flagged = spans(s, dir).crossJoin(broadcast(mid))
          .withColumn("half",
            when(col("start_us") < col("mid_us"), 0L).otherwise(1L))
          .select("trace_id", "span_id", "parent_span_id", "service",
            "duration_us", "half")
        val roll = graft.operators.TreeOps.pathRollup(flagged,
          groupCols = Seq("half"), traceContiguous = true)
        roll.groupBy("path")
          .agg(
            sum(when(col("half") === 0L, col("n_spans")).otherwise(0L)).as("spans_a"),
            sum(when(col("half") === 1L, col("n_spans")).otherwise(0L)).as("spans_b"),
            sum(when(col("half") === 0L, col("total_dur_us")).otherwise(0L)).as("dur_a"),
            sum(when(col("half") === 1L, col("total_dur_us")).otherwise(0L)).as("dur_b"))
          .withColumn("status",
            when(col("spans_a") === 0L, "new")
              .when(col("spans_b") === 0L, "removed").otherwise("kept"))
          .withColumn("dur_ratio_ppm",
            expr("CASE WHEN dur_a > 0 THEN dur_b * 1000000 div dur_a END"))
      },
      cte("""
        |, mid AS (SELECT (MIN(start_us) + MAX(start_us)) // 2 AS mid_us FROM spans),
        |p AS (
        |  SELECT span_id, service AS path FROM spans s
        |  WHERE parent_span_id IS NULL
        |     OR NOT EXISTS (SELECT 1 FROM spans q WHERE q.span_id = s.parent_span_id)
        |  UNION ALL
        |  SELECT s.span_id, p.path || '/' || s.service
        |  FROM spans s JOIN p ON s.parent_span_id = p.span_id),
        |d AS (SELECT p.path,
        |        CASE WHEN s.start_us < mid_us THEN 0 ELSE 1 END AS half,
        |        s.duration_us
        |      FROM p JOIN spans s USING (span_id) CROSS JOIN mid)
        |SELECT path,
        |  CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS spans_a,
        |  CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS spans_b,
        |  CAST(SUM(CASE WHEN half = 0 THEN duration_us ELSE 0 END) AS BIGINT) AS dur_a,
        |  CAST(SUM(CASE WHEN half = 1 THEN duration_us ELSE 0 END) AS BIGINT) AS dur_b,
        |  CASE WHEN SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) = 0 THEN 'new'
        |       WHEN SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) = 0 THEN 'removed'
        |       ELSE 'kept' END AS status,
        |  CASE WHEN SUM(CASE WHEN half = 0 THEN duration_us ELSE 0 END) > 0
        |       THEN CAST(SUM(CASE WHEN half = 1 THEN duration_us ELSE 0 END) AS BIGINT)
        |            * 1000000
        |            // CAST(SUM(CASE WHEN half = 0 THEN duration_us ELSE 0 END) AS BIGINT)
        |       END AS dur_ratio_ppm
        |FROM d GROUP BY path""".stripMargin)
        .replaceFirst("WITH ", "WITH RECURSIVE ")),

    // C94: tail-latency Pareto share — "what fraction of total time
    // lives in the slowest spans": per service, the p90/p99 duration
    // cuts (ExactQuantiles' integer rank rule on the distinct-bounded
    // duration histogram) and the EXACT ppm share of total duration
    // carried by spans at or above each cut. The capacity-planning
    // answer to "would fixing the tail matter". Scale: the corpus
    // collapses to its per-(service, duration) count relation in one
    // map-combined pass; cuts come from the count relation; shares
    // are conditional sums over the same relation joined back by
    // broadcast — spans never move twice.
    "trace_tail_share" -> QueryDef.sql(
      (s, dir) => {
        val vc = spans(s, dir)
          .groupBy(col("service"), col("duration_us"))
          .agg(count(lit(1)).as("cnt"))
          .localCheckpoint()
        val cuts = graft.operators.ExactQuantiles.percentilesFromCounts(
          vc, Seq("service"), col("duration_us"), weight = col("cnt"),
          pcts = Seq(graft.operators.ExactQuantiles.Disc("p90_us", 9, 10),
            graft.operators.ExactQuantiles.Disc("p99_us", 99, 100)))
        vc.join(broadcast(cuts), "service")
          .groupBy("service", "p90_us", "p99_us")
          .agg(sum(col("duration_us") * col("cnt")).as("total_us"),
            sum(when(col("duration_us") >= col("p90_us"),
              col("duration_us") * col("cnt")).otherwise(0L)).as("tail90_us"),
            sum(when(col("duration_us") >= col("p99_us"),
              col("duration_us") * col("cnt")).otherwise(0L)).as("tail99_us"))
          .select(col("service"), col("p90_us"), col("p99_us"), col("total_us"),
            expr("tail90_us * 1000000 div total_us").as("tail90_share_ppm"),
            expr("tail99_us * 1000000 div total_us").as("tail99_share_ppm"))
          .orderBy("service")
      },
      cte("""
        |, vc AS (SELECT service, duration_us, COUNT(*) AS cnt
        |         FROM spans GROUP BY 1, 2),
        |cuts AS (
        |  SELECT service,
        |    MIN(CASE WHEN cum * 10 >= n * 9 THEN duration_us END) AS p90_us,
        |    MIN(CASE WHEN cum * 100 >= n * 99 THEN duration_us END) AS p99_us
        |  FROM (SELECT service, duration_us, cnt,
        |          SUM(cnt) OVER (PARTITION BY service ORDER BY duration_us) AS cum,
        |          SUM(cnt) OVER (PARTITION BY service) AS n
        |        FROM vc)
        |  GROUP BY service)
        |SELECT service, p90_us, p99_us,
        |  CAST(SUM(duration_us * cnt) AS BIGINT) AS total_us,
        |  CAST(SUM(CASE WHEN duration_us >= p90_us THEN duration_us * cnt ELSE 0 END) AS BIGINT)
        |    * 1000000 // CAST(SUM(duration_us * cnt) AS BIGINT) AS tail90_share_ppm,
        |  CAST(SUM(CASE WHEN duration_us >= p99_us THEN duration_us * cnt ELSE 0 END) AS BIGINT)
        |    * 1000000 // CAST(SUM(duration_us * cnt) AS BIGINT) AS tail99_share_ppm
        |FROM vc JOIN cuts USING (service)
        |GROUP BY service, p90_us, p99_us
        |ORDER BY service""".stripMargin)),

    // C95: alert-flap suppression — the event-dedup rule an alerting
    // pipeline applies before paging: within each (trace, service)
    // stream, an event firing < 2 h after its predecessor is
    // suppressed as a repeat (gaps-and-islands' little sibling: one
    // lag per partition, row-local verdict). Report per service:
    // events, suppressed count, exact suppression ppm. One window
    // exchange the assembler already pays, then a map-combined
    // rollup.
    "trace_flap_suppress" -> QueryDef.sql(
      (s, dir) => {
        val w = Window.partitionBy("trace_id", "service")
          .orderBy("start_us", "span_id")
        spans(s, dir)
          .withColumn("prev_us", lag("start_us", 1).over(w))
          .withColumn("suppressed",
            when(col("prev_us").isNotNull &&
              col("start_us") - col("prev_us") < 2L * HourUs, 1L).otherwise(0L))
          .groupBy("service")
          .agg(count(lit(1)).as("n_events"), sum("suppressed").as("n_suppressed"))
          .withColumn("suppress_ppm",
            expr("n_suppressed * 1000000 div n_events"))
          .orderBy("service")
      },
      cte(s"""
        |, x AS (SELECT service,
        |          CASE WHEN lag(start_us) OVER (PARTITION BY trace_id, service
        |                 ORDER BY start_us, span_id) IS NOT NULL
        |                AND start_us - lag(start_us) OVER (PARTITION BY trace_id, service
        |                 ORDER BY start_us, span_id) < ${2L * HourUs}
        |               THEN 1 ELSE 0 END AS suppressed
        |        FROM spans)
        |SELECT service, COUNT(*) AS n_events,
        |  CAST(SUM(suppressed) AS BIGINT) AS n_suppressed,
        |  CAST(SUM(suppressed) AS BIGINT) * 1000000 // COUNT(*) AS suppress_ppm
        |FROM x GROUP BY service ORDER BY service""".stripMargin)),

    // Hour-of-day seasonality profile (C72) — the baseline an anomaly
    // detector normalizes against: per (service, hour-of-day) span
    // volume and its seasonal index vs the service's flat hourly
    // mean, in exact ppm integers ((n·24·1e6) div total — no float
    // ratio). ONE map-combined aggregate over the scan; the index
    // arithmetic runs on the 24·|services| rollup.
    "trace_seasonality" -> QueryDef.sql(
      (s, dir) => {
        val hod = spans(s, dir)
          .groupBy(col("service"),
            expr(s"(start_us div $HourUs) % 24").as("hour_of_day"))
          .agg(count(lit(1)).as("n"))
        val tot = hod.groupBy(col("service").as("t_service"))
          .agg(sum("n").as("total"))
        hod.join(tot, col("service") === col("t_service"))
          .select(col("service"), col("hour_of_day"), col("n"),
            expr("(n * 24 * 1000000) div total").as("seasonal_ppm"))
          .orderBy("service", "hour_of_day")
      },
      cte("""
        |, h AS (SELECT service, (start_us // 3600000000) % 24 AS hour_of_day,
        |          COUNT(*) AS n
        |        FROM spans GROUP BY 1, 2),
        |t AS (SELECT service AS t_service, CAST(SUM(n) AS BIGINT) AS total
        |      FROM h GROUP BY 1)
        |SELECT service, hour_of_day, CAST(n AS BIGINT) AS n,
        |       (n * 24 * 1000000) // total AS seasonal_ppm
        |FROM h JOIN t ON service = t_service
        |ORDER BY service, hour_of_day""".stripMargin)),

    // Markov transition matrix (C69) — P(next service | current) from
    // per-user event order: one (trace_id, time)-keyed window pass
    // pairs each event with its successor, then a map-combined
    // (from, to) count rollup; probabilities are exact longs divided
    // in fixed operand order (count / row-total). The behavioral
    // model product analytics and anomaly detection both start from.
    "trace_markov_transitions" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir).select("trace_id", "service", "start_us", "span_id")
        val w = Window.partitionBy("trace_id").orderBy("start_us", "span_id")
        val pairs = sp
          .withColumn("next_service", lead("service", 1).over(w))
          .filter(col("next_service").isNotNull)
          .groupBy(col("service").as("from_service"),
            col("next_service").as("to_service"))
          .agg(count(lit(1)).as("n"))
        val tot = pairs.groupBy(col("from_service").as("t_from"))
          .agg(sum("n").as("row_total"))
        pairs.join(tot, col("from_service") === col("t_from"))
          .select(col("from_service"), col("to_service"), col("n"),
            col("row_total"),
            (col("n").cast("double") / col("row_total").cast("double")).as("p"))
          .orderBy("from_service", "to_service")
      },
      cte("""
        |, nx AS (SELECT service,
        |           lead(service) OVER (PARTITION BY trace_id ORDER BY start_us, span_id)
        |             AS next_service
        |         FROM spans),
        |p AS (SELECT service AS from_service, next_service AS to_service,
        |        COUNT(*) AS n
        |      FROM nx WHERE next_service IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_service AS t_from, CAST(SUM(n) AS BIGINT) AS row_total
        |      FROM p GROUP BY 1)
        |SELECT from_service, to_service, CAST(n AS BIGINT) AS n, row_total,
        |       CAST(n AS DOUBLE) / CAST(row_total AS DOUBLE) AS p
        |FROM p JOIN t ON from_service = t_from
        |ORDER BY from_service, to_service""".stripMargin)),

    // CUSUM change-point detection (C70) — "when did this service's
    // error rate shift": the classic sequential statistic
    // S_t = max(0, S_{t-1} + y_t) looks unparallelizable, but it has
    // a closed windowed form — S_t = P_t − min(0, min_{j≤t} P_j)
    // over the prefix sums P of the drift-adjusted series — so two
    // cumulative windows over one (service, hour) exchange compute it
    // exactly (the ShardedWindow-class rewrite done analytically:
    // recursion → prefix algebra). All integer: y_t scaled to
    // per-mille error rate minus a fixed 250‰ reference; the alarm is
    // the first hour where S_t exceeds 500. The corpus collapses to
    // the hourly relation in ONE map-combined aggregate first.
    "trace_cusum_changepoint" -> QueryDef.sql(
      (s, dir) => {
        val hourly = spans(s, dir)
          .groupBy(col("service"), expr(s"start_us div $HourUs").as("hr"))
          .agg(count(lit(1)).as("n"))
        // integer FLOOR mean (div) — a double-division + cast would
        // truncate on Spark but round on DuckDB
        val ref = hourly.groupBy("service")
          .agg(sum("n").as("sn"), count(lit(1)).as("cnt"))
          .select(col("service"), expr("sn div cnt").as("mean_n"))
        val wcum = Window.partitionBy("service").orderBy("hr")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val scored = hourly.join(ref, "service")
          .withColumn("y", col("n") - col("mean_n"))
          .withColumn("pfx", sum("y").over(wcum))
          .withColumn("pfxmin", least(min("pfx").over(wcum), lit(0L)))
          .withColumn("cusum", col("pfx") - col("pfxmin"))
        scored.filter(col("cusum") > col("mean_n") * 2L)
          .groupBy("service")
          .agg(min("hr").as("first_alarm_hr"), max("cusum").as("peak_cusum"),
            count(lit(1)).as("n_alarm_hours"))
          .orderBy("service")
      },
      cte("""
        |, h AS (SELECT service, start_us // 3600000000 AS hr, COUNT(*) AS n
        |        FROM spans GROUP BY 1, 2),
        |r AS (SELECT service AS r_service, SUM(n) // COUNT(*) AS mean_n
        |      FROM h GROUP BY 1),
        |p1 AS (SELECT service, hr, mean_n,
        |         SUM(n - mean_n) OVER (PARTITION BY service ORDER BY hr
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pfx
        |       FROM h JOIN r ON service = r_service),
        |sc AS (SELECT service, hr, mean_n, pfx,
        |         LEAST(MIN(pfx) OVER (PARTITION BY service ORDER BY hr
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS pfxmin
        |       FROM p1)
        |SELECT service, CAST(MIN(hr) AS BIGINT) AS first_alarm_hr,
        |       CAST(MAX(pfx - pfxmin) AS BIGINT) AS peak_cusum,
        |       COUNT(*) AS n_alarm_hours
        |FROM sc WHERE pfx - pfxmin > mean_n * 2
        |GROUP BY service ORDER BY service""".stripMargin)),

    // Funnel analysis (C66) — the ordered-sequence conversion count
    // product analytics runs on event streams: of the users who
    // viewed, how many then clicked strictly AFTER their first view,
    // and then purchased strictly after that first qualifying click.
    // Strict sequential semantics (each step's anchor is the MIN
    // qualifying time after the previous step's anchor) — not mere
    // co-occurrence. Scale: each step is a service-filtered scan
    // pre-aggregated per user BEFORE its join (the per-step relation
    // shrinks monotonically down the funnel), so the corpus shuffles
    // filtered subsets only; conversions divide exact longs in fixed
    // operand order.
    "trace_funnel" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir).select("trace_id", "service", "start_us")
        val v1 = sp.filter(col("service") === "view")
          .groupBy("trace_id").agg(min("start_us").as("t1"))
        val c2 = sp.filter(col("service") === "click").join(v1, "trace_id")
          .filter(col("start_us") > col("t1"))
          .groupBy("trace_id").agg(min("start_us").as("t2"))
        val p3 = sp.filter(col("service") === "purchase").join(c2, "trace_id")
          .filter(col("start_us") > col("t2"))
          .groupBy("trace_id").agg(min("start_us").as("t3"))
        val n1 = v1.agg(count(lit(1)).as("n1"))
        val n2 = c2.agg(count(lit(1)).as("n2"))
        val n3 = p3.agg(count(lit(1)).as("n3"))
        n1.crossJoin(n2).crossJoin(n3)
          .select(explode(array(
            struct(lit(1L).as("step"), lit("view").as("step_name"),
              col("n1").as("n_users"),
              lit(1.0).as("conv_prev"), lit(1.0).as("conv_total")),
            struct(lit(2L).as("step"), lit("click").as("step_name"),
              col("n2").as("n_users"),
              (col("n2").cast("double") / col("n1").cast("double")).as("conv_prev"),
              (col("n2").cast("double") / col("n1").cast("double")).as("conv_total")),
            struct(lit(3L).as("step"), lit("purchase").as("step_name"),
              col("n3").as("n_users"),
              (col("n3").cast("double") / col("n2").cast("double")).as("conv_prev"),
              (col("n3").cast("double") / col("n1").cast("double")).as("conv_total"))))
            .as("r"))
          .select("r.step", "r.step_name", "r.n_users", "r.conv_prev", "r.conv_total")
          .orderBy("step")
      },
      cte("""
        |, v1 AS (SELECT trace_id, MIN(start_us) AS t1 FROM spans
        |         WHERE service = 'view' GROUP BY 1),
        |c2 AS (SELECT s.trace_id, MIN(s.start_us) AS t2
        |       FROM spans s JOIN v1 ON s.trace_id = v1.trace_id
        |       WHERE s.service = 'click' AND s.start_us > v1.t1 GROUP BY 1),
        |p3 AS (SELECT s.trace_id, MIN(s.start_us) AS t3
        |       FROM spans s JOIN c2 ON s.trace_id = c2.trace_id
        |       WHERE s.service = 'purchase' AND s.start_us > c2.t2 GROUP BY 1),
        |n AS (SELECT (SELECT COUNT(*) FROM v1) AS n1,
        |             (SELECT COUNT(*) FROM c2) AS n2,
        |             (SELECT COUNT(*) FROM p3) AS n3)
        |SELECT step, step_name, n_users, conv_prev, conv_total FROM (
        |  SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
        |         CAST(n1 AS BIGINT) AS n_users,
        |         1.0 AS conv_prev, 1.0 AS conv_total FROM n
        |  UNION ALL
        |  SELECT 2, 'click', CAST(n2 AS BIGINT),
        |         CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE),
        |         CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE) FROM n
        |  UNION ALL
        |  SELECT 3, 'purchase', CAST(n3 AS BIGINT),
        |         CAST(n3 AS DOUBLE) / CAST(n2 AS DOUBLE),
        |         CAST(n3 AS DOUBLE) / CAST(n1 AS DOUBLE) FROM n) t
        |ORDER BY step""".stripMargin)),

    // Cohort retention (C67): superseded by the week-grained
    // definition below (same key; the map kept only the later entry,
    // so the old day-grained body is removed rather than shadowed).

    // Mann-Kendall monotonic-trend statistic per service (C65) — "is
    // this service getting slower over the month": S = Σ_{i<j}
    // sign(mean_j − mean_i) over the hourly mean latencies, with the
    // mean comparison done EXACTLY by cross-multiplication
    // (sign(sum_j·n_i − sum_i·n_j) — two rational means never touch a
    // double, so the pair ordering is bit-reproducible), plus
    // Kendall's tau as the exact (S, n_pairs) fraction and a
    // fixed-operand-order double. Scale: the corpus collapses to the
    // (service, hour, Σdur, n) relation in ONE map-combined aggregate
    // (≤ 744·|services| rows); the i<j pair join runs on that tiny
    // relation and never touches span rows again. Leg overflow bound:
    // hourly Σdur ≈ 1.3e5 rows · 5e5 us ≈ 7e10, cross-products ≈ 9e15
    // at sf100 — inside long range; at larger hourly row counts the
    // sums would move to the div/mod-2^32 leg split q_stats_agg uses.
    "trace_latency_trend" -> QueryDef.sql(
      (s, dir) => {
        val hourly = spans(s, dir)
          .groupBy(col("service"), expr(s"start_us div $HourUs").as("hr"))
          .agg(sum("duration_us").as("sd"), count(lit(1)).as("n"))
        val pairs = hourly.as("a").join(hourly.as("b"),
            col("a.service") === col("b.service") && col("a.hr") < col("b.hr"))
          .select(col("a.service").as("service"),
            {
              // exact long sign — routing through signum(double) would
              // lose the 2^53+ cross-products a big hour can produce
              val d = col("b.sd") * col("a.n") - col("a.sd") * col("b.n")
              when(d > 0L, 1L).when(d < 0L, -1L).otherwise(0L).as("sgn")
            })
        val nh = hourly.groupBy("service").agg(count(lit(1)).as("n_hours"))
        pairs.groupBy("service")
          .agg(sum("sgn").as("s_stat"), count(lit(1)).as("n_pairs"))
          .join(nh, "service")
          .select(col("service"), col("n_hours"), col("s_stat"), col("n_pairs"),
            (col("s_stat").cast("double") / col("n_pairs").cast("double")).as("tau"))
          .orderBy("service")
      },
      cte("""
        |, h AS (SELECT service, start_us // 3600000000 AS hr,
        |          CAST(SUM(duration_us) AS BIGINT) AS sd, COUNT(*) AS n
        |        FROM spans GROUP BY 1, 2),
        |p AS (SELECT a.service,
        |        CAST(sign(b.sd * a.n - a.sd * b.n) AS BIGINT) AS sgn
        |      FROM h a JOIN h b ON a.service = b.service AND a.hr < b.hr),
        |nh AS (SELECT service AS n_service, COUNT(*) AS n_hours FROM h GROUP BY 1)
        |SELECT service, n_hours, CAST(SUM(sgn) AS BIGINT) AS s_stat,
        |       COUNT(*) AS n_pairs,
        |       CAST(SUM(sgn) AS DOUBLE) / COUNT(*) AS tau
        |FROM p JOIN nh ON service = n_service
        |GROUP BY service, n_hours
        |ORDER BY service""".stripMargin)),

    // C148: Theil-Sen robust trend — the SLOPE companion to C65's
    // Mann-Kendall direction test: per service, the median of all
    // pairwise hourly-volume slopes (dy/dx over hour pairs), the
    // outlier-immune rate estimate ops wants next to the tau ("is it
    // trending" → "how fast"). Scale shape: the corpus collapses to
    // the (service, hour) count grid in ONE map-combined aggregate
    // (≤ retention-hours · |services| rows); the i<j pair relation is
    // grid-bounded (90-day retention → ~2.3 M pairs/service), never
    // touches span rows, and the median is a rank rule. Exactness: the
    // slope double divides exact longs in identical operand order on
    // both engines (the q_bollinger discipline); the median is the
    // spelled lower-median rank (n+1) div 2 under the deterministic
    // (slope, dy, dx) order — tied triples emit identical columns, so
    // row_number ambiguity cannot reach the output. No floor-division
    // of a negative dy ever happens: dy stays a raw long and the only
    // integer division is on the positive rank.
    "trace_theilsen_trend" -> QueryDef.sql(
      (s, dir) => {
        val grid = spans(s, dir)
          .groupBy(col("service"), expr(s"start_us div $HourUs").as("h"))
          .agg(count(lit(1)).as("cnt"))
          .localCheckpoint() // both sides of the pair join read it
        val pairs = grid.as("a").join(grid.as("b"),
            col("a.service") === col("b.service") && col("a.h") < col("b.h"))
          .select(col("a.service").as("service"),
            (col("b.cnt") - col("a.cnt")).as("dy"),
            (col("b.h") - col("a.h")).as("dx"))
          .withColumn("slope", col("dy").cast("double") / col("dx").cast("double"))
        // (r14: a lazy localCheckpoint on this pair relation measured
        // WORSE, 1.68 -> 2.49 s — the self-join off the checkpointed
        // grid is cheaper to re-run than the pairs are to materialize)
        // the median rank routes through ShardedWindow (shard =
        // floor(slope·1024), a pure function of the leading order key)
        // — a plain per-service window would sort the O(H²) pair
        // relation (~2.3 M rows/service at 90-day retention) in ONE
        // task per service; n_pairs is a broadcast grouped count for
        // the same reason (r10 verdict item 5). The dx > 0 guard makes
        // the shard TOTAL: InferFiltersFromConstraints turns SW's join
        // key into isnotnull(shard-expr) and pushes it into the pair
        // self-join's condition AHEAD of `a.h < b.h`, where an
        // unguarded slope division sees dx = 0 and ANSI throws
        // (Spark 4.1 raises DIVIDE_BY_ZERO for double division too)
        // n_pairs rides the sharded scan's totals relation (keyTotalOut,
        // r14) — the separate grouped count plus its broadcast join-back
        // were a THIRD derivation of the O(H²) pair self-join
        val ranked = ShardedWindow.rowNumber(pairs, Seq("service"),
          when(col("dx") > 0, floor(col("slope") * 1024)).otherwise(lit(0L)),
          Seq(col("slope"), col("dy"), col("dx")), "rn",
          keyTotalOut = Some("n_pairs"))
        ranked
          .filter(expr("rn = (n_pairs + 1) div 2"))
          .select(col("service"), col("n_pairs"), col("dy").as("med_dy"),
            col("dx").as("med_dx"), col("slope").as("theil_slope"))
          .orderBy("service")
      },
      cte("""
        |, grid AS (SELECT service, start_us // 3600000000 AS h, COUNT(*) AS cnt
        |           FROM spans GROUP BY 1, 2),
        |p AS (SELECT a.service, b.cnt - a.cnt AS dy, b.h - a.h AS dx,
        |        CAST(b.cnt - a.cnt AS DOUBLE) / CAST(b.h - a.h AS DOUBLE) AS slope
        |      FROM grid a JOIN grid b ON a.service = b.service AND a.h < b.h),
        |r AS (SELECT *,
        |        ROW_NUMBER() OVER (PARTITION BY service ORDER BY slope, dy, dx) AS rn,
        |        COUNT(*) OVER (PARTITION BY service) AS n_pairs
        |      FROM p)
        |SELECT service, CAST(n_pairs AS BIGINT) AS n_pairs,
        |       CAST(dy AS BIGINT) AS med_dy, CAST(dx AS BIGINT) AS med_dx,
        |       slope AS theil_slope
        |FROM r WHERE rn = (n_pairs + 1) // 2
        |ORDER BY service""".stripMargin)),

    // Service-graph DIFF between the two halves of the retention
    // window — the trend question an operator asks the dependency
    // view: which edges appeared, which disappeared, and which got
    // slower (the reference ecosystem ships this as its trends
    // component; here it is one relational pass over the same
    // child→parent self-join as trace_service_graph). The window
    // midpoint is (min+max) of the span-hour range div 2 — a 1-row
    // broadcast, no data-dependent repartition; per-edge half totals
    // are conditional sums in ONE map-combined agg (no second scan,
    // no full-outer join of two half-aggregates); status/new/removed
    // falls out of a zero count. avg/ratio doubles divide exact long
    // totals in the same operand order on both engines.
    "trace_graph_diff" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir).select("span_id", "parent_span_id", "service",
          "start_us", "duration_us")
        val mid = sp.agg(min(expr(s"start_us div $HourUs")).as("lo"),
            max(expr(s"start_us div $HourUs")).as("hi"))
          .select(expr("(lo + hi) div 2").as("mid_hour"))
        val half = sp.as("c")
          .join(sp.as("p"), col("c.parent_span_id") === col("p.span_id"))
          .select(col("p.service").as("from_service"),
            col("c.service").as("to_service"),
            col("c.start_us").as("start_us"),
            col("c.duration_us").as("duration_us"))
          .crossJoin(broadcast(mid))
          .withColumn("in_a", expr(s"start_us div $HourUs") <= col("mid_hour"))
        val agg = half.groupBy("from_service", "to_service")
          .agg(
            sum(when(col("in_a"), 1L).otherwise(0L)).as("calls_a"),
            sum(when(!col("in_a"), 1L).otherwise(0L)).as("calls_b"),
            sum(when(col("in_a"), col("duration_us")).otherwise(0L)).as("total_a"),
            sum(when(!col("in_a"), col("duration_us")).otherwise(0L)).as("total_b"))
        agg.select(col("from_service"), col("to_service"),
            when(col("calls_a") === 0, lit("new"))
              .when(col("calls_b") === 0, lit("removed"))
              .otherwise(lit("kept")).as("status"),
            col("calls_a"), col("calls_b"),
            when(col("calls_a") > 0,
              round(col("total_a").cast("double") / col("calls_a"), 6)).as("avg_a_us"),
            when(col("calls_b") > 0,
              round(col("total_b").cast("double") / col("calls_b"), 6)).as("avg_b_us"),
            when(col("calls_a") > 0 && col("calls_b") > 0,
              round((col("total_b").cast("double") / col("calls_b")) /
                (col("total_a").cast("double") / col("calls_a")), 6)).as("lat_ratio"))
          .orderBy("from_service", "to_service")
      },
      cte(s"""
        |, mid AS (SELECT (MIN(start_us // $HourUs) + MAX(start_us // $HourUs)) // 2
        |            AS mid_hour FROM spans),
        |e AS (SELECT p.service AS from_service, c.service AS to_service,
        |        c.start_us // $HourUs <= mid.mid_hour AS in_a, c.duration_us
        |      FROM spans c JOIN spans p ON c.parent_span_id = p.span_id
        |      CROSS JOIN mid)
        |SELECT from_service, to_service,
        |  CASE WHEN calls_a = 0 THEN 'new'
        |       WHEN calls_b = 0 THEN 'removed'
        |       ELSE 'kept' END AS status,
        |  calls_a, calls_b,
        |  CASE WHEN calls_a > 0
        |       THEN ROUND(CAST(total_a AS DOUBLE) / calls_a, 6) END AS avg_a_us,
        |  CASE WHEN calls_b > 0
        |       THEN ROUND(CAST(total_b AS DOUBLE) / calls_b, 6) END AS avg_b_us,
        |  CASE WHEN calls_a > 0 AND calls_b > 0
        |       THEN ROUND((CAST(total_b AS DOUBLE) / calls_b)
        |                  / (CAST(total_a AS DOUBLE) / calls_a), 6) END AS lat_ratio
        |FROM (SELECT from_service, to_service,
        |        CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS calls_a,
        |        CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS calls_b,
        |        CAST(SUM(CASE WHEN in_a THEN duration_us ELSE 0 END) AS BIGINT) AS total_a,
        |        CAST(SUM(CASE WHEN in_a THEN 0 ELSE duration_us END) AS BIGINT) AS total_b
        |      FROM e GROUP BY 1, 2) t
        |ORDER BY from_service, to_service""".stripMargin)),

    // Per-service fan-out profile — how many children a span spawns,
    // as a distribution (exact p50/p95/max): the structural question
    // behind "is this service a scatter-gather hub or a chain link?".
    // Children-per-parent is one map-combined agg on the child→parent
    // self-join; the quantiles run on the (service, n_children) COUNT
    // relation (distinct-bounded domain — fan-out values are small
    // integers, so the compact one-window path is the right
    // ExactQuantiles strategy) with n_parents/max/total riding the
    // selection pass as extra aggregates.
    "trace_fanout" -> QueryDef.sql(
      (s, dir) => {
        import graft.operators.ExactQuantiles
        val sp = spans(s, dir).select("span_id", "parent_span_id", "service")
        val ch = sp.as("c")
          .join(sp.as("p"), col("c.parent_span_id") === col("p.span_id"))
          .groupBy(col("p.service").as("service"), col("p.span_id").as("pid"))
          .agg(count(lit(1)).as("n_children"))
        val vc = ch.groupBy("service", "n_children").agg(count(lit(1)).as("cnt"))
        ExactQuantiles.percentilesFromCounts(vc, Seq("service"),
            col("n_children"), weight = col("cnt"),
            pcts = Seq(ExactQuantiles.Disc("p50_children", 1, 2),
              ExactQuantiles.Disc("p95_children", 19, 20)),
            countOut = Some("n_parents"),
            extraAggs = Seq(max("n_children").as("max_children"),
              sum(col("n_children") * col("cnt")).as("total_children")))
          .select("service", "n_parents", "p50_children", "p95_children",
            "max_children", "total_children")
          .orderBy("service")
      },
      cte("""
        |, ch AS (SELECT p.service, p.span_id, COUNT(*) AS n_children
        |         FROM spans c JOIN spans p ON c.parent_span_id = p.span_id
        |         GROUP BY 1, 2)
        |SELECT service, COUNT(*) AS n_parents,
        |  CAST(quantile_disc(n_children, 0.5) AS BIGINT) AS p50_children,
        |  CAST(quantile_disc(n_children, 0.95) AS BIGINT) AS p95_children,
        |  MAX(n_children) AS max_children,
        |  CAST(SUM(n_children) AS BIGINT) AS total_children
        |FROM ch GROUP BY service ORDER BY service""".stripMargin)),

    // Gaps-and-islands: the longest CONSECUTIVE run of slow spans per
    // service (consecutive in start order — an SLO breach streak, not
    // a time-gap session). The rn − rn_slow difference is constant
    // within a streak, so streaks group without self-joins; both
    // window passes ride one service-keyed shuffle.
    "trace_breach_runs" -> QueryDef.sql(
      (s, dir) => {
        val thresholdUs = 100000L
        // Both row_numbers are ShardedWindow two-phase counts sub-
        // sharded on the hour of start_us (monotone in the (start_us,
        // span_id) order for both partitionings), so a hot service
        // numbers in #(service, hour) tasks, not one. The difference
        // of two exact row numbers is unchanged.
        val flagged = spans(s, dir)
          .withColumn("is_slow", (col("duration_us") > thresholdUs).cast("int"))
        val hourShard = expr(s"start_us div $HourUs")
        val ord = Seq(col("start_us"), col("span_id"))
        val rnAll = ShardedWindow.rowNumber(
          flagged, Seq("service"), hourShard, ord, "rn_all")
        val rnSlow = ShardedWindow.rowNumber(
          rnAll, Seq("service", "is_slow"), hourShard, ord, "rn_slow")
        rnSlow
          .withColumn("grp", col("rn_all") - col("rn_slow"))
          .filter(col("is_slow") === 1)
          .groupBy("service", "grp")
          .agg(count(lit(1)).as("run_len"), min("start_us").as("run_start_us"))
          .groupBy("service")
          .agg(max("run_len").as("max_run"),
            count(lit(1)).as("n_runs"),
            min("run_start_us").as("first_run_start_us"))
          .orderBy("service")
      },
      cte(s"""
        |, flagged AS (
        |  SELECT service, span_id, start_us,
        |    CASE WHEN duration_us > 100000 THEN 1 ELSE 0 END AS is_slow,
        |    row_number() OVER (PARTITION BY service ORDER BY start_us, span_id)
        |      - row_number() OVER (PARTITION BY service, CASE WHEN duration_us > 100000 THEN 1 ELSE 0 END
        |                           ORDER BY start_us, span_id) AS grp
        |  FROM spans),
        |runs AS (
        |  SELECT service, grp, COUNT(*) AS run_len, MIN(start_us) AS run_start_us
        |  FROM flagged WHERE is_slow = 1 GROUP BY service, grp)
        |SELECT service, MAX(run_len) AS max_run, COUNT(*) AS n_runs,
        |  MIN(run_start_us) AS first_run_start_us
        |FROM runs GROUP BY service ORDER BY service""".stripMargin)),

    // C149: retry-chain detection — the N+1 sibling every tracing UI
    // ships as "retry storm": maximal runs of SAME-(service, operation)
    // spans inside one trace whose start-to-start gaps stay within the
    // retry horizon (1 day on this corpus' event cadence), reported per
    // service as chain count, longest chain, and spans burned on
    // retries (len − 1 per chain). Gaps-and-islands per
    // (trace, service, operation): the break flag and its running sum
    // share ONE window spec — a single sort inside the trace-grain
    // partitioning (cardinality scales with the corpus, so no one-task
    // key; the same posture as the events→spans lag window itself).
    "trace_retry_chains" -> QueryDef.sql(
      (s, dir) => {
        val w = Window.partitionBy("trace_id", "service", "operation")
          .orderBy("start_us", "span_id")
        val flagged = spans(s, dir)
          .withColumn("brk",
            when(col("start_us") - lag("start_us", 1).over(w) <= DayUs, 0L)
              .otherwise(1L)) // null lag (chain head) lands here too
          .withColumn("chain", sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        flagged.groupBy("trace_id", "service", "operation", "chain")
          .agg(count(lit(1)).as("len"))
          .filter(col("len") >= 2)
          .groupBy("service")
          .agg(count(lit(1)).as("n_retry_chains"),
            max("len").as("max_chain_len"),
            sum(col("len") - 1L).as("n_retried_spans"))
          .orderBy("service")
      },
      cte(s"""
        |, r AS (
        |  SELECT trace_id, service, operation, start_us, span_id,
        |    CASE WHEN start_us - lag(start_us) OVER w <= $DayUs THEN 0 ELSE 1 END AS brk
        |  FROM spans
        |  WINDOW w AS (PARTITION BY trace_id, service, operation ORDER BY start_us, span_id)),
        |c AS (
        |  SELECT service, trace_id, operation,
        |    SUM(brk) OVER (PARTITION BY trace_id, service, operation
        |                   ORDER BY start_us, span_id) AS chain
        |  FROM r),
        |g AS (SELECT service, trace_id, operation, chain, COUNT(*) AS len
        |      FROM c GROUP BY 1, 2, 3, 4)
        |SELECT service, COUNT(*) AS n_retry_chains,
        |  CAST(MAX(len) AS BIGINT) AS max_chain_len,
        |  CAST(SUM(len - 1) AS BIGINT) AS n_retried_spans
        |FROM g WHERE len >= 2 GROUP BY service ORDER BY service""".stripMargin)),

    // Tail-based trace sampling — the collector policy: keep EVERY
    // trace that touched an error, plus a deterministic 10% of healthy
    // traces (md5 of trace_id, the same partition-independent keep
    // rule as corpus_sample_split — resampling a backfill reproduces
    // the identical keep set). One trace-grain agg; the keep decision
    // is row-local after it.
    "trace_sampled" -> QueryDef.sql(
      (s, dir) => spans(s, dir)
        .groupBy("trace_id")
        .agg(count(lit(1)).as("span_count"),
          max(when(col("service") === "error", 1L).otherwise(0L)).as("has_err"))
        .filter(col("has_err") === 1 ||
          pmod(conv(substring(md5(col("trace_id")), 1, 8), 16, 10).cast("long"), lit(100L)) < 10)
        .select(col("trace_id"), col("span_count"), col("has_err"))
        .orderBy("trace_id"),
      cte("""
        |, tr AS (SELECT trace_id, COUNT(*) AS span_count,
        |           MAX(CASE WHEN service = 'error' THEN 1 ELSE 0 END) AS has_err
        |         FROM spans GROUP BY 1)
        |SELECT trace_id, span_count, CAST(has_err AS BIGINT) AS has_err
        |FROM tr
        |WHERE has_err = 1
        |   OR CAST(('0x' || substr(md5(trace_id), 1, 8)) AS BIGINT) % 100 < 10
        |ORDER BY trace_id""".stripMargin)),

    // Peak concurrency per service — the capacity-planning number: how
    // many spans were in flight at once. Classic sweep line: every
    // span contributes (+1 at start, −1 at end) events, a running sum
    // ordered by time walks the profile, MAX is the peak. One
    // service-keyed shuffle carries both the sort and the agg; ties
    // break (time, delta asc) so an end and a start at the same
    // microsecond close before they open — the conservative
    // non-overlapping reading on both engines.
    "trace_concurrency" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir)
        val events = sp.select(col("service"), col("start_us").as("t"), lit(1L).as("delta"))
          .unionByName(sp.select(col("service"),
            (col("start_us") + col("duration_us")).as("t"), lit(-1L).as("delta")))
        // The prefix sum is the ShardedWindow two-phase form sub-
        // sharded on the hour of t: a service's sweep runs in
        // #(service, hour) tasks instead of one. The hour is a pure
        // function of the leading order key t, so (t, delta) ties
        // stay in one shard and the distributed sum is exact.
        ShardedWindow.runningSum(
          events,
          keys = Seq("service"),
          shard = expr(s"t div $HourUs"),
          order = Seq(col("t"), col("delta")),
          value = col("delta"),
          out = "load")
          .groupBy("service")
          .agg(max("load").as("peak_concurrency"), count(lit(1)).as("n_events"))
          .orderBy("service")
      },
      cte("""
        |, ev AS (
        |  SELECT service, start_us AS t, 1 AS delta FROM spans
        |  UNION ALL
        |  SELECT service, start_us + duration_us AS t, -1 AS delta FROM spans),
        |prof AS (
        |  SELECT service,
        |    SUM(delta) OVER (PARTITION BY service ORDER BY t, delta
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS load
        |  FROM ev)
        |SELECT service, CAST(MAX(load) AS BIGINT) AS peak_concurrency,
        |  COUNT(*) AS n_events
        |FROM prof GROUP BY service ORDER BY service""".stripMargin)),

    // Cohort retention matrix — users grouped by first-seen week, the
    // fraction still active k weeks later. Two aggregates and one
    // user-keyed join (the cohort table re-joins activity on the SAME
    // user_id partitioning); rates are single int/int divisions.
    "trace_cohort_retention" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir)
        val weeks = sp.select(col("trace_id"),
          expr(s"(start_us - $T0) div ${7 * DayUs}").as("week"))
        val activity = weeks.distinct()
        val cohorts = weeks.groupBy("trace_id").agg(min("week").as("cohort_week"))
        val sizes = cohorts.groupBy("cohort_week").agg(count(lit(1)).as("cohort_size"))
        activity.join(cohorts, "trace_id")
          .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
          .agg(count(lit(1)).as("n_active"))
          .join(sizes, "cohort_week")
          .select(col("cohort_week"), col("week_offset"), col("n_active"),
            col("cohort_size"),
            round(col("n_active").cast("double") / col("cohort_size"), 6).as("retention"))
          .orderBy("cohort_week", "week_offset")
      },
      cte(s"""
        |, weeks AS (SELECT DISTINCT trace_id,
        |              (start_us - $T0) // ${7 * DayUs} AS week FROM spans),
        |cohorts AS (SELECT trace_id, MIN(week) AS cohort_week FROM weeks GROUP BY 1),
        |sizes AS (SELECT cohort_week, COUNT(*) AS cohort_size FROM cohorts GROUP BY 1),
        |m AS (SELECT c.cohort_week, w.week - c.cohort_week AS week_offset,
        |        COUNT(*) AS n_active
        |      FROM weeks w JOIN cohorts c ON w.trace_id = c.trace_id
        |      GROUP BY 1, 2)
        |SELECT m.cohort_week, m.week_offset, m.n_active, s.cohort_size,
        |  ROUND(CAST(m.n_active AS DOUBLE) / s.cohort_size, 6) AS retention
        |FROM m JOIN sizes s ON m.cohort_week = s.cohort_week
        |ORDER BY m.cohort_week, week_offset""".stripMargin)),

    // Exclusive (self) time attribution — where wall time actually
    // goes: each span's duration minus the time covered by its direct
    // children (clamped at 0 for children that outlive their parent),
    // rolled up per service. The flame-graph "self time" column, the
    // number capacity planning wants instead of inclusive duration
    // (which multi-counts every nested call). Child durations collapse
    // under a partial agg keyed by (trace_id, parent_span_id) BEFORE
    // the join, so the self-join's build side is at most one row per
    // parent span; both sides shuffle on the same composite key. All
    // integer math until the final single division.
    "trace_exclusive_time" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir)
        val childSum = sp.filter(col("parent_span_id").isNotNull)
          .groupBy(col("trace_id").as("c_tid"), col("parent_span_id").as("c_pid"))
          .agg(sum("duration_us").as("child_dur_us"))
        sp.join(childSum,
            sp("trace_id") === childSum("c_tid") && sp("span_id") === childSum("c_pid"),
            "left")
          .select(col("service"), col("duration_us"),
            greatest(col("duration_us") - coalesce(col("child_dur_us"), lit(0L)), lit(0L))
              .as("self_us"))
          .groupBy("service")
          .agg(count(lit(1)).as("n_spans"),
            sum("duration_us").as("total_dur_us"),
            sum("self_us").as("total_self_us"))
          .withColumn("self_frac",
            round(col("total_self_us").cast("double") / col("total_dur_us"), 6))
          .orderBy("service")
      },
      cte("""
        |, cs AS (SELECT trace_id, parent_span_id AS span_id,
        |           SUM(duration_us) AS child_dur_us
        |         FROM spans WHERE parent_span_id IS NOT NULL GROUP BY 1, 2),
        |self AS (
        |  SELECT s.service, s.duration_us,
        |         GREATEST(s.duration_us - COALESCE(cs.child_dur_us, 0), 0) AS self_us
        |  FROM spans s
        |  LEFT JOIN cs ON s.trace_id = cs.trace_id AND s.span_id = cs.span_id)
        |SELECT service, COUNT(*) AS n_spans,
        |  CAST(SUM(duration_us) AS BIGINT) AS total_dur_us,
        |  CAST(SUM(self_us) AS BIGINT) AS total_self_us,
        |  ROUND(CAST(SUM(self_us) AS DOUBLE) / SUM(duration_us), 6) AS self_frac
        |FROM self GROUP BY service ORDER BY service""".stripMargin)),

    // Latency anomaly flags — robust outlier detection per service:
    // median and MAD (median absolute deviation), flag spans beyond
    // 4 MADs. Medians are percentile_disc — an ACTUAL stored long on
    // both engines, so every comparison below is exact integer math
    // and the hash cannot drift. Both medians run through
    // ExactQuantiles.percentilesFromCounts over the (service,
    // duration)->count pre-agg instead of the buffering
    // percentile_disc aggregate: the only corpus-sized pass is the
    // map-combined count shuffle, and every later stage is
    // distinct-duration sized (micros durations repeat heavily, so
    // that domain is bounded at any corpus scale); med/mad are
    // #service-row relations broadcast back onto the count relation.
    "trace_latency_anomaly" -> QueryDef.sql(
      (s, dir) => {
        // ONE full-data shuffle: (service, duration)->count with
        // map-side combine; both medians run weighted over that
        // distinct-value relation (its exchange is shared across the
        // consumers), and the final rollup weighs counts instead of
        // rescanning spans
        val vc = spans(s, dir).groupBy("service", "duration_us")
          .agg(count(lit(1)).as("cnt"))
          .localCheckpoint(eager = false)
        val med = graft.operators.ExactQuantiles.percentilesFromCounts(
          vc, Seq("service"), col("duration_us"), weight = col("cnt"),
          pcts = Seq(graft.operators.ExactQuantiles.Disc("med_us", 1, 2)))
        val dev = vc.join(broadcast(med), "service")
          .select(col("service"), col("cnt"), col("med_us"),
            abs(col("duration_us") - col("med_us")).as("adev"))
        val mad = graft.operators.ExactQuantiles.percentilesFromCounts(
          dev, Seq("service"), col("adev"), weight = col("cnt"),
          pcts = Seq(graft.operators.ExactQuantiles.Disc("mad_us", 1, 2)))
        dev.join(broadcast(mad), "service")
          .groupBy("service")
          .agg(sum("cnt").as("n_spans"),
            max("med_us").as("med_us"),
            max("mad_us").as("mad_us"),
            sum(when(col("adev") > col("mad_us") * 4, col("cnt")).otherwise(0L))
              .as("n_anomalies"))
          .withColumn("anomaly_rate",
            round(col("n_anomalies").cast("double") / col("n_spans"), 6))
          .select("service", "n_spans", "med_us", "mad_us", "n_anomalies",
            "anomaly_rate")
          .orderBy("service")
      },
      cte("""
        |, med AS (SELECT service, quantile_disc(duration_us, 0.5) AS med_us
        |          FROM spans GROUP BY service),
        |dev AS (SELECT s.service, abs(s.duration_us - m.med_us) AS adev, m.med_us
        |        FROM spans s JOIN med m ON s.service = m.service),
        |mad AS (SELECT service, quantile_disc(adev, 0.5) AS mad_us
        |        FROM dev GROUP BY service)
        |SELECT d.service, COUNT(*) AS n_spans,
        |  CAST(MAX(d.med_us) AS BIGINT) AS med_us,
        |  CAST(MAX(mad.mad_us) AS BIGINT) AS mad_us,
        |  CAST(SUM(CASE WHEN d.adev > 4 * mad.mad_us THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_anomalies,
        |  ROUND(CAST(SUM(CASE WHEN d.adev > 4 * mad.mad_us THEN 1 ELSE 0 END) AS DOUBLE)
        |        / COUNT(*), 6) AS anomaly_rate
        |FROM dev d JOIN mad ON d.service = mad.service
        |GROUP BY d.service ORDER BY d.service""".stripMargin)),

    // SLO burn-rate windows — the alerting rollup: per (service, hour),
    // the fraction of spans breaching the 100 ms latency SLO, with a
    // burn flag where the error budget (10%) is exceeded. One partial-
    // aggregated shuffle on (service, hour); the rate is one int/int
    // division and the flag compares exact integers (n_breach * 10 >
    // n_spans avoids the double entirely), so the hash cannot drift on
    // the budget boundary.
    "trace_slo_burn" -> QueryDef.sql(
      (s, dir) => spans(s, dir)
        .groupBy(col("service"), expr(s"start_us div $HourUs").as("hour_bucket"))
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("duration_us") > 100000L, 1L).otherwise(0L)).as("n_breach"))
        .withColumn("breach_rate",
          round(col("n_breach").cast("double") / col("n_spans"), 6))
        .withColumn("burning", (col("n_breach") * 10 > col("n_spans")).cast("long"))
        .orderBy("service", "hour_bucket"),
      cte(s"""
        |SELECT service, start_us // $HourUs AS hour_bucket,
        |  COUNT(*) AS n_spans,
        |  CAST(SUM(CASE WHEN duration_us > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_breach,
        |  ROUND(CAST(SUM(CASE WHEN duration_us > 100000 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / COUNT(*), 6) AS breach_rate,
        |  CAST(CASE WHEN SUM(CASE WHEN duration_us > 100000 THEN 1 ELSE 0 END) * 10 > COUNT(*)
        |       THEN 1 ELSE 0 END AS BIGINT) AS burning
        |FROM spans GROUP BY 1, 2 ORDER BY service, hour_bucket""".stripMargin)),

    // AS-OF join with tolerance — the bounded-staleness variant every
    // real enrichment wants (a purchase ten days before the error is
    // not context): same custom merge-scan plan as q_asof_join, matches
    // farther than 1 h back dropped. For the INNER as-of, tolerance is
    // exactly a post-filter on the matched lag — the filter rides the
    // join's output without re-partitioning anything.
    "q_asof_tolerance" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir)
        val errors = sp.filter(col("service") === "error")
          .select("trace_id", "span_id", "start_us")
        val purchases = sp.filter(col("service") === "purchase")
          .select("trace_id", "span_id", "start_us")
        org.apache.spark.sql.GraftPlanBridge
          .asofJoin(errors, purchases, Seq("trace_id"), "start_us")
          .select(col("trace_id"), col("span_id").as("err_span_id"),
            col("span_id_r").as("purchase_span_id"),
            (col("start_us") - col("start_us_r")).as("lag_us"))
          .filter(col("lag_us") <= HourUs)
          .orderBy("err_span_id")
      },
      cte(s"""SELECT e.trace_id, e.span_id AS err_span_id, p.p_span_id AS purchase_span_id,
            |  e.start_us - p.p_start_us AS lag_us
            |FROM (SELECT trace_id, span_id, start_us FROM spans WHERE service = 'error') e
            |ASOF JOIN (SELECT trace_id, span_id AS p_span_id, start_us AS p_start_us
            |           FROM spans WHERE service = 'purchase') p
            |  ON e.trace_id = p.trace_id AND e.start_us >= p.p_start_us
            |WHERE e.start_us - p.p_start_us <= $HourUs
            |ORDER BY err_span_id""".stripMargin)),

    // Error root-cause attribution: the error spans that STARTED a
    // failure (their parent is absent or healthy), blamed on the
    // calling service — the triage view a tracing UI opens with, and
    // the complement of trace_error_rate's per-day tally. One
    // composite-key shuffle join (err.parent_span_id = parent.span_id
    // within the trace); the error filter runs in the scan stage so
    // only the error slice shuffles, and the aggregate output is
    // ≤ #services × #operations.
    "trace_error_roots" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir)
        val errs = sp.filter(col("service") === "error")
          .select("trace_id", "span_id", "parent_span_id", "operation")
        val parents = sp.select(col("trace_id").as("p_trace_id"),
          col("span_id").as("p_span_id"), col("service").as("p_service"))
        errs.join(parents,
            col("trace_id") === col("p_trace_id") &&
              col("parent_span_id") === col("p_span_id"), "left")
          .filter(col("p_span_id").isNull || col("p_service") =!= "error")
          .groupBy(coalesce(col("p_service"), lit("<root>")).as("caller"),
            col("operation"))
          .agg(count(lit(1)).as("n_root_errors"))
          .orderBy("caller", "operation")
      },
      cte("""SELECT COALESCE(p.service, '<root>') AS caller, e.operation,
            |  COUNT(*) AS n_root_errors
            |FROM (SELECT trace_id, span_id, parent_span_id, operation
            |      FROM spans WHERE service = 'error') e
            |LEFT JOIN (SELECT trace_id, span_id, service FROM spans) p
            |  ON e.trace_id = p.trace_id AND e.parent_span_id = p.span_id
            |WHERE p.span_id IS NULL OR p.service <> 'error'
            |GROUP BY 1, 2 ORDER BY caller, operation""".stripMargin)),

    // Inter-span wait profile: the idle gap between a span's start and
    // its predecessor's end within the trace (queue/network wait; a
    // negative gap is overlap, i.e. async execution), rolled up by the
    // waiting span's service. The APM "where do requests sit idle"
    // view. One trace-keyed window (high-cardinality partition key —
    // parallelism is #traces, not #services) feeding a map-combined
    // ≤ #services aggregate; avg is one division of exact integer
    // partials, so no double accumulation order to drift.
    "trace_span_gap" -> QueryDef.sql(
      (s, dir) => {
        val w = Window.partitionBy("trace_id").orderBy("start_us", "span_id")
        spans(s, dir)
          .withColumn("prev_end",
            lag(col("start_us") + col("duration_us"), 1).over(w))
          .filter(col("prev_end").isNotNull)
          .withColumn("gap_us", col("start_us") - col("prev_end"))
          .groupBy("service")
          .agg(count(lit(1)).as("n_waits"),
            min("gap_us").as("min_gap_us"),
            max("gap_us").as("max_gap_us"),
            sum("gap_us").as("total_gap_us"))
          // exact integer mean (both engines truncate toward zero) —
          // ROUND(double, 6) at this magnitude (~4e10 µs) is below the
          // double's ulp, where the engines' rounding diverges
          .withColumn("avg_gap_us", expr("total_gap_us div n_waits"))
          .orderBy("service")
      },
      cte("""
        |, g AS (SELECT service, start_us -
        |          lag(start_us + duration_us) OVER
        |            (PARTITION BY trace_id ORDER BY start_us, span_id) AS gap_us
        |        FROM spans)
        |SELECT service, COUNT(*) AS n_waits,
        |  MIN(gap_us) AS min_gap_us, MAX(gap_us) AS max_gap_us,
        |  CAST(SUM(gap_us) AS BIGINT) AS total_gap_us,
        |  CAST(SUM(gap_us) AS BIGINT) // COUNT(*) AS avg_gap_us
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY service ORDER BY service""".stripMargin)),

    // Duration heatmap: (hour, log2-duration-bucket) span counts — the
    // latency heatmap a tracing UI renders over time. The log2 bucket
    // is the BINARY DIGIT COUNT of the duration (length of the base-2
    // rendering: integer-exact on both engines, no floating log2 at
    // power-of-two edges). Pure map-side-combined aggregate; output is
    // #hours × ~40 buckets regardless of input scale.
    "trace_duration_heatmap" -> QueryDef.sql(
      (s, dir) => spans(s, dir)
        .groupBy(expr(s"(start_us - $T0) div $HourUs").as("hour_bucket"),
          length(conv(col("duration_us"), 10, 2)).cast("long").as("dur_bits"))
        .agg(count(lit(1)).as("n_spans"))
        .orderBy("hour_bucket", "dur_bits"),
      cte(s"""SELECT CAST((start_us - $T0) // $HourUs AS BIGINT) AS hour_bucket,
            |  CAST(length(bin(duration_us)) AS BIGINT) AS dur_bits,
            |  COUNT(*) AS n_spans
            |FROM spans GROUP BY 1, 2 ORDER BY hour_bucket, dur_bits""".stripMargin)),

    // Orphan-rate health rollup: the reader refuses traces containing a
    // span whose parentId resolves to no span of the trace (reference
    // reader/.../validators/ParentIdValidator.scala:30-36); at corpus
    // scale the operational question is the RATE of such spans per
    // service when ingest is lossy. The synthesized chain tree is
    // complete by construction, so the surface simulates the lossy
    // ingest a production pipeline sees: a deterministic md5 bucket
    // drops 1/16 of spans, and a surviving span is an orphan when its
    // parent was among the dropped. Plan: the drop predicate is a
    // scan-stage filter; orphanhood is ONE left join of the kept spans
    // to the kept span-ids on (trace_id, parent=span) — span_ids are
    // globally unique here but the trace-scoped join mirrors the
    // validator's per-trace set semantics — then a map-combined
    // ≤ #services aggregate. ppm by integer div: no double rounding to
    // drift between engines.
    "trace_orphan_rate" -> QueryDef.sql(
      (s, dir) => {
        val kept = spans(s, dir)
          .filter(substring(md5(col("span_id").cast("string").cast("binary")), 1, 1) =!= "0")
          .select("trace_id", "span_id", "parent_span_id", "service")
        val parents = kept.select(col("trace_id"), col("span_id").as("pid"))
        kept.join(parents,
            kept("trace_id") === parents("trace_id") &&
              kept("parent_span_id") === parents("pid"), "left")
          .groupBy("service")
          .agg(count(lit(1)).as("n_spans"),
            sum(when(col("parent_span_id").isNotNull && col("pid").isNull, 1L)
              .otherwise(0L)).as("n_orphans"))
          .withColumn("orphan_ppm", expr("(n_orphans * 1000000) div n_spans"))
          .orderBy("service")
      },
      cte("""
        |, kept AS (SELECT trace_id, span_id, parent_span_id, service
        |           FROM spans
        |           WHERE substr(md5(CAST(span_id AS VARCHAR)), 1, 1) <> '0'),
        |j AS (SELECT k.service, k.parent_span_id, p.span_id AS pid
        |      FROM kept k LEFT JOIN kept p
        |        ON k.trace_id = p.trace_id AND k.parent_span_id = p.span_id)
        |SELECT service, COUNT(*) AS n_spans,
        |  CAST(SUM(CASE WHEN parent_span_id IS NOT NULL AND pid IS NULL
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
        |  (CAST(SUM(CASE WHEN parent_span_id IS NOT NULL AND pid IS NULL
        |                 THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // COUNT(*) AS orphan_ppm
        |FROM j GROUP BY service ORDER BY service""".stripMargin)),

    // C59: Apdex per service — the canonical user-satisfaction rollup
    // over span latencies (satisfied ≤ T, tolerating ≤ 4T, frustrated
    // beyond; T = 50 ms against this corpus's 10 µs–490 ms duration
    // spread). One map-combined aggregate per service; the score is
    // kept in exact per-mille integer arithmetic
    // ((sat*1000 + tol*500) div n) so no double summation can drift
    // between engines. At 100 TB this is a scan + one k-row shuffle.
    "trace_apdex" -> QueryDef.sql(
      (s, dir) => {
        val T = 50000L
        spans(s, dir)
          .select(col("service"),
            when(col("duration_us") <= T, 1L).otherwise(0L).as("sat"),
            when(col("duration_us") > T && col("duration_us") <= 4 * T, 1L)
              .otherwise(0L).as("tol"))
          .groupBy("service")
          .agg(count(lit(1)).as("n_spans"),
            sum("sat").as("satisfied"),
            sum("tol").as("tolerating"))
          .withColumn("frustrated", col("n_spans") - col("satisfied") - col("tolerating"))
          .withColumn("apdex_pm",
            expr("(satisfied * 1000 + tolerating * 500) div n_spans"))
          .orderBy("service")
      },
      cte("""
        |SELECT service, COUNT(*) AS n_spans,
        |  CAST(SUM(CASE WHEN duration_us <= 50000 THEN 1 ELSE 0 END) AS BIGINT) AS satisfied,
        |  CAST(SUM(CASE WHEN duration_us > 50000 AND duration_us <= 200000 THEN 1 ELSE 0 END) AS BIGINT) AS tolerating,
        |  COUNT(*) - CAST(SUM(CASE WHEN duration_us <= 50000 THEN 1 ELSE 0 END) AS BIGINT)
        |           - CAST(SUM(CASE WHEN duration_us > 50000 AND duration_us <= 200000 THEN 1 ELSE 0 END) AS BIGINT) AS frustrated,
        |  (CAST(SUM(CASE WHEN duration_us <= 50000 THEN 1 ELSE 0 END) AS BIGINT) * 1000
        |   + CAST(SUM(CASE WHEN duration_us > 50000 AND duration_us <= 200000 THEN 1 ELSE 0 END) AS BIGINT) * 500)
        |   // COUNT(*) AS apdex_pm
        |FROM spans GROUP BY service ORDER BY service""".stripMargin)),

    // C60: tail-based sampling decision — the policy an assembled-trace
    // sampler applies before the store write: keep traces breaching the
    // error BUDGET (error-span share > 25 % against this corpus's 20 %
    // uniform baseline — an any-error rule would keep everything here),
    // traces whose slowest span crosses the latency gate, and a
    // deterministic 1/8 hash sample of the rest (md5 head nibble ∈
    // {0,1} — the md5-bucket idiom trace_store_blobs samples by,
    // reproducible in any engine). Reason precedence error > slow >
    // sampled mirrors how samplers report WHY a trace survived. Shape:
    // one map-combined groupBy(trace_id) carrying conditional flags —
    // at 100 TB this is the span-buffer shuffle every assembler
    // already pays, no extra pass.
    "trace_tail_sampling" -> QueryDef.sql(
      (s, dir) => {
        val SlowUs = 485000L
        spans(s, dir)
          .groupBy("trace_id")
          .agg(count(lit(1)).as("span_count"),
            sum(when(col("service") === "error", 1L).otherwise(0L)).as("err_spans"),
            max("duration_us").as("max_dur_us"))
          .withColumn("sampled_in",
            when(substring(md5(col("trace_id").cast("binary")), 1, 1).isin("0", "1"), 1L)
              .otherwise(0L))
          .withColumn("reason",
            when(col("err_spans") * 1000L > col("span_count") * 250L, "error")
              .when(col("max_dur_us") > SlowUs, "slow")
              .when(col("sampled_in") === 1L, "sampled")
              .otherwise("drop"))
          .filter(col("reason") =!= "drop")
          .select("trace_id", "span_count", "err_spans", "max_dur_us", "reason")
          .orderBy("trace_id")
      },
      cte("""
        |, t AS (SELECT trace_id, COUNT(*) AS span_count,
        |         CAST(SUM(CASE WHEN service = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS err_spans,
        |         MAX(duration_us) AS max_dur_us
        |       FROM spans GROUP BY trace_id)
        |SELECT trace_id, span_count, err_spans, max_dur_us,
        |  CASE WHEN err_spans * 1000 > span_count * 250 THEN 'error'
        |       WHEN max_dur_us > 485000 THEN 'slow'
        |       ELSE 'sampled' END AS reason
        |FROM t
        |WHERE err_spans * 1000 > span_count * 250 OR max_dur_us > 485000
        |   OR substr(md5(trace_id), 1, 1) IN ('0', '1')
        |ORDER BY trace_id""".stripMargin)),

    // C61: waterfall view — the per-span rows a trace-detail UI renders:
    // start offset relative to the trace root's start, duration, and the
    // start-order rank, for a pinned trace set (the getTrace access
    // pattern). The trace predicate is applied to the RAW key column
    // before span derivation — trace-granular filters commute with the
    // per-trace lag window, and a filter on the bare long reaches the
    // parquet scan as In(user_id, ...), where the string-cast trace_id
    // form would not unwrap (plan-spec pinned). Then one partition-local
    // window per trace — never a corpus-wide sort.
    "trace_waterfall" -> QueryDef.sql(
      (s, dir) => {
        val w = Window.partitionBy("trace_id")
        val order = Window.partitionBy("trace_id").orderBy("start_us", "span_id")
        SpanOps.spansFromEvents(
            Tables.events(s, dir).filter(col("user_id").isin(0L, 1L, 2L)))
          .withColumn("offset_us", col("start_us") - min("start_us").over(w))
          .withColumn("pos", row_number().over(order).cast("long"))
          .select("trace_id", "pos", "span_id", "parent_span_id", "service",
            "operation", "offset_us", "duration_us")
          .orderBy("trace_id", "pos")
      },
      cte("""
        |SELECT trace_id,
        |  CAST(row_number() OVER (PARTITION BY trace_id ORDER BY start_us, span_id) AS BIGINT) AS pos,
        |  span_id, parent_span_id, service, operation,
        |  start_us - MIN(start_us) OVER (PARTITION BY trace_id) AS offset_us,
        |  duration_us
        |FROM spans WHERE trace_id IN ('0', '1', '2')
        |ORDER BY trace_id, pos""".stripMargin)),

    // C147: flamegraph SELF-TIME — per service, how much of its spans'
    // duration is NOT covered by direct-child spans (the number a
    // flamegraph colors the frame with; total time alone misattributes
    // parents that merely wait on children). The demo span relation is
    // chain-shaped, so the surface imposes the same deterministic
    // heap-shaped tree as trace_critical_path / trace_call_graph:
    // pos = rank by (start_us, span_id) within the trace, parent(pos) =
    // pos div 2 — real branching without touching the generator. With
    // <= 2 children per node the covered time is the closed-form
    // two-interval union clipped to the parent (o1 + o2 − pairwise
    // intersection), all exact integer arithmetic on both engines
    // (null guards explicit — GREATEST/LEAST null semantics differ
    // between engines, so no null ever reaches them). Scale: one
    // trace-keyed window, ONE (trace, pos)-keyed join against the
    // child relation, map-combined |services|-row rollup.
    "trace_self_time" -> QueryDef.sql(
      (s, dir) => {
        val order = Window.partitionBy("trace_id").orderBy("start_us", "span_id")
        val pos = spans(s, dir)
          .select(col("trace_id"), col("span_id"), col("service"),
            col("start_us"), col("duration_us"))
          .withColumn("pos", row_number().over(order).cast("long"))
          .localCheckpoint() // parents + children both read it
        val kids = pos.filter(col("pos") >= 2)
          .select(col("trace_id").as("t2"), expr("pos div 2").as("ppos"),
            (col("pos") % 2).as("side"), col("start_us").as("cs"),
            (col("start_us") + col("duration_us")).as("ce"))
        val fam = pos.join(kids,
            col("trace_id") === col("t2") && col("pos") === col("ppos"), "left")
          .groupBy("trace_id", "span_id", "service", "start_us", "duration_us")
          .agg(
            max(when(col("side") === 0, col("cs"))).as("s1"),
            max(when(col("side") === 0, col("ce"))).as("e1"),
            max(when(col("side") === 1, col("cs"))).as("s2"),
            max(when(col("side") === 1, col("ce"))).as("e2"))
        val endc = col("start_us") + col("duration_us")
        val ov1 = when(col("s1").isNotNull,
          greatest(lit(0L), least(col("e1"), endc) - greatest(col("s1"), col("start_us"))))
          .otherwise(0L)
        val ov2 = when(col("s2").isNotNull,
          greatest(lit(0L), least(col("e2"), endc) - greatest(col("s2"), col("start_us"))))
          .otherwise(0L)
        val inter = when(col("s1").isNotNull && col("s2").isNotNull,
          greatest(lit(0L),
            least(col("e1"), col("e2"), endc) -
              greatest(col("s1"), col("s2"), col("start_us"))))
          .otherwise(0L)
        fam.withColumn("self_us", col("duration_us") - (ov1 + ov2 - inter))
          .groupBy("service")
          .agg(count(lit(1)).as("n_spans"),
            sum("duration_us").as("total_us"),
            sum("self_us").as("self_us"))
          .orderBy("service")
      },
      cte("""
        |, p AS (
        |  SELECT trace_id, span_id, service, start_us, duration_us,
        |    CAST(row_number() OVER (PARTITION BY trace_id ORDER BY start_us, span_id) AS BIGINT) AS pos
        |  FROM spans),
        |kids AS (SELECT trace_id, pos // 2 AS ppos, pos % 2 AS side,
        |           start_us AS cs, start_us + duration_us AS ce
        |         FROM p WHERE pos >= 2),
        |fam AS (
        |  SELECT p.trace_id, p.span_id, p.service, p.start_us, p.duration_us,
        |    MAX(CASE WHEN side = 0 THEN cs END) AS s1,
        |    MAX(CASE WHEN side = 0 THEN ce END) AS e1,
        |    MAX(CASE WHEN side = 1 THEN cs END) AS s2,
        |    MAX(CASE WHEN side = 1 THEN ce END) AS e2
        |  FROM p LEFT JOIN kids k ON k.trace_id = p.trace_id AND k.ppos = p.pos
        |  GROUP BY 1, 2, 3, 4, 5),
        |sv AS (
        |  SELECT service, duration_us,
        |    duration_us
        |      - (CASE WHEN s1 IS NOT NULL
        |              THEN GREATEST(0, LEAST(e1, start_us + duration_us)
        |                             - GREATEST(s1, start_us)) ELSE 0 END
        |         + CASE WHEN s2 IS NOT NULL
        |                THEN GREATEST(0, LEAST(e2, start_us + duration_us)
        |                               - GREATEST(s2, start_us)) ELSE 0 END
        |         - CASE WHEN s1 IS NOT NULL AND s2 IS NOT NULL
        |                THEN GREATEST(0, LEAST(e1, e2, start_us + duration_us)
        |                               - GREATEST(s1, s2, start_us)) ELSE 0 END)
        |      AS self_us
        |  FROM fam)
        |SELECT service, COUNT(*) AS n_spans,
        |  CAST(SUM(duration_us) AS BIGINT) AS total_us,
        |  CAST(SUM(self_us) AS BIGINT) AS self_us
        |FROM sv GROUP BY service ORDER BY service""".stripMargin)),

    // C90: Allen interval-algebra classification — the thirteen-way
    // temporal-relation operator (precedes/meets/overlaps/contains/
    // starts/equals + inverses collapse to 8 cases once pairs are
    // ordered by start), run over per-trace SERVICE ACTIVITY
    // intervals ([min start, max end] of each service's spans inside
    // a trace — raw spans in this corpus are sub-second on hour-apart
    // starts, so span-level pairs are all 'precedes'; activity
    // windows genuinely interleave). Scale: ONE trace-keyed shuffle
    // builds ≤ |services| intervals per trace; the pair join fans out
    // ≤ C(|services|,2) rows per trace row-locally; classification is
    // a row-local CASE; rollup map-combines to ≤ 8·|services|² cells.
    "trace_allen_relations" -> QueryDef.sql(
      (s, dir) => {
        val iv = spans(s, dir)
          .groupBy("trace_id", "service")
          .agg(min("start_us").as("s"),
            max(col("start_us") + col("duration_us")).as("e"))
        val a = iv.select(col("trace_id"), col("service").as("sv_x"),
          col("s").as("sx"), col("e").as("ex"))
        val b = iv.select(col("trace_id").as("t2"), col("service").as("sv_y"),
          col("s").as("sy"), col("e").as("ey"))
        val pairs = a.join(b, col("trace_id") === col("t2") && col("sv_x") < col("sv_y"))
          .withColumn("xFirst",
            struct(col("sx"), col("sv_x")) <= struct(col("sy"), col("sv_y")))
          .select(
            when(col("xFirst"), col("sv_x")).otherwise(col("sv_y")).as("svc_a"),
            when(col("xFirst"), col("sv_y")).otherwise(col("sv_x")).as("svc_b"),
            when(col("xFirst"), col("sx")).otherwise(col("sy")).as("s1"),
            when(col("xFirst"), col("ex")).otherwise(col("ey")).as("e1"),
            when(col("xFirst"), col("sy")).otherwise(col("sx")).as("s2"),
            when(col("xFirst"), col("ey")).otherwise(col("ex")).as("e2"))
        pairs
          .withColumn("relation",
            when(col("s1") === col("s2"),
              when(col("e1") === col("e2"), "equals")
                .when(col("e1") < col("e2"), "starts").otherwise("started_by"))
              .when(col("e1") < col("s2"), "precedes")
              .when(col("e1") === col("s2"), "meets")
              .when(col("e1") < col("e2"), "overlaps")
              .when(col("e1") === col("e2"), "finished_by")
              .otherwise("contains"))
          .groupBy("relation", "svc_a", "svc_b")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("relation", "svc_a", "svc_b")
      },
      cte("""
        |, iv AS (SELECT trace_id, service, MIN(start_us) AS s,
        |           MAX(start_us + duration_us) AS e
        |         FROM spans GROUP BY 1, 2),
        |pairs AS (
        |  SELECT
        |    CASE WHEN (x.s, x.service) <= (y.s, y.service) THEN x.service ELSE y.service END AS svc_a,
        |    CASE WHEN (x.s, x.service) <= (y.s, y.service) THEN y.service ELSE x.service END AS svc_b,
        |    CASE WHEN (x.s, x.service) <= (y.s, y.service) THEN x.s ELSE y.s END AS s1,
        |    CASE WHEN (x.s, x.service) <= (y.s, y.service) THEN x.e ELSE y.e END AS e1,
        |    CASE WHEN (x.s, x.service) <= (y.s, y.service) THEN y.s ELSE x.s END AS s2,
        |    CASE WHEN (x.s, x.service) <= (y.s, y.service) THEN y.e ELSE x.e END AS e2
        |  FROM iv x JOIN iv y ON x.trace_id = y.trace_id AND x.service < y.service)
        |SELECT CASE WHEN s1 = s2 THEN
        |              CASE WHEN e1 = e2 THEN 'equals'
        |                   WHEN e1 < e2 THEN 'starts' ELSE 'started_by' END
        |            WHEN e1 < s2 THEN 'precedes'
        |            WHEN e1 = s2 THEN 'meets'
        |            WHEN e1 < e2 THEN 'overlaps'
        |            WHEN e1 = e2 THEN 'finished_by'
        |            ELSE 'contains' END AS relation,
        |       svc_a, svc_b, COUNT(*) AS n_pairs
        |FROM pairs
        |GROUP BY 1, 2, 3 ORDER BY relation, svc_a, svc_b""".stripMargin)),

    // C91: cumulative distinct users — "total unique users seen per
    // service, by day" done EXACTLY and incrementally: a user's
    // contribution is fully determined by their FIRST day with the
    // service (the text_vocab_growth min-checkpoint idea on the trace
    // domain), so one (service, user)→min(day) map-combined pass +
    // a ≤ |services|·31 daily rollup + a running sum replaces any
    // per-day COUNT(DISTINCT) rescan. The running sum is
    // [[ShardedWindow.runningSum]] (shard = day div 8) — at 100 TB
    // the biggest service never cumulates in one task.
    "trace_cumulative_users" -> QueryDef.sql(
      (s, dir) => {
        val first = spans(s, dir)
          .groupBy(col("service"), col("trace_id"))
          .agg(min(expr(s"start_us div $DayUs")).as("first_day"))
        val daily = first.groupBy(col("service"), col("first_day").as("day"))
          .agg(count(lit(1)).as("new_users"))
        ShardedWindow.runningSum(daily, Seq("service"), expr("day div 8"),
          Seq(col("day")), col("new_users"), "cum_users")
          .orderBy("service", "day")
      },
      cte("""
        |, f AS (SELECT service, trace_id,
        |          MIN(start_us // 86400000000) AS first_day
        |        FROM spans GROUP BY 1, 2),
        |d AS (SELECT service, first_day AS day, COUNT(*) AS new_users
        |      FROM f GROUP BY 1, 2)
        |SELECT service, day, new_users,
        |  CAST(SUM(new_users) OVER (PARTITION BY service ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM d ORDER BY service, day""".stripMargin)),

    // C79: N+1 call antipattern — the classic APM smell: one trace
    // issuing the SAME (service, operation) call many times where a
    // batch call would do (reference ecosystem surfaces this in the
    // haystack UI's trace analysis). A trace is flagged for a call
    // signature when it repeats >= 6 times; the report rolls up per
    // signature: how many traces exhibit it, the worst repeat count,
    // and the total excess calls (n - 1 per flagged trace) a batching
    // fix would remove. Scale: ONE map-combined groupBy on
    // (trace_id, service, operation) — the span-buffer shuffle the
    // assembler already pays — then a ≤ #signatures rollup.
    "trace_nplus1" -> QueryDef.sql(
      (s, dir) => {
        spans(s, dir)
          .groupBy("trace_id", "service", "operation")
          .agg(count(lit(1)).as("n"))
          .filter(col("n") >= 6L)
          .groupBy("service", "operation")
          .agg(count(lit(1)).as("n_traces_flagged"),
            max("n").as("max_repeats"),
            sum(col("n") - 1L).as("excess_calls"))
          .orderBy("service", "operation")
      },
      cte("""
        |, g AS (SELECT trace_id, service, operation, COUNT(*) AS n
        |        FROM spans GROUP BY 1, 2, 3)
        |SELECT service, operation, COUNT(*) AS n_traces_flagged,
        |       CAST(MAX(n) AS BIGINT) AS max_repeats,
        |       CAST(SUM(n - 1) AS BIGINT) AS excess_calls
        |FROM g WHERE n >= 6
        |GROUP BY service, operation
        |ORDER BY service, operation""".stripMargin)),

    // C80: dependency-cycle detection — mutual reachability over the
    // service graph (a calls-into b AND b calls-into a, possibly
    // transitively): the architecture-health question a dependency
    // view exists to answer, since call cycles break incident blast
    // radius reasoning and deploy ordering. Built on
    // GraphOps.reachability's BFS-frontier closure (log-ish rounds,
    // per-round lineage truncation); the cycle join runs on the
    // ≤ #services² closure, never on spans. Oracle: one recursive CTE
    // closure joined to itself swapped.
    "trace_cycle_detect" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir).select("span_id", "parent_span_id", "service")
        val child = sp.filter(col("parent_span_id").isNotNull)
          .select(col("parent_span_id").as("pid"), col("service").as("callee"))
        val parent = sp.select(col("span_id").as("sid"), col("service").as("caller"))
        val edges = child.join(parent, col("pid") === col("sid"))
          .filter(col("caller") =!= col("callee"))
          .select(col("caller").as("src"), col("callee").as("dst"))
        val closure = graft.operators.GraphOps.reachability(edges, "src", "dst")
        val back = closure.select(col("src").as("bsrc"), col("dst").as("bdst"),
          col("hops").as("back_hops"))
        closure.join(back, col("src") === col("bdst") && col("dst") === col("bsrc"))
          .filter(col("src") < col("dst"))
          .select(col("src").as("service_a"), col("dst").as("service_b"),
            col("hops").as("hops_ab"), col("back_hops").as("hops_ba"))
          .orderBy("service_a", "service_b")
      },
      cte("""
        |, e AS (SELECT DISTINCT p.service AS src, c.service AS dst
        |        FROM spans c JOIN spans p ON c.parent_span_id = p.span_id
        |        WHERE p.service <> c.service),
        |cl AS (
        |  WITH RECURSIVE r AS (
        |    SELECT src, dst, 1 AS hops FROM e
        |    UNION
        |    SELECT r.src, e.dst, r.hops + 1 FROM r JOIN e ON r.dst = e.src
        |    WHERE r.hops < 8)
        |  SELECT src, dst, CAST(MIN(hops) AS BIGINT) AS hops FROM r GROUP BY 1, 2)
        |SELECT a.src AS service_a, a.dst AS service_b,
        |       a.hops AS hops_ab, b.hops AS hops_ba
        |FROM cl a JOIN cl b ON a.src = b.dst AND a.dst = b.src
        |WHERE a.src < a.dst
        |ORDER BY service_a, service_b""".stripMargin)),

    // C81: EWMA-smoothed latency trend — the standard dashboard
    // smoothing statistic, made exactly reproducible: a 6-lag
    // truncated exponential moving average (alpha = 1/4) over hourly
    // FLOOR-mean latencies per service. The geometric weights are the
    // exact integers 3^i * 4^(5-i) in [1024..243]; numerator and
    // denominator stay in long arithmetic over available lags (early
    // hours renormalize over the lags that exist), and the single
    // output division of two exact longs is bit-identical on both
    // engines. Scale: the corpus collapses to the <= 744*|services|
    // hourly relation in ONE map-combined aggregate; the lag chain is
    // a per-service window over that tiny relation.
    "trace_latency_ewma" -> QueryDef.sql(
      (s, dir) => {
        val hourly = spans(s, dir)
          .groupBy(col("service"), expr(s"start_us div $HourUs").as("hr"))
          .agg(expr("sum(duration_us) div count(1)").as("mean_us"))
        val w = Window.partitionBy("service").orderBy("hr")
        val weights = Seq(1024L, 768L, 576L, 432L, 324L, 243L)
        val lagged = (1 to 5).foldLeft(hourly.withColumn("m0", col("mean_us"))) {
          case (df, i) => df.withColumn(s"m$i", lag("mean_us", i).over(w))
        }
        val num = weights.zipWithIndex.map { case (wt, i) =>
          coalesce(col(s"m$i") * wt, lit(0L)) }.reduce(_ + _)
        val den = weights.zipWithIndex.map { case (wt, i) =>
          when(col(s"m$i").isNotNull, lit(wt)).otherwise(lit(0L)) }.reduce(_ + _)
        lagged
          .withColumn("ewma_us", num.cast("double") / den.cast("double"))
          .select("service", "hr", "mean_us", "ewma_us")
          .orderBy("service", "hr")
      },
      cte("""
        |, h AS (SELECT service, start_us // 3600000000 AS hr,
        |          CAST(SUM(duration_us) // COUNT(*) AS BIGINT) AS mean_us
        |        FROM spans GROUP BY 1, 2),
        |l AS (SELECT service, hr, mean_us,
        |        lag(mean_us, 1) OVER w AS m1, lag(mean_us, 2) OVER w AS m2,
        |        lag(mean_us, 3) OVER w AS m3, lag(mean_us, 4) OVER w AS m4,
        |        lag(mean_us, 5) OVER w AS m5
        |      FROM h WINDOW w AS (PARTITION BY service ORDER BY hr))
        |SELECT service, hr, mean_us,
        |  CAST(mean_us * 1024 + COALESCE(m1 * 768, 0) + COALESCE(m2 * 576, 0)
        |     + COALESCE(m3 * 432, 0) + COALESCE(m4 * 324, 0) + COALESCE(m5 * 243, 0)
        |     AS DOUBLE)
        |  / CAST(1024 + CASE WHEN m1 IS NULL THEN 0 ELSE 768 END
        |       + CASE WHEN m2 IS NULL THEN 0 ELSE 576 END
        |       + CASE WHEN m3 IS NULL THEN 0 ELSE 432 END
        |       + CASE WHEN m4 IS NULL THEN 0 ELSE 324 END
        |       + CASE WHEN m5 IS NULL THEN 0 ELSE 243 END AS DOUBLE) AS ewma_us
        |FROM l ORDER BY service, hr""".stripMargin)),

    // C101: all-pairs weighted shortest path over the service graph —
    // "what is the cheapest call chain between any two services" — by
    // min-plus MATRIX SQUARING: 3 rounds of self-join + group-min
    // cover every path of <= 8 edges (vs 8 rounds of Bellman-Ford
    // relaxation; log-rounds is what survives a deep graph at scale —
    // the iterate is always the pair-keyed distance relation, never
    // the raw corpus, and every round shuffles on the same (src,dst)
    // keys). Edge weight = exact floor-mean latency per edge. Cyclic
    // graphs are fine: a pair (s,s) row reports the cheapest cycle
    // through s. The oracle unrolls the same 3 squarings.
    "trace_shortest_path" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir).select("span_id", "parent_span_id", "service",
          "duration_us")
        val edges = sp.as("c")
          .join(sp.as("p"), col("c.parent_span_id") === col("p.span_id"))
          .filter(col("p.service") =!= col("c.service"))
          .groupBy(col("p.service").as("src"), col("c.service").as("dst"))
          .agg(expr("sum(c.duration_us) div count(1)").as("w"))
        var d = edges.localCheckpoint()
        for (_ <- 1 to 3) {
          val via = d.as("x").join(d.as("y"), col("x.dst") === col("y.src"))
            .select(col("x.src").as("src"), col("y.dst").as("dst"),
              (col("x.w") + col("y.w")).as("w"))
          val next = d.union(via).groupBy("src", "dst")
            .agg(min("w").as("w")).localCheckpoint()
          d.unpersist()
          d = next
        }
        d.select(col("src").as("from_service"), col("dst").as("to_service"),
            col("w").as("min_total_us"))
          .orderBy("from_service", "to_service")
      },
      cte("""
        |, e AS MATERIALIZED (
        |  SELECT p.service AS src, c.service AS dst,
        |         SUM(c.duration_us) // COUNT(*) AS w
        |  FROM spans c JOIN spans p ON c.parent_span_id = p.span_id
        |  WHERE p.service <> c.service GROUP BY 1, 2),
        |d1 AS MATERIALIZED (
        |  SELECT src, dst, MIN(w) AS w FROM (
        |    SELECT src, dst, w FROM e
        |    UNION ALL SELECT x.src, y.dst, x.w + y.w
        |    FROM e x JOIN e y ON x.dst = y.src) u GROUP BY 1, 2),
        |d2 AS MATERIALIZED (
        |  SELECT src, dst, MIN(w) AS w FROM (
        |    SELECT src, dst, w FROM d1
        |    UNION ALL SELECT x.src, y.dst, x.w + y.w
        |    FROM d1 x JOIN d1 y ON x.dst = y.src) u GROUP BY 1, 2),
        |d3 AS MATERIALIZED (
        |  SELECT src, dst, MIN(w) AS w FROM (
        |    SELECT src, dst, w FROM d2
        |    UNION ALL SELECT x.src, y.dst, x.w + y.w
        |    FROM d2 x JOIN d2 y ON x.dst = y.src) u GROUP BY 1, 2)
        |SELECT src AS from_service, dst AS to_service,
        |       CAST(w AS BIGINT) AS min_total_us
        |FROM d3 ORDER BY 1, 2""".stripMargin)),

    // C112: worst-case call chain — the MAX-plus mirror of
    // trace_shortest_path (same 3 squaring rounds, same pair-keyed
    // relations, max instead of min): the most expensive ≤8-edge path
    // between every service pair under floor-mean edge latencies —
    // the capacity-planning bound ("if calls chain badly, how slow
    // can A→B get"). Well-defined on cyclic graphs because the edge
    // bound caps the walk.
    "trace_worst_path" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir).select("span_id", "parent_span_id", "service",
          "duration_us")
        val edges = sp.as("c")
          .join(sp.as("p"), col("c.parent_span_id") === col("p.span_id"))
          .filter(col("p.service") =!= col("c.service"))
          .groupBy(col("p.service").as("src"), col("c.service").as("dst"))
          .agg(expr("sum(c.duration_us) div count(1)").as("w"))
        var d = edges.localCheckpoint()
        for (_ <- 1 to 3) {
          val via = d.as("x").join(d.as("y"), col("x.dst") === col("y.src"))
            .select(col("x.src").as("src"), col("y.dst").as("dst"),
              (col("x.w") + col("y.w")).as("w"))
          val next = d.union(via).groupBy("src", "dst")
            .agg(max("w").as("w")).localCheckpoint()
          d.unpersist()
          d = next
        }
        d.select(col("src").as("from_service"), col("dst").as("to_service"),
            col("w").as("max_total_us"))
          .orderBy("from_service", "to_service")
      },
      cte("""
        |, e AS MATERIALIZED (
        |  SELECT p.service AS src, c.service AS dst,
        |         SUM(c.duration_us) // COUNT(*) AS w
        |  FROM spans c JOIN spans p ON c.parent_span_id = p.span_id
        |  WHERE p.service <> c.service GROUP BY 1, 2),
        |d1 AS MATERIALIZED (
        |  SELECT src, dst, MAX(w) AS w FROM (
        |    SELECT src, dst, w FROM e
        |    UNION ALL SELECT x.src, y.dst, x.w + y.w
        |    FROM e x JOIN e y ON x.dst = y.src) u GROUP BY 1, 2),
        |d2 AS MATERIALIZED (
        |  SELECT src, dst, MAX(w) AS w FROM (
        |    SELECT src, dst, w FROM d1
        |    UNION ALL SELECT x.src, y.dst, x.w + y.w
        |    FROM d1 x JOIN d1 y ON x.dst = y.src) u GROUP BY 1, 2),
        |d3 AS MATERIALIZED (
        |  SELECT src, dst, MAX(w) AS w FROM (
        |    SELECT src, dst, w FROM d2
        |    UNION ALL SELECT x.src, y.dst, x.w + y.w
        |    FROM d2 x JOIN d2 y ON x.dst = y.src) u GROUP BY 1, 2)
        |SELECT src AS from_service, dst AS to_service,
        |       CAST(w AS BIGINT) AS max_total_us
        |FROM d3 ORDER BY 1, 2""".stripMargin)),

    // C102: autocorrelation function (lags 1..6) of the hourly event
    // volume per service — the periodicity screen behind seasonality
    // detection, EXACT: with S = sum(x), n = hours, the mean-centered
    // products are multiplied through by n^2, so every numerator
    // n^2*Sxy_k - n*S*(Sx_k + Sy_k) + (n-k)*S^2 and the k=0
    // denominator are integers in DECIMAL(38,0); the only doubles are
    // the final num/den casts (correctly rounded on both engines, the
    // q_gini discipline). Lag pairs come from window lags over the
    // hourly relation (corpus collapses FIRST; the window runs over
    // #hours rows per service). Gap hours are absent rows — the ACF
    // is over the observed sequence, identically on both sides.
    "trace_acf" -> QueryDef.sql(
      (s, dir) => {
        val hourly = spans(s, dir)
          .groupBy(col("service"), expr(s"start_us div $HourUs").as("hr"))
          .agg(count(lit(1)).as("x"))
        val w = Window.partitionBy("service").orderBy("hr")
        val lagged = (1 to 6).foldLeft(hourly) {
          case (df, k) => df.withColumn(s"m$k", lag("x", k).over(w))
        }
        val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
        val aggs =
          Seq(count(lit(1)).as("n"), sum(dec(col("x"))).as("sx"),
            sum(dec(col("x")) * dec(col("x"))).as("sxx")) ++
          (1 to 6).flatMap { k =>
            Seq(
              sum(dec(col("x")) * dec(col(s"m$k"))).as(s"sxy$k"),
              sum(when(col(s"m$k").isNotNull, dec(col("x")))
                .otherwise(lit(0).cast(DecimalType(38, 0)))).as(s"sxc$k"),
              sum(coalesce(dec(col(s"m$k")), lit(0).cast(DecimalType(38, 0))))
                .as(s"syc$k"))
          }
        val st = lagged.groupBy("service").agg(aggs.head, aggs.tail: _*)
        val n = dec(col("n"))
        val den = (n * n * col("sxx") - n * col("sx") * (col("sx") + col("sx")) +
          n * col("sx") * col("sx"))
        val pairs = (1 to 6).map { k =>
          val num = n * n * col(s"sxy$k") -
            n * col("sx") * (col(s"sxc$k") + col(s"syc$k")) +
            (n - k) * col("sx") * col("sx")
          struct(lit(k.toLong).as("lag"),
            (num.cast("double") / den.cast("double")).as("acf"))
        }
        st.select(col("service"), col("n").as("n_hours"),
            explode(array(pairs: _*)).as("p"))
          .select(col("service"), col("p.lag").as("lag"), col("n_hours"),
            col("p.acf").as("acf"))
          .orderBy("service", "lag")
      },
      cte("""
        |, h AS (SELECT service, start_us // 3600000000 AS hr, COUNT(*) AS x
        |        FROM spans GROUP BY 1, 2),
        |l AS (SELECT service, x,
        |        lag(x, 1) OVER w AS m1, lag(x, 2) OVER w AS m2,
        |        lag(x, 3) OVER w AS m3, lag(x, 4) OVER w AS m4,
        |        lag(x, 5) OVER w AS m5, lag(x, 6) OVER w AS m6
        |      FROM h WINDOW w AS (PARTITION BY service ORDER BY hr)),
        |st AS MATERIALIZED (
        |  SELECT service, COUNT(*) AS n,
        |    SUM(CAST(x AS HUGEINT)) AS sx,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(x AS HUGEINT) * m1) AS sxy1, SUM(CASE WHEN m1 IS NULL THEN 0 ELSE CAST(x AS HUGEINT) END) AS sxc1, SUM(COALESCE(CAST(m1 AS HUGEINT), 0)) AS syc1,
        |    SUM(CAST(x AS HUGEINT) * m2) AS sxy2, SUM(CASE WHEN m2 IS NULL THEN 0 ELSE CAST(x AS HUGEINT) END) AS sxc2, SUM(COALESCE(CAST(m2 AS HUGEINT), 0)) AS syc2,
        |    SUM(CAST(x AS HUGEINT) * m3) AS sxy3, SUM(CASE WHEN m3 IS NULL THEN 0 ELSE CAST(x AS HUGEINT) END) AS sxc3, SUM(COALESCE(CAST(m3 AS HUGEINT), 0)) AS syc3,
        |    SUM(CAST(x AS HUGEINT) * m4) AS sxy4, SUM(CASE WHEN m4 IS NULL THEN 0 ELSE CAST(x AS HUGEINT) END) AS sxc4, SUM(COALESCE(CAST(m4 AS HUGEINT), 0)) AS syc4,
        |    SUM(CAST(x AS HUGEINT) * m5) AS sxy5, SUM(CASE WHEN m5 IS NULL THEN 0 ELSE CAST(x AS HUGEINT) END) AS sxc5, SUM(COALESCE(CAST(m5 AS HUGEINT), 0)) AS syc5,
        |    SUM(CAST(x AS HUGEINT) * m6) AS sxy6, SUM(CASE WHEN m6 IS NULL THEN 0 ELSE CAST(x AS HUGEINT) END) AS sxc6, SUM(COALESCE(CAST(m6 AS HUGEINT), 0)) AS syc6
        |  FROM l GROUP BY 1)
        |SELECT service, lag, n AS n_hours,
        |  CAST(n * n * sxy - n * sx * (sxc + syc) + (n - lag) * sx * sx AS DOUBLE)
        |  / CAST(n * n * sxx - 2 * n * sx * sx + n * sx * sx AS DOUBLE) AS acf
        |FROM (
        |  SELECT service, n, sx, sxx, CAST(1 AS BIGINT) AS lag, sxy1 AS sxy, sxc1 AS sxc, syc1 AS syc FROM st
        |  UNION ALL SELECT service, n, sx, sxx, 2, sxy2, sxc2, syc2 FROM st
        |  UNION ALL SELECT service, n, sx, sxx, 3, sxy3, sxc3, syc3 FROM st
        |  UNION ALL SELECT service, n, sx, sxx, 4, sxy4, sxc4, syc4 FROM st
        |  UNION ALL SELECT service, n, sx, sxx, 5, sxy5, sxc5, syc5 FROM st
        |  UNION ALL SELECT service, n, sx, sxx, 6, sxy6, sxc6, syc6 FROM st) u
        |ORDER BY service, lag""".stripMargin)),

    // C108: Poisson-bootstrap confidence interval — the DISTRIBUTED
    // bootstrap (Poissonized resampling: every row carries a
    // Poisson(1) weight per replicate, so no replicate ever needs a
    // global indexed resample): 40 replicates fan out row-locally via
    // explode, weights come from the inverse Poisson CDF over a
    // deterministic multiplicative-hash uniform (floor-ppm CDF cuts as
    // shared literals — no runtime RNG), each replicate's mean is an
    // exact floor division, and the 2.5/97.5 bounds are the rank-2 and
    // rank-39 replicate means ((mean, r) tie-break). ONE shuffle on
    // (service, replicate); the 40× fan-out rides the scan.
    "trace_bootstrap_ci" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir).select("service", "span_id", "duration_us")
        val rep = sp
          .select(col("service"), col("span_id"), col("duration_us"),
            explode(expr("sequence(1, 40)")).as("r"))
          .withColumn("u", expr(
            "((((span_id % 1048576) + r * 1048573) * 2654435761) div 1024) % 1000000"))
          .withColumn("w", expr(poissonWBody))
        val means = rep.groupBy("service", "r")
          .agg(sum((col("w") * col("duration_us")).cast(DecimalType(38, 0))).as("swx"),
            sum(col("w")).as("sw"))
          .filter(col("sw") > 0)
          .withColumn("mean_us", expr("swx div sw"))
        val wnd = Window.partitionBy("service").orderBy(col("mean_us"), col("r"))
        val ci = means.withColumn("rk", row_number().over(wnd))
          .groupBy("service")
          .agg(max(when(col("rk") === 2, col("mean_us"))).as("boot_lo_us"),
            max(when(col("rk") === 39, col("mean_us"))).as("boot_hi_us"),
            count(lit(1)).as("n_replicates"))
        val point = sp.groupBy("service")
          .agg(expr("sum(duration_us) div count(1)").as("point_mean_us"))
        point.join(ci, "service").orderBy("service")
      },
      cte(s"""
        |, rep AS (
        |  SELECT service, duration_us, r,
        |    ((((span_id % 1048576) + r * 1048573) * 2654435761) // 1024) % 1000000 AS u
        |  FROM spans CROSS JOIN (SELECT unnest(range(1, 41)) AS r) rs),
        |wt AS (SELECT service, r, duration_us, $poissonWBody AS w FROM rep),
        |m AS (
        |  SELECT service, r,
        |    CAST(SUM(CAST(w AS HUGEINT) * duration_us)
        |      // SUM(CAST(w AS HUGEINT)) AS BIGINT) AS mean_us
        |  FROM wt GROUP BY 1, 2 HAVING SUM(w) > 0),
        |rk AS (SELECT service, r, mean_us,
        |         row_number() OVER (PARTITION BY service ORDER BY mean_us, r) AS rk
        |       FROM m),
        |ci AS (
        |  SELECT service,
        |    MAX(CASE WHEN rk = 2 THEN mean_us END) AS boot_lo_us,
        |    MAX(CASE WHEN rk = 39 THEN mean_us END) AS boot_hi_us,
        |    COUNT(*) AS n_replicates
        |  FROM rk GROUP BY 1),
        |pt AS (SELECT service, SUM(duration_us) // COUNT(*) AS point_mean_us
        |       FROM spans GROUP BY 1)
        |SELECT pt.service, CAST(point_mean_us AS BIGINT) AS point_mean_us,
        |       boot_lo_us, boot_hi_us, n_replicates
        |FROM pt JOIN ci USING (service) ORDER BY service""".stripMargin)),

    // C119: service-graph PageRank — which services are structurally
    // central to the call topology (the incident-blast-radius ranking
    // the reference's service-graph UI sorts by). The ONLY full-data
    // work is the parent→child edge aggregation; 6 power iterations
    // then ride the aggregated (src, dst, weight) relation, which is
    // service-cardinality-bounded however many spans exist. All
    // arithmetic is scaled-integer with floor division (rank mass in
    // 1e12 units, edge shares in ppm) so both engines iterate to
    // bit-identical fixpoints: r'(v) = (1e12/S)·15% + 85%·(Σ_u
    // r(u)·p(u→v) + dangling/S), d = 0.85.
    "trace_pagerank" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir).select("span_id", "parent_span_id", "service")
        val edges = sp.as("c")
          .join(sp.as("p"), col("c.parent_span_id") === col("p.span_id"))
          .groupBy(col("p.service").as("src"), col("c.service").as("dst"))
          .agg(count(lit(1)).as("w"))
        // The corpus-scale work (spans self-join + edge agg) stays
        // distributed and runs ONCE; the out-weight normalization and
        // the 6 power-iteration rounds then run in one task over the
        // service-bounded edge list (GraphOps.inOneTask, the bound
        // kmeans centroids state), so building the frame starts no
        // job. Long arithmetic mirrors the ANSI column math op for op
        // (Math.*Exact; all operands non-negative so trunc div ==
        // floor div == both engines' `div`).
        val out = StructType(Seq(StructField("service", StringType),
          StructField("rank_ppm", LongType, nullable = false)))
        graft.operators.GraphOps.inOneTask(edges, out) { rows =>
          val edgeRows: Array[(String, String, Long)] =
            rows.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          val outw: Map[String, Long] = edgeRows.groupBy(_._1)
            .map { case (src, es) =>
              src -> es.foldLeft(0L)((acc, e) => Math.addExact(acc, e._3)) }
          val normRows: Array[(String, String, Long)] = edgeRows.map {
            case (src, dst, w) =>
              (src, dst, Math.multiplyExact(w, 1000000L) / outw(src))
          }
          val nodes: Array[String] =
            normRows.flatMap(e => Seq(e._1, e._2)).distinct.sorted
          val srcs: Set[String] = normRows.map(_._1).toSet
          val scnt = nodes.length.toLong
          var rank: Map[String, Long] =
            nodes.map(_ -> 1000000000000L / scnt).toMap
          for (_ <- 1 to 6) {
            val contrib = scala.collection.mutable.HashMap[String, Long]()
            normRows.foreach { case (src, dst, pPpm) =>
              val c = Math.multiplyExact(rank(src), pPpm) / 1000000L
              contrib(dst) = Math.addExact(contrib.getOrElse(dst, 0L), c)
            }
            val dangling = nodes.filterNot(srcs.contains)
              .foldLeft(0L)((a, n) => Math.addExact(a, rank(n)))
            rank = nodes.map { n =>
              n -> Math.addExact(
                (1000000000000L / scnt) * 15L / 100L,
                Math.multiplyExact(
                  Math.addExact(contrib.getOrElse(n, 0L), dangling / scnt),
                  85L) / 100L)
            }.toMap
          }
          nodes.toSeq.map(n => Row(n, rank(n) / 1000000L))
        }.orderBy(desc("rank_ppm"), col("service"))
      },
      {
        val iters = (1 to 6).map { i =>
          val prev = if (i == 1) "r0" else s"r${i - 1}"
          s""",
             |c$i AS (
             |  SELECT np.dst AS service,
             |         CAST(SUM(r * p_ppm // 1000000) AS BIGINT) AS contrib
             |  FROM $prev JOIN np ON $prev.service = np.src GROUP BY 1),
             |d$i AS (
             |  SELECT COALESCE(SUM(r), 0) AS dangling FROM $prev
             |  WHERE service NOT IN (SELECT src FROM np)),
             |r$i AS (
             |  SELECT n.service,
             |    (1000000000000 // s_cnt) * 15 // 100
             |      + (COALESCE(c.contrib, 0) + d.dangling // s_cnt) * 85 // 100
             |      AS r
             |  FROM nodes n LEFT JOIN c$i c ON n.service = c.service, d$i d, sc)"""
            .stripMargin
        }.mkString
        cte(s"""
          |, e AS MATERIALIZED (
          |  SELECT p.service AS src, c.service AS dst, COUNT(*) AS w
          |  FROM spans c JOIN spans p ON c.parent_span_id = p.span_id
          |  GROUP BY 1, 2),
          |ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS outw FROM e GROUP BY 1),
          |np AS MATERIALIZED (
          |  SELECT e.src, e.dst, CAST(e.w * 1000000 // ow.outw AS BIGINT) AS p_ppm
          |  FROM e JOIN ow ON e.src = ow.src),
          |nodes AS (SELECT src AS service FROM np UNION SELECT dst FROM np),
          |sc AS (SELECT COUNT(*) AS s_cnt FROM nodes),
          |r0 AS (SELECT service, 1000000000000 // s_cnt AS r FROM nodes, sc)$iters
          |SELECT service, CAST(r // 1000000 AS BIGINT) AS rank_ppm
          |FROM r6 ORDER BY rank_ppm DESC, service""".stripMargin)
      }),

    // C123: HITS hub/authority — the directional complement to
    // trace_pagerank: authorities are the services everyone CALLS
    // (shared dependencies — the blast-radius set), hubs are the
    // services that call them (entry-point orchestrators). Same scale
    // shape as C119: the spans relation is touched ONCE (the parent→
    // child edge aggregation); 4 full HITS rounds then ride the
    // service-cardinality-bounded edge list. L1 normalization (each
    // vector rescaled to 1e12 total by integer floor division) instead
    // of the textbook L2 keeps every iterate exactly representable, so
    // both engines reach bit-identical fixpoints; raw propagations run
    // in DECIMAL(38,0)/HUGEINT (score·weight ≤ 1e20 at sf100, ×1e12
    // ≤ 1e32 — in range on both).
    "trace_hits" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir).select("span_id", "parent_span_id", "service")
        // as in trace_pagerank, only the edge aggregation touches the
        // corpus; the 8 propagate/renormalize steps run in one task
        // (GraphOps.inOneTask) over the bounded service graph in
        // BigInt — the exact integer semantics of DECIMAL(38,0) column
        // math (score*w can pass 1e18, hence BigInt, matching HUGEINT).
        val edges = sp.as("c")
          .join(sp.as("p"), col("c.parent_span_id") === col("p.span_id"))
          .groupBy(col("p.service").as("src"), col("c.service").as("dst"))
          .agg(count(lit(1)).as("w"))
        val out = StructType(Seq(StructField("service", StringType),
          StructField("authority_ppm", LongType, nullable = false),
          StructField("hub_ppm", LongType, nullable = false)))
        graft.operators.GraphOps.inOneTask(edges, out) { rows =>
          val edgeRows: Array[(String, String, Long)] =
            rows.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          val nodes: Array[String] =
            edgeRows.flatMap(e => Seq(e._1, e._2)).distinct.sorted
          val scnt = nodes.length.toLong
          val init: Map[String, BigInt] =
            nodes.map(_ -> BigInt(1000000000000L / scnt)).toMap
          // propagate scores along edges from the `from` endpoint to the
          // `to` endpoint, then L1-renormalize to 1e12 total
          def propagate(score: Map[String, BigInt], bySrc: Boolean): Map[String, BigInt] = {
            val raw = scala.collection.mutable.HashMap[String, BigInt]()
            edgeRows.foreach { case (src, dst, w) =>
              val (from, to) = if (bySrc) (src, dst) else (dst, src)
              raw(to) = raw.getOrElse(to, BigInt(0)) + score(from) * w
            }
            val tot = raw.values.sum
            nodes.map { n =>
              n -> raw.get(n).fold(BigInt(0))(r => r * BigInt(1000000000000L) / tot)
            }.toMap
          }
          var h = init
          var a = init
          for (_ <- 1 to 4) {
            a = propagate(h, bySrc = true)
            h = propagate(a, bySrc = false)
          }
          nodes.toSeq.map(n => Row(n, (a(n) / 1000000).toLong, (h(n) / 1000000).toLong))
        }.orderBy(desc("authority_ppm"), col("service"))
      },
      {
        val iters = (1 to 4).map { i =>
          val prev = if (i == 1) "h0" else s"h${i - 1}"
          s""",
             |ar$i AS (
             |  SELECT e.dst AS service, SUM(CAST(h.v AS HUGEINT) * e.w) AS raw
             |  FROM $prev h JOIN e ON h.service = e.src GROUP BY 1),
             |at$i AS (SELECT SUM(raw) AS tot FROM ar$i),
             |a$i AS (
             |  SELECT n.service,
             |    COALESCE(CAST(r.raw * 1000000000000 // t.tot AS BIGINT), 0) AS v
             |  FROM nodes n LEFT JOIN ar$i r ON n.service = r.service, at$i t),
             |hr$i AS (
             |  SELECT e.src AS service, SUM(CAST(a.v AS HUGEINT) * e.w) AS raw
             |  FROM a$i a JOIN e ON a.service = e.dst GROUP BY 1),
             |ht$i AS (SELECT SUM(raw) AS tot FROM hr$i),
             |h$i AS (
             |  SELECT n.service,
             |    COALESCE(CAST(r.raw * 1000000000000 // t.tot AS BIGINT), 0) AS v
             |  FROM nodes n LEFT JOIN hr$i r ON n.service = r.service, ht$i t)"""
            .stripMargin
        }.mkString
        cte(s"""
          |, e AS MATERIALIZED (
          |  SELECT p.service AS src, c.service AS dst, COUNT(*) AS w
          |  FROM spans c JOIN spans p ON c.parent_span_id = p.span_id
          |  GROUP BY 1, 2),
          |nodes AS (SELECT src AS service FROM e UNION SELECT dst FROM e),
          |sc AS (SELECT COUNT(*) AS s_cnt FROM nodes),
          |h0 AS (SELECT service, 1000000000000 // s_cnt AS v FROM nodes, sc)$iters
          |SELECT a4.service,
          |  CAST(a4.v // 1000000 AS BIGINT) AS authority_ppm,
          |  CAST(h4.v // 1000000 AS BIGINT) AS hub_ppm
          |FROM a4 JOIN h4 ON a4.service = h4.service
          |ORDER BY authority_ppm DESC, a4.service""".stripMargin)
      }),

    // C124: multi-touch attribution — which channels get credit for a
    // conversion ('purchase' events), under the three standard models
    // at once: first-touch, last-touch, and linear (1e6/k ppm split
    // across the k touches of the converting journey). A journey = the
    // touch events between consecutive purchases of one user (cum_prev
    // = purchases strictly before the event indexes the journey; only
    // journeys that actually closed get credit). Two window shuffles —
    // one per-user prefix count, one per-(user, journey) rank — both
    // user-keyed so partitions stay small however many users exist;
    // credits are exact integers end to end.
    "trace_attribution" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir).select("trace_id", "span_id", "service",
          "start_us")
        val w = Window.partitionBy("trace_id").orderBy("start_us", "span_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val marked = sp.withColumn("cum_prev",
          coalesce(sum(when(col("service") === "purchase", 1L).otherwise(0L))
            .over(w), lit(0L)))
        val nConv = marked.filter(col("service") === "purchase")
          .groupBy("trace_id").agg(count(lit(1)).as("n_conv"))
        val touches = marked
          .filter(col("service").isin("view", "click", "signup"))
          .join(nConv, "trace_id")
          .filter(col("cum_prev") < col("n_conv"))
        val jw = Window.partitionBy("trace_id", "cum_prev")
        val ranked = touches
          .withColumn("rn",
            row_number().over(jw.orderBy(col("start_us"), col("span_id"))))
          .withColumn("rnd",
            row_number().over(
              jw.orderBy(col("start_us").desc, col("span_id").desc)))
          .withColumn("k", count(lit(1)).over(jw))
        ranked.groupBy(col("service").as("channel"))
          .agg(
            sum(when(col("rn") === 1, 1L).otherwise(0L)).as("first_touch"),
            sum(when(col("rnd") === 1, 1L).otherwise(0L)).as("last_touch"),
            sum(expr("1000000 div k")).as("linear_ppm"),
            count(lit(1)).as("touches"))
          .orderBy("channel")
      },
      cte("""
        |, m AS (
        |  SELECT trace_id, span_id, service, start_us,
        |    COALESCE(SUM(CASE WHEN service = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY trace_id ORDER BY start_us, span_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_prev
        |  FROM spans),
        |nc AS (SELECT trace_id, COUNT(*) AS n_conv FROM m
        |       WHERE service = 'purchase' GROUP BY 1),
        |t AS (
        |  SELECT m.trace_id, m.cum_prev, m.service, m.start_us, m.span_id
        |  FROM m JOIN nc ON m.trace_id = nc.trace_id
        |  WHERE m.service IN ('view', 'click', 'signup')
        |    AND m.cum_prev < nc.n_conv),
        |r AS (
        |  SELECT service,
        |    ROW_NUMBER() OVER (PARTITION BY trace_id, cum_prev
        |                       ORDER BY start_us, span_id) AS rn,
        |    ROW_NUMBER() OVER (PARTITION BY trace_id, cum_prev
        |                       ORDER BY start_us DESC, span_id DESC) AS rnd,
        |    COUNT(*) OVER (PARTITION BY trace_id, cum_prev) AS k
        |  FROM t)
        |SELECT service AS channel,
        |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS first_touch,
        |  CAST(SUM(CASE WHEN rnd = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS last_touch,
        |  CAST(SUM(1000000 // k) AS BIGINT) AS linear_ppm,
        |  COUNT(*) AS touches
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),

    // C126: lead-lag cross-correlation — which service's traffic LEADS
    // another's (the capacity-planning / incident-ordering signal a
    // pure same-hour correlation can't see). Full data collapses to the
    // |services|×|hours| hourly grid in one map-combined pass; the ±6h
    // lag fan-out (13× a tiny relation) and the per-(pair, lag) Pearson
    // sums ride that grid. All sums exact BIGINT; the correlation is
    // the fixed-shape double finish (identical association order both
    // engines); best lag per ordered pair by (corr DESC, lag) — the
    // deterministic argmax. At many-service scale the pair join blocks
    // by service-pair buckets; the grid shape is unchanged.
    "trace_xcorr_lag" -> QueryDef.sql(
      (s, dir) => {
        val hourly = spans(s, dir)
          .groupBy(col("service"),
            expr(s"(start_us - $T0) div $HourUs").as("h"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint()
        val x = hourly.select(col("service").as("sx"), col("h").as("hx"),
          col("c").as("cx"))
          .withColumn("lag", explode(sequence(lit(-6L), lit(6L))))
        val y = hourly.select(col("service").as("sy"), col("h").as("hy"),
          col("c").as("cy"))
        val agg = x.join(y,
            col("hy") === col("hx") + col("lag") && col("sx") < col("sy"))
          .groupBy("sx", "sy", "lag")
          .agg(count(lit(1)).as("n"),
            sum("cx").as("sxs"), sum("cy").as("sys"),
            sum(col("cx") * col("cy")).as("sxy"),
            sum(col("cx") * col("cx")).as("sxx"),
            sum(col("cy") * col("cy")).as("syy"))
          .filter(col("n") >= 8)
        val scored = agg
          .withColumn("vx",
            (col("n") * col("sxx") - col("sxs") * col("sxs")).cast("double"))
          .withColumn("vy",
            (col("n") * col("syy") - col("sys") * col("sys")).cast("double"))
          .filter(col("vx") > 0 && col("vy") > 0)
          .withColumn("corr",
            (col("n") * col("sxy") - col("sxs") * col("sys")).cast("double") /
              (sqrt(col("vx")) * sqrt(col("vy"))))
        val w = Window.partitionBy("sx", "sy")
          .orderBy(col("corr").desc, col("lag"))
        scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("sx").as("service_x"), col("sy").as("service_y"),
            col("lag").as("best_lag"), col("n").as("n_hours"), col("corr"))
          .orderBy("service_x", "service_y")
      },
      cte(s"""
        |, hr AS MATERIALIZED (
        |  SELECT service, CAST((start_us - $T0) // $HourUs AS BIGINT) AS h,
        |         COUNT(*) AS c
        |  FROM spans GROUP BY 1, 2),
        |j AS (
        |  SELECT x.service AS sx, y.service AS sy, l.lag,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x.c) AS BIGINT) AS sxs, CAST(SUM(y.c) AS BIGINT) AS sys,
        |    CAST(SUM(x.c * y.c) AS BIGINT) AS sxy,
        |    CAST(SUM(x.c * x.c) AS BIGINT) AS sxx,
        |    CAST(SUM(y.c * y.c) AS BIGINT) AS syy
        |  FROM hr x
        |  CROSS JOIN (SELECT unnest(range(-6, 7)) AS lag) l
        |  JOIN hr y ON y.h = x.h + l.lag AND x.service < y.service
        |  GROUP BY 1, 2, 3 HAVING COUNT(*) >= 8),
        |sc AS (
        |  SELECT sx, sy, lag, n,
        |    CAST(n * sxx - sxs * sxs AS DOUBLE) AS vx,
        |    CAST(n * syy - sys * sys AS DOUBLE) AS vy,
        |    CAST(n * sxy - sxs * sys AS DOUBLE) AS num
        |  FROM j),
        |r AS (
        |  SELECT sx, sy, lag, n, num / (sqrt(vx) * sqrt(vy)) AS corr
        |  FROM sc WHERE vx > 0 AND vy > 0),
        |b AS (
        |  SELECT sx, sy, lag, n, corr,
        |    ROW_NUMBER() OVER (PARTITION BY sx, sy ORDER BY corr DESC, lag)
        |      AS rn
        |  FROM r)
        |SELECT sx AS service_x, sy AS service_y,
        |  CAST(lag AS BIGINT) AS best_lag, n AS n_hours, corr
        |FROM b WHERE rn = 1 ORDER BY 1, 2""".stripMargin)),

    // C127: Nelson-Aalen discrete hazard — the survival-analysis view
    // of latency: of the requests still running at duration 2^b, what
    // fraction finish in that bucket (hazard), and how does risk
    // accumulate (cumulative hazard)? Dodges the Kaplan-Meier product
    // (not exactly representable) by the estimator that SUMS hazards —
    // exact floor-ppm end to end. One map-combined (service, dur_bits)
    // grid pass over the spans; at-risk counts are a ≤64-row suffix
    // sum per service, cumulative hazard the matching prefix sum.
    "trace_hazard" -> QueryDef.sql(
      (s, dir) => {
        val grid = spans(s, dir)
          .groupBy(col("service"),
            length(conv(col("duration_us"), 10, 2)).cast("long")
              .as("dur_bits"))
          .agg(count(lit(1)).as("events"))
        val wDesc = Window.partitionBy("service").orderBy(col("dur_bits").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAsc = Window.partitionBy("service").orderBy(col("dur_bits"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.withColumn("at_risk", sum("events").over(wDesc))
          .withColumn("hazard_ppm", expr("events * 1000000 div at_risk"))
          .withColumn("cumhaz_ppm", sum("hazard_ppm").over(wAsc))
          .select("service", "dur_bits", "at_risk", "events", "hazard_ppm",
            "cumhaz_ppm")
          .orderBy("service", "dur_bits")
      },
      cte("""
        |, grid AS (
        |  SELECT service, CAST(length(bin(duration_us)) AS BIGINT) AS dur_bits,
        |         COUNT(*) AS events
        |  FROM spans GROUP BY 1, 2),
        |ar AS (
        |  SELECT service, dur_bits, events,
        |    CAST(SUM(events) OVER (PARTITION BY service ORDER BY dur_bits DESC)
        |      AS BIGINT) AS at_risk
        |  FROM grid),
        |hz AS (
        |  SELECT service, dur_bits, at_risk, events,
        |    events * 1000000 // at_risk AS hazard_ppm
        |  FROM ar)
        |SELECT service, dur_bits, at_risk, events,
        |  CAST(hazard_ppm AS BIGINT) AS hazard_ppm,
        |  CAST(SUM(hazard_ppm) OVER (PARTITION BY service ORDER BY dur_bits)
        |    AS BIGINT) AS cumhaz_ppm
        |FROM hz ORDER BY service, dur_bits""".stripMargin)),

    // C128: queueing wait profile (Lindley recursion) — if each service
    // were a single server, how long would arrivals queue? The
    // textbook recursion W' = max(0, W + S − A) is sequential, but its
    // closed form is a prefix trick: W_n = P_n − min_{k≤n} P_k with
    // P_n = (cumsum(S) − S_n) − (t_n − t_first) — i.e. ONE running sum
    // and ONE running min, both associative, both through the
    // ShardedWindow two-phase scan (runningMin is this surface's
    // engine addition: exclusive prefix-min offsets carried across
    // sub-shards). No lag(), no sequential pass — the recursion
    // distributes. Everything exact integer micros.
    "trace_queue_wait" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir)
          .select("service", "span_id", "start_us", "duration_us")
        val t0 = sp.groupBy(col("service").as("svc0"))
          .agg(min("start_us").as("t_first"))
        val withT0 = sp.join(broadcast(t0), col("service") === col("svc0"))
          .drop("svc0")
        val shard = expr(s"(start_us - $T0) div $HourUs")
        val order = Seq(col("start_us"), col("span_id"))
        val p = ShardedWindow.runningSum(withT0, Seq("service"), shard,
            order, col("duration_us"), "cum_s")
          .withColumn("p",
            col("cum_s") - col("duration_us") - (col("start_us") - col("t_first")))
        val m = ShardedWindow.runningMin(p, Seq("service"), shard,
          order, col("p"), "m")
        m.withColumn("wait_us", col("p") - col("m"))
          .groupBy("service")
          .agg(count(lit(1)).as("n_events"),
            max("wait_us").as("max_wait_us"),
            expr("sum(wait_us) div count(1)").as("mean_wait_us"),
            expr("sum(CASE WHEN wait_us > 0 THEN 1 ELSE 0 END) * 1000000" +
              " div count(1)").as("busy_ppm"))
          .orderBy("service")
      },
      cte("""
        |, base AS (
        |  SELECT service, span_id, start_us, duration_us,
        |    SUM(duration_us) OVER w - duration_us
        |      - (start_us - MIN(start_us) OVER (PARTITION BY service)) AS p
        |  FROM spans
        |  WINDOW w AS (PARTITION BY service ORDER BY start_us, span_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |wt AS (
        |  SELECT service,
        |    p - MIN(p) OVER (PARTITION BY service ORDER BY start_us, span_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS wait_us
        |  FROM base)
        |SELECT service, COUNT(*) AS n_events,
        |  CAST(MAX(wait_us) AS BIGINT) AS max_wait_us,
        |  CAST(SUM(wait_us) // COUNT(*) AS BIGINT) AS mean_wait_us,
        |  CAST(SUM(CASE WHEN wait_us > 0 THEN 1 ELSE 0 END) * 1000000
        |    // COUNT(*) AS BIGINT) AS busy_ppm
        |FROM wt GROUP BY 1 ORDER BY 1""".stripMargin)),

    // C134: incident timeline — merge overlapping SLO-breach intervals
    // into incidents (the on-call view: not "how many slow spans" but
    // "how many distinct outage windows, and how long"). Classic
    // interval merging, distributed: an interval opens a NEW incident
    // iff it starts after the max end of every strictly-preceding
    // interval — an EXCLUSIVE running max (this surface's engine
    // addition: ShardedWindow.runningMaxExclusive, whole-previous-
    // sub-shard offsets are correct because they're entirely
    // preceding), then incident ids are the running sum of those break
    // flags. Both scans hold #(service, hour-shard) parallelism.
    "trace_incidents" -> QueryDef.sql(
      (s, dir) => mergedIncidents(s, dir)
          .groupBy("service")
          .agg(count(lit(1)).as("n_incidents"),
            max(col("i_end") - col("i_start")).as("longest_us"),
            sum(col("i_end") - col("i_start")).as("total_us"),
            max("n_spans").as("max_spans_per_incident"))
          .orderBy("service"),
      cte("""
        |, br AS (
        |  SELECT service, span_id, start_us, start_us + duration_us AS end_us
        |  FROM spans WHERE duration_us > 100000),
        |x AS (
        |  SELECT service, span_id, start_us, end_us,
        |    MAX(end_us) OVER (PARTITION BY service ORDER BY start_us, span_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM br),
        |b AS (
        |  SELECT service, span_id, start_us, end_us,
        |    CASE WHEN prev_end IS NULL OR start_us > prev_end
        |         THEN 1 ELSE 0 END AS brk
        |  FROM x),
        |i AS (
        |  SELECT service, start_us, end_us,
        |    SUM(brk) OVER (PARTITION BY service ORDER BY start_us, span_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM b),
        |g AS (SELECT service, island, MIN(start_us) AS i_start,
        |        MAX(end_us) AS i_end, COUNT(*) AS n_spans
        |      FROM i GROUP BY 1, 2)
        |SELECT service, COUNT(*) AS n_incidents,
        |  CAST(MAX(i_end - i_start) AS BIGINT) AS longest_us,
        |  CAST(SUM(i_end - i_start) AS BIGINT) AS total_us,
        |  CAST(MAX(n_spans) AS BIGINT) AS max_spans_per_incident
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin)),

    // C135: KMV distinct-count sketch with MEASURED error — the
    // third distinct sketch (after HLL and exact bitmaps), the one
    // whose state is mergeable by trivial set-union of k hashes. The
    // 64th-smallest md5 hash per service comes through a HASH-RANGE
    // sharded rank (the shard key h div 2^26 is monotone in h — rank
    // by hash distributes like rank by value); estimate = (k−1)·2^32
    // div h_k, with the exact-below-k fallback; err_ppm quantifies the
    // sketch against the exact distinct in the same output row.
    "trace_kmv_distinct" -> QueryDef.sql(
      (s, dir) => {
        val du = spans(s, dir).select("service", "trace_id").distinct()
          .withColumn("h",
            expr("CAST(conv(substring(md5(trace_id), 1, 8), 16, 10) AS BIGINT)"))
        val exact = du.groupBy("service").agg(count(lit(1)).as("exact_distinct"))
        val kth = ShardedWindow.rowNumber(du, Seq("service"),
            expr("h div 67108864"), Seq(col("h"), col("trace_id")), "rn")
          .filter(col("rn") === 64)
          .select(col("service"), col("h").as("h_k"))
        exact.join(kth, Seq("service"), "left")
          .select(col("service"), col("exact_distinct"),
            coalesce(expr("63 * 4294967296 div h_k"), col("exact_distinct"))
              .as("kmv_estimate"))
          .withColumn("err_ppm",
            expr("abs(kmv_estimate - exact_distinct) * 1000000" +
              " div exact_distinct"))
          .orderBy("service")
      },
      cte("""
        |, du AS (SELECT DISTINCT service, trace_id FROM spans),
        |h AS (
        |  SELECT service, trace_id,
        |    CAST(('0x' || substr(md5(trace_id), 1, 8)) AS BIGINT) AS h
        |  FROM du),
        |e AS (SELECT service, COUNT(*) AS exact_distinct FROM h GROUP BY 1),
        |k AS (
        |  SELECT service, h_k FROM (
        |    SELECT service, h AS h_k,
        |      ROW_NUMBER() OVER (PARTITION BY service ORDER BY h, trace_id)
        |        AS rn
        |    FROM h) t
        |  WHERE rn = 64),
        |f AS (
        |  SELECT e.service, e.exact_distinct,
        |    CAST(COALESCE(63 * 4294967296 // k.h_k, e.exact_distinct)
        |      AS BIGINT) AS kmv_estimate
        |  FROM e LEFT JOIN k ON e.service = k.service)
        |SELECT service, exact_distinct, kmv_estimate,
        |  CAST(ABS(kmv_estimate - exact_distinct) * 1000000
        |    // exact_distinct AS BIGINT) AS err_ppm
        |FROM f ORDER BY 1""".stripMargin)),

    // C139: rolling-origin forecast backtest — is the volume forecast
    // (C77) actually any good? For every day d, fit the OLS line on
    // all STRICTLY PRIOR days (expanding window: the four regression
    // sums are exclusive-frame running sums over the per-service daily
    // grid) and score |actual − predicted|. The prediction stays a
    // RATIONAL (ŷ·n·den = sy·den + num·(n·d − sx)), so the error is an
    // exact floor division — no per-engine float drift across the
    // hundreds of tiny regressions. Grid is #days per service, so the
    // windows are bounded; the one full-data pass is the daily rollup.
    "trace_forecast_backtest" -> QueryDef.sql(
      (s, dir) => {
        val daily = spans(s, dir)
          .groupBy(col("service"),
            expr(s"(start_us - $T0) div 86400000000").as("d"))
          .agg(count(lit(1)).as("c"))
        val w = Window.partitionBy("service").orderBy("d")
          .rowsBetween(Window.unboundedPreceding, -1)
        val sums = daily
          .withColumn("n", count(lit(1)).over(w))
          .withColumn("sx", sum("d").over(w))
          .withColumn("sy", sum("c").over(w))
          .withColumn("sxy", sum(col("d") * col("c")).over(w))
          .withColumn("sxx", sum(col("d") * col("d")).over(w))
          .filter(col("n") >= 2)
          .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
          .filter(col("den") > 0)
        val err = sums
          .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
          .withColumn("err",
            expr("abs(CAST(c AS DECIMAL(38,0)) * n * den" +
              " - (CAST(sy AS DECIMAL(38,0)) * den" +
              "    + CAST(num AS DECIMAL(38,0)) * (n * d - sx)))" +
              " div (CAST(n AS DECIMAL(38,0)) * den)"))
        err.groupBy("service")
          .agg(count(lit(1)).as("n_backtests"),
            expr("sum(err) div count(1)").as("mae"),
            max("err").as("max_err"))
          .orderBy("service")
      },
      cte("""
        |, daily AS (
        |  SELECT service, (start_us - 1704067200000000) // 86400000000 AS d,
        |         COUNT(*) AS c
        |  FROM spans GROUP BY 1, 2),
        |sums AS (
        |  SELECT service, d, c,
        |    COUNT(*) OVER w AS n,
        |    CAST(SUM(d) OVER w AS BIGINT) AS sx,
        |    CAST(SUM(c) OVER w AS BIGINT) AS sy,
        |    CAST(SUM(d * c) OVER w AS BIGINT) AS sxy,
        |    CAST(SUM(d * d) OVER w AS BIGINT) AS sxx
        |  FROM daily
        |  WINDOW w AS (PARTITION BY service ORDER BY d
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |fit AS (
        |  SELECT service, d, c, n, sx, sy, sxy, sxx,
        |    n * sxx - sx * sx AS den,
        |    n * sxy - sx * sy AS num
        |  FROM sums WHERE n >= 2 AND n * sxx - sx * sx > 0),
        |e AS (
        |  SELECT service,
        |    ABS(CAST(c AS HUGEINT) * n * den
        |        - (CAST(sy AS HUGEINT) * den
        |           + CAST(num AS HUGEINT) * (n * d - sx)))
        |      // (CAST(n AS HUGEINT) * den) AS err
        |  FROM fit)
        |SELECT service, COUNT(*) AS n_backtests,
        |  CAST(SUM(err) // COUNT(*) AS BIGINT) AS mae,
        |  CAST(MAX(err) AS BIGINT) AS max_err
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin)),

    // C141: X̄-R control chart (SPC) — the classical process-stability
    // view of latency: consecutive size-5 subgroups per service (the
    // sharded row_number makes the grouping deterministic AND
    // distributed), subgroup mean + range, control limits from the
    // standard A2/D3/D4(n=5) constants as ×1000 literals (0.577 →
    // 577 — never a runtime table lookup), and the out-of-control
    // counts per service. Everything exact integer micros: subgroup
    // means are sum div 5, grand lines floor divisions, limits
    // milli-scaled literal products.
    "trace_control_chart" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir).select("service", "span_id", "start_us",
          "duration_us")
        val numbered = ShardedWindow.rowNumber(sp, Seq("service"),
          expr(s"(start_us - $T0) div $HourUs"),
          Seq(col("start_us"), col("span_id")), "rn")
        val sub = numbered
          .withColumn("grp", expr("(rn - 1) div 5"))
          .groupBy("service", "grp")
          .agg(count(lit(1)).as("n"),
            expr("sum(duration_us) div 5").as("xbar"),
            (max("duration_us") - min("duration_us")).as("r"))
          .filter(col("n") === 5)
        val lines = sub.groupBy("service")
          .agg(count(lit(1)).as("n_subgroups"),
            expr("sum(xbar) div count(1)").as("xbar_bar"),
            expr("sum(r) div count(1)").as("rbar"))
          .withColumn("ucl_x", expr("xbar_bar + 577 * rbar div 1000"))
          .withColumn("lcl_x", expr("xbar_bar - 577 * rbar div 1000"))
          .withColumn("ucl_r", expr("2114 * rbar div 1000"))
        sub.join(broadcast(lines), "service")
          .groupBy(col("service"))
          .agg(max("n_subgroups").as("n_subgroups"),
            max("xbar_bar").as("xbar_bar"), max("rbar").as("rbar"),
            max("ucl_x").as("ucl_x"), max("lcl_x").as("lcl_x"),
            max("ucl_r").as("ucl_r"),
            sum(when(col("xbar") > col("ucl_x") ||
              col("xbar") < col("lcl_x"), 1L).otherwise(0L)).as("ooc_mean"),
            sum(when(col("r") > col("ucl_r"), 1L).otherwise(0L))
              .as("ooc_range"))
          .orderBy("service")
      },
      cte("""
        |, numbered AS (
        |  SELECT service, duration_us,
        |    ROW_NUMBER() OVER (PARTITION BY service
        |                       ORDER BY start_us, span_id) AS rn
        |  FROM spans),
        |sub AS (
        |  SELECT service, (rn - 1) // 5 AS grp, COUNT(*) AS n,
        |    CAST(SUM(duration_us) // 5 AS BIGINT) AS xbar,
        |    CAST(MAX(duration_us) - MIN(duration_us) AS BIGINT) AS r
        |  FROM numbered GROUP BY 1, 2 HAVING COUNT(*) = 5),
        |lines AS (
        |  SELECT service, COUNT(*) AS n_subgroups,
        |    CAST(SUM(xbar) // COUNT(*) AS BIGINT) AS xbar_bar,
        |    CAST(SUM(r) // COUNT(*) AS BIGINT) AS rbar
        |  FROM sub GROUP BY 1),
        |lim AS (
        |  SELECT service, n_subgroups, xbar_bar, rbar,
        |    xbar_bar + 577 * rbar // 1000 AS ucl_x,
        |    xbar_bar - 577 * rbar // 1000 AS lcl_x,
        |    2114 * rbar // 1000 AS ucl_r
        |  FROM lines)
        |SELECT s.service, MAX(n_subgroups) AS n_subgroups,
        |  MAX(xbar_bar) AS xbar_bar, MAX(rbar) AS rbar,
        |  MAX(ucl_x) AS ucl_x, MAX(lcl_x) AS lcl_x, MAX(ucl_r) AS ucl_r,
        |  CAST(SUM(CASE WHEN s.xbar > lim.ucl_x OR s.xbar < lim.lcl_x
        |           THEN 1 ELSE 0 END) AS BIGINT) AS ooc_mean,
        |  CAST(SUM(CASE WHEN s.r > lim.ucl_r THEN 1 ELSE 0 END) AS BIGINT)
        |    AS ooc_range
        |FROM sub s JOIN lim ON s.service = lim.service
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // C143: canary release comparison — split traffic by a
    // deterministic md5 bucket (8/16 baseline vs canary, the
    // trace_orphan_rate hash idiom), then per service answer BOTH
    // questions a rollout gate asks: is the latency shift
    // statistically significant (Welch t over exact conditional sums,
    // |t| > 1.96) and is it practically significant (|Δmean| > 5% of
    // baseline — decided on EXACT cross-multiplied integer sums, no
    // double ever enters the flag). One map-combined pass.
    "trace_canary_diff" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir).select(col("service"), col("duration_us"),
          (substring(md5(col("span_id").cast("string").cast("binary")), 1, 1)
            .isin("0", "1", "2", "3", "4", "5", "6", "7")).as("is_base"))
        val agg = sp.groupBy("service").agg(
          sum(when(col("is_base"), 1L).otherwise(0L)).as("n_b"),
          sum(when(!col("is_base"), 1L).otherwise(0L)).as("n_c"),
          sum(when(col("is_base"), col("duration_us")).otherwise(0L))
            .as("s_b"),
          sum(when(!col("is_base"), col("duration_us")).otherwise(0L))
            .as("s_c"),
          sum(when(col("is_base"),
            col("duration_us").cast(DecimalType(38, 0)) * col("duration_us"))
            .otherwise(lit(0).cast(DecimalType(38, 0)))).as("ss_b"),
          sum(when(!col("is_base"),
            col("duration_us").cast(DecimalType(38, 0)) * col("duration_us"))
            .otherwise(lit(0).cast(DecimalType(38, 0)))).as("ss_c"))
        agg
          .withColumn("mean_b", col("s_b").cast("double") / col("n_b").cast("double"))
          .withColumn("mean_c", col("s_c").cast("double") / col("n_c").cast("double"))
          .withColumn("se",
            // s² runs in DECIMAL(38,0): the long product overflows at
            // sf100 (Σduration ≈ 5e13 → s² ≈ 2.5e27), caught by the
            // sf100 probe under ANSI mode
            ((col("ss_b").cast("double")
              - (col("s_b").cast(DecimalType(38, 0)) * col("s_b"))
                .cast("double") / col("n_b").cast("double"))
              / (col("n_b") - 1).cast("double") / col("n_b").cast("double"))
              + ((col("ss_c").cast("double")
                - (col("s_c").cast(DecimalType(38, 0)) * col("s_c"))
                  .cast("double") / col("n_c").cast("double"))
                / (col("n_c") - 1).cast("double") / col("n_c").cast("double")))
          .withColumn("t_stat",
            (col("mean_c") - col("mean_b")) / sqrt(col("se")))
          .select(col("service"), col("n_b"), col("n_c"),
            col("mean_b"), col("mean_c"), col("t_stat"),
            (abs(col("t_stat")) > 1.96).cast("long").as("significant"),
            (expr("abs(CAST(s_c AS DECIMAL(38,0)) * n_b" +
              " - CAST(s_b AS DECIMAL(38,0)) * n_c) * 20") >
              expr("CAST(s_b AS DECIMAL(38,0)) * n_c"))
              .cast("long").as("practical"))
          .orderBy("service")
      },
      cte("""
        |, sp AS (
        |  SELECT service, duration_us,
        |    substr(md5(CAST(span_id AS VARCHAR)), 1, 1)
        |      IN ('0','1','2','3','4','5','6','7') AS is_base
        |  FROM spans),
        |agg AS (
        |  SELECT service,
        |    CAST(SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN NOT is_base THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_c,
        |    CAST(SUM(CASE WHEN is_base THEN duration_us ELSE 0 END)
        |      AS BIGINT) AS s_b,
        |    CAST(SUM(CASE WHEN NOT is_base THEN duration_us ELSE 0 END)
        |      AS BIGINT) AS s_c,
        |    SUM(CASE WHEN is_base
        |        THEN CAST(duration_us AS HUGEINT) * duration_us
        |        ELSE 0 END) AS ss_b,
        |    SUM(CASE WHEN NOT is_base
        |        THEN CAST(duration_us AS HUGEINT) * duration_us
        |        ELSE 0 END) AS ss_c
        |  FROM sp GROUP BY 1),
        |m AS (
        |  SELECT service, n_b, n_c,
        |    CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
        |    CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE) AS mean_c,
        |    ((CAST(ss_b AS DOUBLE)
        |        - CAST(s_b * s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |       / CAST(n_b - 1 AS DOUBLE) / CAST(n_b AS DOUBLE))
        |      + ((CAST(ss_c AS DOUBLE)
        |        - CAST(s_c * s_c AS DOUBLE) / CAST(n_c AS DOUBLE))
        |       / CAST(n_c - 1 AS DOUBLE) / CAST(n_c AS DOUBLE)) AS se,
        |    s_b, s_c
        |  FROM agg)
        |SELECT service, n_b, n_c, mean_b, mean_c,
        |  (mean_c - mean_b) / sqrt(se) AS t_stat,
        |  CAST(CASE WHEN ABS((mean_c - mean_b) / sqrt(se)) > 1.96
        |       THEN 1 ELSE 0 END AS BIGINT) AS significant,
        |  CAST(CASE WHEN ABS(CAST(s_c AS HUGEINT) * n_b
        |                     - CAST(s_b AS HUGEINT) * n_c) * 20
        |                 > CAST(s_b AS HUGEINT) * n_c
        |       THEN 1 ELSE 0 END AS BIGINT) AS practical
        |FROM m ORDER BY 1""".stripMargin)),

    // C144: saturation curve — does latency rise with live concurrency?
    // The sweep-line concurrency level at each span's START (its +1
    // event's running sum over the ±1 boundary stream — one
    // ShardedWindow scan; ends order before starts at a tie so a
    // back-to-back handoff doesn't double-count) buckets spans into
    // log2 concurrency bands, and each (service, band) reports volume
    // and exact floor-mean latency. The queueing-theory companion to
    // trace_queue_wait: W_n predicts waits, this MEASURES the
    // level→latency relation.
    "trace_saturation_curve" -> QueryDef.sql(
      (s, dir) => {
        val sp = spans(s, dir).select("service", "span_id", "start_us",
          "duration_us")
        val starts = sp.select(col("service"), col("span_id"),
          col("start_us").as("t"), lit(1L).as("delta"),
          col("duration_us").as("dur"))
        val ends = sp.select(col("service"), col("span_id"),
          (col("start_us") + col("duration_us")).as("t"),
          lit(-1L).as("delta"), lit(null).cast("long").as("dur"))
        val levels = ShardedWindow.runningSum(starts.unionAll(ends),
          Seq("service"), expr(s"(t - $T0) div $HourUs"),
          Seq(col("t"), col("delta"), col("span_id")), col("delta"), "lvl")
        levels.filter(col("delta") === 1L)
          .groupBy(col("service"),
            length(conv(col("lvl"), 10, 2)).cast("long").as("lvl_bits"))
          .agg(count(lit(1)).as("n_spans"),
            expr("sum(dur) div count(1)").as("mean_us"))
          .orderBy("service", "lvl_bits")
      },
      cte("""
        |, ev AS (
        |  SELECT service, span_id, start_us AS t, 1 AS delta,
        |         duration_us AS dur
        |  FROM spans
        |  UNION ALL
        |  SELECT service, span_id, start_us + duration_us AS t, -1 AS delta,
        |         NULL AS dur
        |  FROM spans),
        |lv AS (
        |  SELECT service, delta, dur,
        |    CAST(SUM(delta) OVER (PARTITION BY service
        |      ORDER BY t, delta, span_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS lvl
        |  FROM ev)
        |SELECT service, CAST(length(bin(lvl)) AS BIGINT) AS lvl_bits,
        |  COUNT(*) AS n_spans,
        |  CAST(SUM(dur) // COUNT(*) AS BIGINT) AS mean_us
        |FROM lv WHERE delta = 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // C146: MTBF / MTTR / availability — the reliability headline
    // numbers off the merged incident timeline (C134's machinery,
    // shared via mergedIncidents): MTTR = mean incident duration,
    // MTBF = uptime per incident ((window − downtime) div n),
    // availability = uptime share in ppm, window = each service's
    // observed span [min start, max end]. All exact integer micros.
    "trace_mtbf_mttr" -> QueryDef.sql(
      (s, dir) => {
        val win = spans(s, dir).groupBy("service")
          .agg(min("start_us").as("w_start"),
            max(col("start_us") + col("duration_us")).as("w_end"))
        mergedIncidents(s, dir)
          .groupBy("service")
          .agg(count(lit(1)).as("n_incidents"),
            sum(col("i_end") - col("i_start")).as("downtime_us"))
          .join(broadcast(win), "service")
          .select(col("service"), col("n_incidents"),
            expr("downtime_us div n_incidents").as("mttr_us"),
            expr("(w_end - w_start - downtime_us) div n_incidents")
              .as("mtbf_us"),
            expr("(w_end - w_start - downtime_us) * 1000000" +
              " div (w_end - w_start)").as("availability_ppm"))
          .orderBy("service")
      },
      cte("""
        |, br AS (
        |  SELECT service, span_id, start_us, start_us + duration_us AS end_us
        |  FROM spans WHERE duration_us > 100000),
        |x AS (
        |  SELECT service, span_id, start_us, end_us,
        |    MAX(end_us) OVER (PARTITION BY service ORDER BY start_us, span_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM br),
        |b AS (
        |  SELECT service, span_id, start_us, end_us,
        |    CASE WHEN prev_end IS NULL OR start_us > prev_end
        |         THEN 1 ELSE 0 END AS brk
        |  FROM x),
        |i AS (
        |  SELECT service, start_us, end_us,
        |    SUM(brk) OVER (PARTITION BY service ORDER BY start_us, span_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM b),
        |g AS (SELECT service, island, MIN(start_us) AS i_start,
        |        MAX(end_us) AS i_end
        |      FROM i GROUP BY 1, 2),
        |d AS (SELECT service, COUNT(*) AS n_incidents,
        |        CAST(SUM(i_end - i_start) AS BIGINT) AS downtime_us
        |      FROM g GROUP BY 1),
        |w AS (SELECT service, MIN(start_us) AS w_start,
        |        MAX(start_us + duration_us) AS w_end
        |      FROM spans GROUP BY 1)
        |SELECT d.service, n_incidents,
        |  CAST(downtime_us // n_incidents AS BIGINT) AS mttr_us,
        |  CAST((w_end - w_start - downtime_us) // n_incidents AS BIGINT)
        |    AS mtbf_us,
        |  CAST((w_end - w_start - downtime_us) * 1000000
        |    // (w_end - w_start) AS BIGINT) AS availability_ppm
        |FROM d JOIN w ON d.service = w.service ORDER BY 1""".stripMargin))
  )

  /** Merged SLO-breach incident intervals per service (see C134):
    * exclusive running max → break flags → island running sum, both
    * through sharded scans. Shared by trace_incidents and
    * trace_mtbf_mttr. Returns (service, island, i_start, i_end,
    * n_spans). */
  private def mergedIncidents(s: SparkSession, dir: String): DataFrame = {
    val br = spans(s, dir).filter(col("duration_us") > 100000L)
      .select(col("service"), col("span_id"), col("start_us"),
        (col("start_us") + col("duration_us")).as("end_us"))
    val shard = expr(s"(start_us - $T0) div $HourUs")
    val order = Seq(col("start_us"), col("span_id"))
    val brk = ShardedWindow.runningMaxExclusive(br, Seq("service"), shard,
        order, col("end_us"), "prev_end")
      .withColumn("brk",
        when(col("prev_end").isNull || col("start_us") > col("prev_end"),
          1L).otherwise(0L))
    ShardedWindow.runningSum(brk, Seq("service"), shard, order,
        col("brk"), "island")
      .groupBy("service", "island")
      .agg(min("start_us").as("i_start"), max("end_us").as("i_end"),
        count(lit(1)).as("n_spans"))
  }

  /** Inverse Poisson(1) CDF over a uniform ppm draw — cuts are shared
    * floor(1e6·CDF) literals (never a runtime exp()). */
  private lazy val poissonWBody: String =
    """CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
      | WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3
      | WHEN u < 996340 THEN 4 WHEN u < 999405 THEN 5 ELSE 6 END"""
      .stripMargin.replace("\n", "")
}
