package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Columnar span-stream operators — the haystack indexer/reader surface
  * re-expressed as declarative DataFrame transforms.
  *
  * The testdata `events` table plays the span stream (see SURVEY.md §2):
  * user_id → trace grouping key, event_id → spanId, event_type →
  * service, ts → start, value → duration millis, props → tags JSON.
  * `parent_span_id` is synthesized as the previous event of the same
  * trace (a chain tree) purely so tree-shaped operators have edges to
  * work with; the operators themselves are generic over any span
  * relation with this schema.
  */
object SpanOps {

  /** events → span relation. One window shuffle on the trace key; every
    * downstream per-trace operator reuses that hash partitioning. */
  def spansFromEvents(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events.select(
      col("user_id").cast("string").as("trace_id"),
      col("event_id").as("span_id"),
      lag("event_id", 1).over(w).as("parent_span_id"),
      col("event_type").as("service"),
      concat(lit("op_"), (get_json_object(col("props"), "$.k").cast("int") % 5).cast("string")).as("operation"),
      graft.Tables.eventTimeUs(events).as("start_us"),
      round(col("value") * 1000, 0).cast("long").as("duration_us"),
      col("props").as("tags"))
  }

  /** Matching DuckDB CTE for the mapping above — prefixed onto every
    * trace-domain oracle so both engines query the same span relation. */
  val spansSqlCte: String =
    """WITH spans AS (
      |  SELECT CAST(user_id AS VARCHAR) AS trace_id,
      |         event_id AS span_id,
      |         lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS parent_span_id,
      |         event_type AS service,
      |         'op_' || CAST(CAST(json_extract(props, '$.k') AS INT) % 5 AS VARCHAR) AS operation,
      |         epoch_us(ts) AS start_us,
      |         CAST(ROUND(value * 1000, 0) AS BIGINT) AS duration_us,
      |         props AS tags
      |  FROM events
      |)""".stripMargin

  /** Per-trace buffer summary (indexer SpanBufferMemoryStore seal):
    * one partial-aggregated shuffle on trace_id. */
  def spanBufferSummary(spans: DataFrame): DataFrame =
    spans.groupBy("trace_id").agg(
      count(lit(1)).as("span_count"),
      min("start_us").as("trace_start_us"),
      max(col("start_us") + col("duration_us")).as("trace_end_us"),
      countDistinct("service").as("n_services"))

  /** Second-granularity truncation used by the reference index docs
    * (IndexDocumentGenerator.truncateToSecondGranularity). */
  private def truncSec(c: Column): Column = c - (c % 1000000L)

  /** Duration low-cardinality adjustment: second-truncate only when the
    * duration exceeds 20 s (IndexDocumentGenerator:38,152-160). */
  private def adjustDuration(c: Column): Column =
    when(c > 20000000L, truncSec(c)).otherwise(c)

  /** Trace index documents: per (trace, service, operation) rollup —
    * the flattened analogue of the reference's nested ES doc
    * (IndexDocumentGenerator.createIndexDocument). */
  def indexDocs(spans: DataFrame): DataFrame =
    spans
      .filter(col("service").isNotNull && col("operation").isNotNull)
      .groupBy("trace_id", "service", "operation")
      .agg(
        count(lit(1)).as("span_count"),
        min(truncSec(col("start_us"))).as("min_start_us_sec"),
        countDistinct(adjustDuration(col("duration_us"))).as("distinct_durations"))

  /** Service catalog (ServiceMetadataDocumentGenerator): distinct
    * operations + activity window per service. */
  def serviceMetadata(spans: DataFrame): DataFrame =
    spans.groupBy("service").agg(
      countDistinct("operation").as("n_operations"),
      min("start_us").as("first_seen_us"),
      max("start_us").as("last_seen_us"))

  /** Service + time-window search (reader
    * EsIndexedTraceStore.searchTraces): the traces with a span of
    * `service` inside the window, summarized over all their spans. */
  def searchTraces(spans: DataFrame, service: String, startUs: Long, endUs: Long, limit: Int): DataFrame =
    searchTraceSummaries(spans,
      Seq(col("service") === service && col("start_us").between(startUs, endUs)), limit)

  /** The reader's search result over the traces matching every span-level
    * group: per trace its earliest start and span count, newest first
    * with a deterministic tie-break. The reference finds the ids in the
    * index, then fetches those traces; here one scan does both, since the
    * match flags and the summary are one aggregate. A null trace id is
    * never a result, as no id lookup matches it. */
  def searchTraceSummaries(spans: DataFrame, spanGroups: Seq[Column], limit: Int): DataFrame =
    tracesMatchingAll(spans.filter(col("trace_id").isNotNull), spanGroups,
      min("start_us").as("trace_start_us"), count(lit(1)).as("span_count"))
      .orderBy(col("trace_start_us").desc, col("trace_id"))
      .limit(limit)

  /** Expression-tree search (SpansIndexQueryGenerator): AND of span-level
    * predicate groups — each group must be satisfied by SOME span of the
    * trace. Composable: each group is a Column over the span relation.
    * Spans with a null trace id form one trace, like any other id. */
  def searchTracesExpr(spans: DataFrame, spanGroups: Seq[Column]): DataFrame =
    tracesMatchingAll(spans, spanGroups).select("trace_id")

  /** One `groupBy(trace_id)` over a single scan: `aggs` plus, per group,
    * whether some span of the trace satisfies it; keeps the traces with
    * every flag set. */
  private def tracesMatchingAll(spans: DataFrame, spanGroups: Seq[Column], aggs: Column*): DataFrame = {
    require(spanGroups.nonEmpty, "trace search needs at least one span-level group")
    val flags = spanGroups.indices.map(i => s"__group_$i")
    val all = aggs ++ spanGroups.zip(flags).map { case (g, f) => bool_or(g).as(f) }
    spans.groupBy("trace_id").agg(all.head, all.tail: _*)
      .filter(flags.map(col).reduce(_ && _))
      .drop(flags: _*)
  }

  /** Time-bucketed trace counts (TraceCountsQueryGenerator histogram). */
  def traceCounts(spans: DataFrame, service: String, startUs: Long, endUs: Long, intervalUs: Long): DataFrame =
    spans
      .filter(col("service") === service && col("start_us").between(startUs, endUs))
      .groupBy(floor((col("start_us") - startUs) / intervalUs).as("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Distinct values of an indexed field, optionally filtered
    * (FieldValuesQueryGenerator). */
  def fieldValues(spans: DataFrame, field: String, filter: Column): DataFrame =
    spans.filter(filter).select(col(field).as("value")).distinct()

  /** The (service, operation) catalog the ingest side maintains
    * (reference indexer ServiceMetadataDocumentGenerator writes one
    * metadata doc per service+operation): tiny — #services ×
    * #operations rows however big the span relation is. Materialized
    * once, it lets the reader answer serviceName/operationName
    * field-values WITHOUT touching spans, the reference's
    * ServiceMetadataQueryGenerator.scala:30 fast path. */
  def serviceOperationCatalog(spans: DataFrame): DataFrame =
    spans.groupBy("service", "operation").agg(
      count(lit(1)).as("n_spans"),
      min("start_us").as("first_seen_us"),
      max("start_us").as("last_seen_us"))

  /** Field-values served from the materialized catalog relation
    * instead of a span scan — `field` must be one the catalog carries
    * (service/operation); any filter is over catalog columns. */
  def fieldValuesFromCatalog(catalog: DataFrame, field: String, filter: Column): DataFrame =
    catalog.filter(filter).select(col(field).as("value")).distinct()
}
