package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Composable search expression tree — the full analogue of the
  * reference's `ExpressionTree` query surface
  * (reader/.../SpansIndexQueryGenerator.createExpressionTreeBasedQuery):
  * a trace matches when EVERY span-level group is satisfied by at least
  * one of its spans; inside a group, arbitrary boolean structure over
  * field predicates applies to a single span.
  *
  * Scale shape: one scan and one aggregate on the traceId hash. Each
  * group becomes a per-trace "some span matched" flag beside the
  * summary columns (SpanOps.searchTraceSummaries), so the window is read
  * once however many groups the tree has.
  */
object TraceSearch {

  sealed trait Expr
  final case class Eq(field: String, value: String) extends Expr
  final case class RangeUs(field: String, lo: Long, hi: Long) extends Expr
  final case class And(children: Seq[Expr]) extends Expr
  final case class Or(children: Seq[Expr]) extends Expr
  final case class Not(child: Expr) extends Expr

  /** Compile a span-level expression to a Column predicate. */
  def compile(e: Expr): Column = e match {
    case Eq(f, v) => col(f) === v
    case RangeUs(f, lo, hi) => col(f).between(lo, hi)
    case And(cs) => cs.map(compile).reduce(_ && _)
    case Or(cs) => cs.map(compile).reduce(_ || _)
    case Not(c) => !compile(c)
  }

  /** Trace ids satisfying every span-level group. */
  def matchingTraceIds(spans: DataFrame, groups: Seq[Expr]): DataFrame =
    SpanOps.searchTracesExpr(spans, groups.map(compile))

  /** Span-intrinsic numeric fields — range-indexed in every index doc
    * (the reference's TraceIndexDoc writes starttime/duration as
    * numerics unconditionally), so range predicates on them are always
    * legal. */
  val IntrinsicRangeFields: Set[String] = Set("start_us", "duration_us")

  /** Analysis-time range-query enforcement, mirroring the reference's
    * ES mapping behavior (commons
    * config/entities/WhitelistIndexFieldConfiguration.scala): a field
    * indexed without `enableRangeQuery` has a keyword mapping, and a
    * range predicate against it is rejected when the query is BUILT —
    * not silently scanned, and not a runtime stage failure. */
  def validateRangeFields(
      groups: Seq[Expr], whitelist: Seq[WhitelistIndex.WhitelistField]): Unit = {
    val rangeable = IntrinsicRangeFields ++
      WhitelistIndex.catalog(whitelist).collect { case (name, _, true) => name }
    def walk(e: Expr): Unit = e match {
      case RangeUs(f, _, _) =>
        require(rangeable.contains(f.toLowerCase(java.util.Locale.ROOT)),
          s"range query on field '$f' which is not range-indexed; " +
            "set enableRangeQuery on its whitelist entry (fields indexed " +
            s"for range queries: ${rangeable.toSeq.sorted.mkString(", ")})")
      case And(cs) => cs.foreach(walk)
      case Or(cs) => cs.foreach(walk)
      case Not(c) => walk(c)
      case Eq(_, _) => ()
    }
    groups.foreach(walk)
  }

  /** Expression-tree search over whitelist-extracted tag columns, with
    * the range-flag enforcement applied before any plan is built. */
  def matchingTraceIdsTagged(
      spans: DataFrame, groups: Seq[Expr],
      whitelist: Seq[WhitelistIndex.WhitelistField]): DataFrame = {
    validateRangeFields(groups, whitelist)
    matchingTraceIds(WhitelistIndex.extractTags(spans, whitelist), groups)
  }

  /** Full search: the matching traces summarized, newest first with a
    * deterministic tie-break, in the same single pass. */
  def search(spans: DataFrame, groups: Seq[Expr], limit: Int): DataFrame =
    SpanOps.searchTraceSummaries(spans, groups.map(compile), limit)
}
