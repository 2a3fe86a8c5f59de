package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Span-tree algorithms over the span parent-edge relation, one
  * engine: a PER-TRACE walk, as the reference builds each trace's tree
  * on its own (reader TraceReader.buildTree). Parent links stay inside
  * the trace — trace assembly groups spans by trace id, and the query
  * pack's span relation takes each parent as `lag(event_id)` within
  * the trace — so a trace's rows, gathered in one place
  * ([[walkGroups]]), hold its whole tree, and each span resolves by a
  * memoized parent-chain walk in an in-memory map: O(spans) per trace,
  * trace size bounded by the ingest cap (measured 1060 → ~60 s at
  * sf100 against pointer-doubling rounds that checkpointed a
  * corpus-wide cursor per round). Boundary rules shared by both entry
  * points: a null parent is a root, a parent id absent from the trace
  * anchors the span (its hop still counts toward depth), and a parent
  * cycle fails loudly.
  */
object TreeOps {

  /** Canonical per-trace GROUP key for the local walks. Raw
    * `String.valueOf` keying had two silent-miss holes (r10 advice):
    * Array[Byte] ids (the 16-byte production trace_id) stringify by
    * identity, scattering one trace across groups; and a NULL
    * trace_id rendered "null", colliding with a trace literally keyed
    * by that string. Typed prefixes make the three domains disjoint:
    * null → a reserved token no rendered id can equal, binary → hex
    * of the bytes, everything else → its string form. */
  private def groupKey(v: Any): String = v match {
    case null => "\u0000"
    case b: Array[Byte] =>
      val sb = new java.lang.StringBuilder("b\u0001")
      b.foreach(x => sb.append(Integer.toHexString((x & 0xff) | 0x100).substring(1)))
      sb.toString
    case x => "v\u0001" + String.valueOf(x)
  }

  /** Canonical span-id key for the walk-local hash maps: Array[Byte]
    * wraps into an ArraySeq (content equality/hashCode); every other
    * type already value-compares. Null stays null (mutable.HashMap
    * accepts it; a null span_id can never be a parent target because
    * parent links to it would be null-joined out upstream). */
  private def idKey(v: Any): Any = v match {
    case b: Array[Byte] => scala.collection.immutable.ArraySeq.unsafeWrapArray(b)
    case x => x
  }

  /** Run a per-trace local walk `f` over `pre` (whose column 0 is the
    * trace key), one of two ways:
    *
    *  - `contiguous = false`: a trace-keyed groupByKey shuffle — one
    *    full exchange of the corpus, correct for ANY row layout;
    *  - `contiguous = true`: ZERO-exchange streaming block grouping —
    *    valid when every trace's rows are CONTIGUOUS within each
    *    partition, which the events→spans window guarantees by
    *    construction (its exchange partitions by the trace key and
    *    sort-orders rows by it; projections and broadcast joins
    *    preserve both), and which a Kafka ingest partitioned+ordered
    *    by traceId (the reference's own sharding,
    *    writers/kafka/KafkaWriter.scala:1) also satisfies. At sf100
    *    the walk's own 100 M-row exchange was the dominant disk
    *    traffic after the r11 single-pass restructure — this removes
    *    it entirely. A non-contiguous trace WITHIN a partition fails
    *    loudly (per-partition seen-set); rows of one trace split
    *    ACROSS partitions are the caller's contract, same standing as
    *    the in-trace parent contract itself.
    */
  private def walkGroups(pre: DataFrame, outSchema: org.apache.spark.sql.types.StructType,
      contiguous: Boolean)(
      f: (String, Array[org.apache.spark.sql.Row]) => Iterator[org.apache.spark.sql.Row]): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    val enc = Encoders.row(outSchema)
    if (!contiguous) {
      pre.groupByKey(r => groupKey(r.get(0)))(Encoders.STRING)
        .flatMapGroups((tid: String, it: Iterator[Row]) => f(tid, it.toArray))(enc)
    } else {
      pre.mapPartitions { rows =>
        val seen = new scala.collection.mutable.HashSet[String]()
        new Iterator[Row] {
          private var out: Iterator[Row] = Iterator.empty
          private var pending: Row = null
          private def advance(): Unit = {
            while (!out.hasNext && (pending != null || rows.hasNext)) {
              val first = if (pending != null) pending else rows.next()
              pending = null
              val key = groupKey(first.get(0))
              require(seen.add(key),
                s"walkGroups(contiguous): trace key $key appears in non-adjacent " +
                  "blocks of one partition — input violates the contiguity contract")
              val buf = scala.collection.mutable.ArrayBuffer[Row](first)
              var blockDone = false
              while (!blockDone && rows.hasNext) {
                val r = rows.next()
                if (groupKey(r.get(0)) == key) buf += r
                else { pending = r; blockDone = true }
              }
              out = f(key, buf.toArray)
            }
          }
          override def hasNext: Boolean = { advance(); out.hasNext }
          override def next(): Row = { advance(); out.next() }
        }
      }(enc)
    }
  }

  /** Depth (edge count from the root) of every span: at most one
    * trace-keyed shuffle (none under `traceContiguous`, see
    * [[walkGroups]]), then a memoized parent-chain walk per trace.
    *
    * Input must carry `trace_id`, `span_id` and `parent_span_id`
    * (null at roots). Roots sit at 0; a span whose parent id is
    * absent from its trace still pays that hop (the orphan sits at
    * 1 + its known-ancestor count); a parent cycle fails loudly.
    * Output: (trace_id, span_id, depth), with the original trace_id/
    * span_id column types passed through untouched.
    */
  def spanDepths(spans: DataFrame, traceContiguous: Boolean = false): DataFrame = {
    import org.apache.spark.sql.{Row}
    import org.apache.spark.sql.types._
    val pre = spans.select(col("trace_id"), col("span_id"), col("parent_span_id"))
    val preSchema = pre.schema
    val outSchema = StructType(Seq(
      preSchema("trace_id"), preSchema("span_id"),
      StructField("depth", LongType, nullable = false)))
    walkGroups(pre, outSchema, traceContiguous) { (tid: String, rows: Array[Row]) =>
        val par = new scala.collection.mutable.HashMap[Any, Any]()
        val present = new scala.collection.mutable.HashSet[Any]()
        rows.foreach { r =>
          val sid = idKey(r.get(1))
          present.add(sid)
          if (!r.isNullAt(2)) par.update(sid, idKey(r.get(2)))
        }
        val memo = new scala.collection.mutable.HashMap[Any, Long]()
        def resolve(sid0: Any): Long = {
          var chain = List.empty[Any]
          val inFlight = new scala.collection.mutable.HashSet[Any]()
          var cur = sid0
          var base = -1L
          while (base < 0 && !memo.contains(cur)) {
            require(inFlight.add(cur),
              s"spanDepths: parent cycle at span $cur in trace $tid")
            chain ::= cur
            par.get(cur) match {
              case Some(p) if present(p) => cur = p
              case Some(_) => base = 1L // dangling parent: the hop still counts
              case None => base = 0L // root
            }
          }
          var d = if (base >= 0) base - 1L else memo(cur)
          // the chain is root-most first; each member sits one hop deeper
          chain.foreach { sid => d += 1L; memo.update(sid, d) }
          memo(sid0)
        }
        rows.iterator.map { r =>
          Row(r.get(0), r.get(1), resolve(idKey(r.get(1))))
        }
      }
  }

  /** Aggregated root→span service-path rollup — the flamegraph view —
    * in ONE pass: one corpus scan, at most one trace-keyed shuffle
    * (none under `traceContiguous`), one map-combined aggregate. The
    * walk ([[pathRollupLocal]]) emits a fixed-width path fingerprint
    * per span plus the path STRING exactly once per distinct
    * (fingerprint, groupVals) per trace, so `min(path)` — which
    * ignores the bulk nulls and collapses map-side — reconstructs
    * every group's string with no second scan or join.
    *
    * `groupCols`: extra per-span columns grouped alongside the path —
    * the differential-flamegraph hook (e.g. a time-half flag).
    *
    * Input must carry trace_id, span_id, parent_span_id, service,
    * duration_us (+ groupCols). Output: (path, groupCols…, n_spans,
    * total_dur_us), one row per distinct root→self service path and
    * group.
    */
  def pathRollup(spans: DataFrame, groupCols: Seq[String] = Nil,
      traceContiguous: Boolean = false): DataFrame = {
    val src = spans.select(
      (Seq(col("trace_id"), col("span_id"), col("parent_span_id"),
        col("service"), col("duration_us")) ++ groupCols.map(col)): _*)
    pathRollupLocal(src, groupCols, traceContiguous)
      .groupBy("ph", groupCols: _*)
      .agg(min("path").as("path"), count(lit(1)).as("n_spans"),
        sum("duration_us").as("total_dur_us"))
      .select((Seq(col("path")) ++ groupCols.map(col) ++
        Seq(col("n_spans"), col("total_dur_us"))): _*)
  }

  // Dual 31-bit prime moduli and bases of the path fingerprint
  // h(seq) = Σ h(seg_i)·B^i over the self→root segment sequence —
  // every b·h product stays inside ANSI-safe long range and the
  // collision bound is ~k²/2^61 for k distinct paths.
  private val (fpP1, fpP2) = (2147483647L, 2147483629L)
  private val (fpB1, fpB2) = (1000003L, 998244353L)

  /** Per-span path fingerprints PLUS inline path strings by one
    * per-trace walk: fixed-width hash pairs for every span and the
    * path STRING only on the first occurrence of each (ph, groupVals)
    * within the trace, so the walk output stays narrow (one 8-byte
    * null slot on bulk rows). Per-trace work is O(spans) via memoized
    * parent-chain resolution + O(depth) per distinct path for the
    * one-off string builds. Ids stay in their ORIGINAL types; the
    * local maps key on canonical forms (binary ids content-compare,
    * null trace ids take a reserved group — see [[groupKey]]/
    * [[idKey]]). Output: (ph, duration_us, groupCols…, path|null).
    */
  private def pathRollupLocal(src: DataFrame, groupCols: Seq[String],
      traceContiguous: Boolean): DataFrame = {
    import org.apache.spark.sql.{Row}
    import org.apache.spark.sql.types._
    val pre = src.select(
      (Seq(col("trace_id"), col("span_id"), col("parent_span_id"),
        pmod(xxhash64(col("service")), lit(fpP1)).as("eh1"),
        pmod(xxhash64(lit("graft-fp2"), col("service")), lit(fpP2)).as("eh2"),
        col("duration_us"), col("service")) ++ groupCols.map(col)): _*)
    val preSchema = pre.schema
    val outSchema = StructType(
      Seq(StructField("ph", LongType, nullable = false),
        StructField("duration_us", preSchema("duration_us").dataType)) ++
      groupCols.map(g => preSchema(g)) :+
      StructField("path", StringType, nullable = true))
    val nGroup = groupCols.size
    walkGroups(pre, outSchema, traceContiguous) { (tid: String, rows: Array[Row]) =>
        val eh = new scala.collection.mutable.HashMap[Any, (Long, Long)]()
        val par = new scala.collection.mutable.HashMap[Any, Any]()
        val svc = new scala.collection.mutable.HashMap[Any, String]()
        rows.foreach { r =>
          val sid = idKey(r.get(1))
          eh.update(sid, (r.getLong(3), r.getLong(4)))
          svc.update(sid, r.getString(6))
          if (!r.isNullAt(2)) par.update(sid, idKey(r.get(2)))
        }
        // memoized bottom-up resolution: each span's hash derives from
        // its parent's in O(1), so the whole trace resolves in O(n)
        val memo = new scala.collection.mutable.HashMap[Any, (Long, Long)]()
        def resolve(sid0: Any): (Long, Long) = {
          var chain = List.empty[Any]
          val inFlight = new scala.collection.mutable.HashSet[Any]()
          var cur = sid0
          var anchor: Option[(Long, Long)] = None
          while (anchor.isEmpty && !memo.contains(cur)) {
            require(inFlight.add(cur),
              s"pathRollupLocal: parent cycle at span $cur in trace $tid")
            chain ::= cur
            par.get(cur).filter(eh.contains) match {
              case Some(p) => cur = p
              case None => anchor = Some((0L, 0L)) // root / dangling parent
            }
          }
          var h = anchor.getOrElse(memo(cur))
          chain.foreach { sid =>
            val (e1, e2) = eh(sid)
            h = (((e1 + fpB1 * h._1) % fpP1), ((e2 + fpB2 * h._2) % fpP2))
            memo.update(sid, h)
          }
          h
        }
        // path string built once per distinct (ph, groupVals) in this
        // trace — acyclicity already proven by resolve on every span
        def buildPath(sid0: Any): String = {
          val segs = scala.collection.mutable.ListBuffer.empty[String]
          var cur = sid0
          var done = false
          while (!done) {
            segs += svc(cur)
            par.get(cur).filter(eh.contains) match {
              case Some(p) => cur = p
              case None => done = true
            }
          }
          segs.reverse.mkString("/")
        }
        val emitted = new scala.collection.mutable.HashSet[(Long, Seq[Any])]()
        rows.iterator.map { r =>
          val sid = idKey(r.get(1))
          val (h1, h2) = resolve(sid)
          val ph = h1 * fpP2 + h2
          val gvals = (0 until nGroup).map(i => r.get(7 + i))
          val path = if (emitted.add((ph, gvals))) buildPath(sid) else null
          Row.fromSeq((Seq(ph, r.get(5)) ++ gvals) :+ path)
        }
      }
  }
}
