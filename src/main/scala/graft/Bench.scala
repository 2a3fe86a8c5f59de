package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Two passes:
  *  - `cold_queries`: scan-heavy queries timed BEFORE any caching —
  *    these exercise parquet scans, pushdown, and pruning, the things
  *    the 100 TB design actually pays for (a warm-cache-only bench
  *    hides scan regressions).
  *  - `queries` (and `total`): the full suite over cached hot
  *    relations — the serving-tier analogue of the reference reading
  *    from warm Cassandra/ES, and the round-over-round comparable.
  *
  * ADJUDICABILITY (the round-2 lesson: a one-shot shared-JVM pass is
  * too noisy to call a 2× regression bar on sub-second queries):
  *  - every warm query runs `SPARK_GRAFT_TRIALS` (default 3) times;
  *    `queries` reports the MIN (the plan's floor, robust to GC/JIT
  *    interference) and `queries_median` the median;
  *  - a forced GC runs before each query so one query's garbage isn't
  *    charged to the next;
  *  - streaming queries run LAST: their state-store init and
  *    micro-batch machinery are the biggest cross-query contaminants.
  *
  * A query that throws is reported as -1 in its map and listed in
  * `errors` (never a normal-looking elapsed time), so regressions
  * can't hide behind a swallowed exception. Only NonFatal throwables
  * are recorded — an OutOfMemoryError/LinkageError aborts the run
  * rather than benching a corrupted JVM.
  */
object Bench {

  /** Scan-dominated queries worth timing uncached. */
  private val ColdQueries = Seq(
    "q1_agg", "q6_filter", "q3_join", "q_factjoin",
    "trace_search", "dedup_exact", "text_quality", "ann_topk_brute")

  /** JSON string literal: backslash, quote and every control char
    * (< 0x20) escaped — a tab or CR in an error message or an oracle
    * SQL string would otherwise break the reader's json.load. */
  private[graft] def jq(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Error map for the COMPACT line: first [[maxShown]] entries with
    * 40-char messages, plus an `n_errors` key carrying the TRUE count.
    * The query map degrades under the tail budget by dropping entries,
    * but r7 proved the error map must too — 54 analysis failures
    * emitted whole pushed the line past the window and the driver
    * recorded `parsed:null`, losing the errors AND the timings. Full
    * error text always lives on the total_detail line. */
  private[graft] def compactErrJson(errors: collection.Seq[(String, String)], maxShown: Int = 5): String = {
    val shown = errors.take(maxShown).map { case (k, v) => s"${jq(k)}: ${jq(v.take(40))}" }
    (shown :+ s""""n_errors": ${errors.size}""").mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val trials = sys.env.getOrElse("SPARK_GRAFT_TRIALS", "3").toInt.max(1)
    val spark = GraftSession()

    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // record=false: the box-weather control runs (q1_agg yardstick) must
    // NOT feed the surface errors map — a transient control hiccup would
    // flip the pack's errors count / compact-line gate without any
    // benchmark surface failing (r12 advice). A failed control already
    // propagates as -1 inside the `control` json block.
    def once(name: String, tag: String, record: Boolean = true): Double = {
      val t0 = System.nanoTime()
      try {
        // noop write, NOT count(): under count() Catalyst prunes every
        // output column the count doesn't need — an aggregate's payload
        // expressions, a per-doc score projection — so count() times a
        // skeleton of the query (measured: trace_tag_extract 0.45 s
        // counted vs 43 s with its JSON extraction actually computed at
        // sf100). The noop sink materializes every output column
        // without writing bytes — the standard full-computation action.
        val df = SparkEntry.queries(name)(spark, sfDir)
        val build = (System.nanoTime() - t0) / 1e9
        df.write.mode("overwrite").format("noop").save()
        val sec = (System.nanoTime() - t0) / 1e9
        // stderr progress line (stdout stays reserved for the driver's
        // {"metric"...} grep) — long scale runs are watchable, and a
        // wedged query is identifiable by the last line printed.
        // build= is the query function's own time (plan assembly plus
        // any eager driver work) inside the total.
        System.err.println(f"[bench] $tag $name $sec%.3f s build=$build%.3f")
        sec
      } catch {
        case NonFatal(e) =>
          if (record)
            errors(s"$tag:$name") = Option(e.getMessage).getOrElse(e.getClass.getName)
              .linesIterator.take(1).mkString.take(200)
          System.err.println(s"[bench] $tag $name FAILED")
          -1.0
      }
    }

    /** Per-query isolation: settle the JVM, then N trials → (min, median). */
    def measured(name: String): (Double, Double) = {
      System.gc()
      val ts = (1 to trials).map(_ => once(name, "warm"))
      val ok = ts.filter(_ >= 0)
      if (ok.isEmpty) (-1.0, -1.0)
      else {
        val sorted = ok.sorted
        (sorted.head, sorted(sorted.size / 2))
      }
    }

    // JIT/codegen/classloader warmup on one tiny query so the first
    // cold measurement isn't charged JVM startup
    try SparkEntry.queries("q_topk")(spark, sfDir).count()
    catch { case NonFatal(_) => }

    // pass 1: cold scans — nothing cached yet (single-shot by nature:
    // a repeat of a cold query isn't cold). Honors the dev-only
    // SPARK_GRAFT_ONLY subset so a one-query scale probe doesn't pay
    // eight unrelated cold scans first (the cache warmup below still
    // runs — its cost is bounded and subset warm numbers stay
    // comparable to full-run baselines).
    val onlyEnv = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val cold = ColdQueries.filter(n => onlyEnv.forall(_.contains(n)))
      .map(n => n -> once(n, "cold"))

    // pass 2 warmup: pin the hot relations (CacheManager substitutes by
    // logical plan, so every query over the same scans hits the cache)
    // and pre-build the write-once batch layouts so their queries time
    // the read, not the setup write (a single-trial run would otherwise
    // charge each write to whichever surface builds it first). The
    // streaming replay layouts stay out: building them here would start
    // state stores ahead of the batch block. Caching is SIZE-GATED: at the
    // sf10 posture probe a half-evicted 60M-row lineitem cache read
    // SLOWER than parquet (warm q3_join 36 s vs cold 19 s) — a table
    // that can't plausibly stay resident is better left uncached, as a
    // production serving tier would leave it. Row counts come from
    // parquet footers, no scan.
    val cacheRowCap = sys.env.getOrElse("SPARK_GRAFT_CACHE_ROW_CAP", "20000000").toLong
    try {
      Seq(Tables.lineitem(spark, sfDir), Tables.orders(spark, sfDir),
        Tables.customer(spark, sfDir), Tables.part(spark, sfDir),
        Tables.documents(spark, sfDir), Tables.embeddings(spark, sfDir),
        graft.operators.SpanOps.spansFromEvents(Tables.events(spark, sfDir)))
        .foreach(df => if (df.count() <= cacheRowCap) df.cache().count())
      // each of these writes its layout when built; no action needed
      Seq("trace_partitioned_scan", "trace_zorder_scan", "trace_field_names",
        "trace_field_values_meta", "trace_span_ingest_json")
        .foreach(n => SparkEntry.queries(n)(spark, sfDir))
      // pre-build the persisted winnow-fp index (r13 build/probe
      // split): dedup_incremental + its streaming twin then time the
      // PROBE against the existing index — the production contract —
      // while dedup_index_build times the build as its own line item
      graft.operators.IndexStore.ensure(spark, sfDir)
      graft.operators.IndexStore.ensureIvfPq(spark, sfDir)
    } catch { case NonFatal(_) => }

    // Box-weather control (the r11 lesson: the pack ran on a box 1.8×
    // slower than its own morning and 20+ untouched surfaces read as
    // regressions — an integer-second scoreboard can't tell weather
    // from plans unless the bench carries its own yardstick). q1_agg
    // is the yardstick: a fixed cached-scan aggregate whose plan never
    // changes round over round. Measure it at three points — right
    // after warmup, after the batch block, after the streaming block —
    // so mid-pack drift is visible, and emit all three (plus the cold
    // q1 scan) in the COMPACT line the driver records. Runs even under
    // SPARK_GRAFT_ONLY so isolated probes stay normalizable.
    def controlRun(tag: String): Double = {
      System.gc()
      val ts = (1 to trials).map(_ => once("q1_agg", tag, record = false)).filter(_ >= 0)
      if (ts.isEmpty) -1.0 else ts.min
    }
    val ctlStart = controlRun("ctl_start")

    // batch queries first, streaming last (state-store contamination)
    // dev-only subset filter (the driver never sets it): comma-joined
    // names for scale probes where the full pack would take hours
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => onlyEnv.forall(_.contains(n)))
    val (streamingNames, batchNames) = names.partition(_.startsWith("streaming_"))
    val batchResults = batchNames.map(n => n -> measured(n))
    val ctlMid = controlRun("ctl_mid")
    // the warm-pass caches exist for the batch block; carried into the
    // streaming block they only squeeze state-store memory (measured
    // 110 s vs 6.5 s on streaming_index_docs at the sf10 pack) — drop
    // them so streaming entries time the streams
    spark.catalog.clearCache()
    val results = batchResults ++ streamingNames.map(n => n -> measured(n))
    // end control: re-pin the q1 relation so all three warm controls
    // measure the same cached-scan plan (post-streaming the cache is
    // cold; without the re-pin ctl_end would time a parquet scan and
    // read as fake drift)
    try { val li = Tables.lineitem(spark, sfDir); if (li.count() <= cacheRowCap) li.cache().count() }
    catch { case NonFatal(_) => }
    val ctlEnd = controlRun("ctl_end")

    def jmap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"${jq(k)}: ${jq(v)}" }.mkString("{", ",", "}")
    val mins = results.map { case (k, (mn, _)) => k -> mn }
    val medians = results.map { case (k, (_, md)) => k -> md }
    val total = mins.collect { case (_, v) if v >= 0 => v }.sum

    // The bench driver keeps only the LAST ~2000 chars of stdout and
    // greps them for a line starting with {"metric" — a full-precision
    // line with medians is >4000 chars and its head falls outside the
    // window (BENCH_r01–r03 all recorded parsed:null this way). So:
    //  - line 1 (detail): full precision + medians, keys ordered so its
    //    TAIL (cold_queries, errors) stays visible in the window;
    //  - line 2 (final): compact 3-significant-digit warm mins, sized to
    //    fit the window whole, falling back to 2 digits if the suite
    //    ever grows past the budget.
    def fmtSig(v: Double, sig: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${sig}g", Double.box(v))
    def jmapSig(kvs: Seq[(String, Double)], sig: Int): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + fmtSig(v, sig) }.mkString("{", ",", "}")
    // errors in the compact line are capped (first 5 + true count) so
    // even a mass failure leaves the line parseable — see compactErrJson
    val errCompact = compactErrJson(errors.toSeq)
    // q1 controls: warm floor = min over the three checkpoints (the
    // box's best observed state); ratios against it self-normalize the
    // per-query numbers. cold control = the cold-pass q1 scan.
    val ctlCold = cold.collectFirst { case ("q1_agg", v) => v }.getOrElse(-1.0)
    val ctlWarm = Seq(ctlStart, ctlMid, ctlEnd).filter(_ >= 0) match {
      case Nil => -1.0; case xs => xs.min
    }
    val ctlJson =
      s"""{"q1_start":${fmtSig(ctlStart, 3)},"q1_mid":${fmtSig(ctlMid, 3)},"q1_end":${fmtSig(ctlEnd, 3)},"q1_cold":${fmtSig(ctlCold, 3)}}"""
    def compactLine(kvs: Seq[(String, Double)], sig: Int, note: String): String = {
      val noteJson = if (note.isEmpty) "" else s""","note":${jq(note)}"""
      s"""{"metric":"total","value":${fmtSig(total, 4)},"unit":"sec","trials":$trials,"control":$ctlJson,"queries":${jmapSig(kvs, sig)},"errors":$errCompact,"sf":"$sfDir"$noteJson}"""
    }
    // detail line: raw mins/medians plus a q1-normalized view (raw min
    // divided by the warm q1 floor) so round-over-round per-query diffs
    // read in box-independent units
    val q1x = if (ctlWarm > 0)
      mins.map { case (k, v) => k -> (if (v >= 0) math.rint(v / ctlWarm * 100) / 100 else -1.0) }
    else Seq.empty[(String, Double)]
    val detailLine =
      s"""{"metric":"total_detail","value":$total,"unit":"sec","trials":$trials,"control":$ctlJson,"queries":${jmap(mins)},"queries_median":${jmap(medians)},"queries_q1x":${jmap(q1x)},"cold_queries":${jmap(cold)},"errors":$errJson,"sf":"$sfDir"}"""
    println(detailLine)
    // The compact line drops the fastest entries by design, so the
    // driver-recorded BENCH json is not per-query diffable round over
    // round. Persist the full-precision detail line as an artifact too
    // (committed per round as bench_detail_r{N}.json); best-effort —
    // an unwritable path must never fail the bench.
    val detailFile = sys.env.getOrElse("SPARK_GRAFT_DETAIL_FILE",
      "bench_detail_last.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(detailFile), detailLine + "\n")
    catch { case scala.util.control.NonFatal(_) => () }
    // hard budget: the tail window is 2000 chars and sbt's trailing
    // "[success] Total time: …" line eats ~80 of them, so the line must
    // fit 1915. Degrade in order: precision (3 → 2 → 1 significant
    // digits), then drop the FASTEST entries one at a time (slow
    // queries are the ones the scoreboard adjudicates; a sub-0.2 s
    // timing is warmup noise anyway) with a note saying how many were
    // cut. Full precision for everything is always on the total_detail
    // line. Never emit queries:{} while anything fits.
    // error sentinels (-1) lead so dropRight removes them LAST — a
    // failed query must stay visible in the map as long as anything
    // does (the whole point of the -1 invariant), and the note's
    // "fastest entries omitted" stays literally true
    val byValueDesc = mins.filter(_._2 < 0) ++ mins.filter(_._2 >= 0).sortBy(-_._2)
    val candidates =
      Iterator(3, 2, 1).map(sig => compactLine(mins, sig, "")) ++
        Iterator.range(1, mins.size).map { drop =>
          val kept = byValueDesc.dropRight(drop)
          compactLine(kept.sortBy(_._1), 1,
            s"$drop fastest entries omitted for the tail budget; see total_detail")
        }
    println(candidates.find(_.length <= 1915).getOrElse(
      s"""{"metric":"total","value":${fmtSig(total, 4)},"unit":"sec","trials":$trials,"queries":{},"errors":$errCompact,"sf":"$sfDir","note":"per-query map exceeded the tail budget; see total_detail"}"""))
    spark.stop()
  }
}

/** The one SparkSession builder: every graft main (Bench, Verify,
  * ScaleUp) and the test base run on it, so their settings cannot
  * drift apart. It lives in this file because perfbench reads the
  * settings below from Bench.scala's text on every run and refuses to
  * run if they differ from its own session's.
  */
object GraftSession {

  /** A session on `SPARK_GRAFT_CPUS` local cores (default 4). */
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    apply(cpus)
  }

  /** A session on `cpus` local cores, or the live one with these
    * settings applied (`getOrCreate`). */
  def apply(cpus: String): SparkSession = {
    // Shuffle partitions must scale with the DATA, not the cores: at
    // sf100 (600 M lineitem / 100 M events) 32 post-shuffle partitions
    // put ~3 M rows in every hash-join build and OOM'd the r9 pack at
    // trace_depth (heap death at stage 3673 — the whole JVM exited 52
    // and took 77 un-run surfaces with it). AQE coalesces an
    // over-partitioned shuffle for free but never splits an
    // under-partitioned non-skewed one, so the safe direction is UP.
    // Default stays = cpus for the sf0.1 pack; scale runs set
    // SPARK_GRAFT_SHUFFLE (256 at sf100).
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      // generated-class cache (static conf): the default 100 entries
      // thrash across a few hundred distinct plans, so repeat trials
      // re-run Janino on code they just compiled. Not a local-mode
      // constant — any long-lived driver/executor serving a query
      // library wants the compiled classes resident (r13; measured
      // ~8% on the warm tail).
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "10000"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
