package graft

import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

/** Plan-shape regression guards for the round-6 query surfaces: the
  * properties that make them survive a 100 TB scale-up, asserted on
  * the physical plan so a Spark upgrade or refactor can't silently
  * regress them to a shuffle/loop shape.
  */
class QueryPlanShapeSpec extends AnyFunSpec with Matchers with SparkTestBase {

  private def plan(name: String): String =
    SparkEntry.allDefs(name).fn(spark, sfDir).queryExecution.executedPlan.toString

  private def windowOps(p: String): Int = "(?<![A-Za-z])Window ".r.findAllIn(p).length

  /** The GraphOps.inOneTask shape: one single-partition exchange into
    * the kernel's MapPartitions, no cached or local relation, and no
    * Window beyond the span derivation's parent lag. */
  private def oneTaskKernel(p: String): Unit = {
    p should include("Exchange SinglePartition")
    p should include("MapPartitions")
    p should not include "InMemoryTableScan"
    p should not include "LocalTableScan"
    p should not include "CartesianProduct"
    val spansPlan = graft.operators.SpanOps.spansFromEvents(Tables.events(spark, sfDir))
      .queryExecution.executedPlan.toString
    windowOps(p) shouldBe windowOps(spansPlan)
  }

  describe("round-6 plan shapes") {
    it("text_tfidf pushes the per-doc argmax below the shuffle and broadcasts df") {
      val p = plan("text_tfidf")
      // rank-limit pushdown: top-1-per-doc runs map-side before the
      // window exchange, so the full (doc,term) table never shuffles twice
      p should include("WindowGroupLimit")
      // the document-frequency side joins in as a broadcast, not a
      // term-keyed shuffle join that a hot stopword key would skew
      p should include("BroadcastHashJoin")
      p should not include "SortMergeJoin"
    }

    it("q_lateral decorrelates to a partitioned rank, not a per-row nested loop") {
      val p = plan("q_lateral")
      // the LIMIT'd correlated subquery becomes a per-custkey rank...
      p should include("Window")
      // ...with the correlation domain (c_custkey <= 100) INFERRED
      // onto the orders scan, so the rank never runs over the full table
      p should include("LessThanOrEqual(o_custkey,100)")
      p should not include "CartesianProduct"
    }

    it("trace_gapfill joins grid-bounded sides by broadcast") {
      val p = plan("trace_gapfill")
      // both join inputs are (services × hours)-bounded aggregates —
      // the span table's size must never force this to sort-merge
      p should include("BroadcastHashJoin")
      p should include("LeftOuter")
      p should not include "SortMergeJoin"
    }

    it("corpus_mix keeps the per-doc keep decision row-local against a broadcast rate table") {
      val p = plan("corpus_mix")
      p should include("BroadcastHashJoin")
      p should not include "SortMergeJoin"
    }

    it("q_notin_null plans NOT IN as a null-aware broadcast anti join") {
      val p = plan("q_notin_null")
      // BroadcastHashJoin ... LeftAnti, BuildRight, true — the trailing
      // flag is isNullAwareAntiJoin; a plain anti join would get the
      // three-valued NULL semantics wrong
      p should include regex """BroadcastHashJoin .*LeftAnti, BuildRight, true"""
    }

    it("q_stats_agg computes all five power sums in one map-combinable pass") {
      val p = plan("q_stats_agg")
      // one partial+final pair, one exchange on the group key — the
      // closed-form stats must never become per-statistic passes
      "Exchange hashpartitioning\\(l_returnflag".r.findAllIn(p).size shouldBe 1
      p should include("partial_sum")
    }

    it("embed_outliers broadcasts the centroid vectors against the corpus scan") {
      val p = plan("embed_outliers")
      // labels·dim rows: the centroid side must broadcast; a label-keyed
      // sort-merge join would shuffle the whole corpus by a 10-value key
      p should include("BroadcastHashJoin")
      p should not include "SortMergeJoin"
    }

    it("q_multi_distinct plans the three distincts via Expand, not self-joins") {
      val p = plan("q_multi_distinct")
      p should include("Expand")
      p should not include "Join"
    }

    it("trace_field_values_meta reads the catalog relation, never the span source") {
      val df = SparkEntry.allDefs("trace_field_values_meta").fn(spark, sfDir)
      // the ServiceMetadataQueryGenerator fast path: field values for
      // service/operation come from the tiny materialized catalog —
      // a plan that still scans the events/span source defeats it.
      // Asserted on the file relations' root paths: the printed plan
      // truncates a long `Location:` path
      val roots = df.queryExecution.optimizedPlan.collect { case l: LogicalRelation => l.relation }
        .collect { case h: HadoopFsRelation => h.location.rootPaths.map(_.getName) }.flatten
      roots should not be empty
      all(roots) should startWith("graft_svc_catalog_")
    }

    it("text_ngram_novelty explodes the corpus once — both aggregates share the tri exchange") {
      // the per-doc counts and the first-occurrence min both consume
      // the explicit repartition(tri); without it Catalyst re-derives
      // the min branch from a second full tokenize+explode of every
      // document (measured 124.8 vs 86.5 s at sf100). AQE does the
      // reuse at runtime via canonical stage dedup; asserting on the
      // static rule (AQE off) pins the same property deterministically.
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val p = plan("text_ngram_novelty")
        p should include("ReusedExchange")
        "Generate explode".r.findAllIn(p).length shouldBe 1
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }

    it("text_strip_boilerplate probes flagged hashes by equi-join, never a per-row array scan") {
      // Three scan-stage tokenizer passes, each linear and pipelined:
      // hash census, flagged-occurrence scan, rebuild — every chunk
      // transform sits ABOVE its join so CollapseProject cannot inline
      // the tokenizer into a lambda (the O(n^2/10) re-split trap).
      // Flagged hashes meet the chunk triples in an EQUI-join (hash
      // key), never a broadcast array scanned per row — the r8 sf1
      // pack measured the array_contains-over-collect_list form at
      // #chunks × |flagged| per doc (147 s where the join form runs
      // 1.8 s). A shared census/drops exchange is unreachable (column
      // pruning + pushed isnotnull specialize the subtrees apart), so
      // the duplicate tokenize is the deliberate skew-safe trade.
      val p = plan("text_strip_boilerplate")
      "split\\(".r.findAllIn(p).length shouldBe 3
      p should not include "BroadcastNestedLoopJoin"
    }
  }

  describe("round-7 plan shapes") {
    it("text_bm25 tokenizes the corpus once — tf and df share one exchange") {
      // the df branch re-aggregates the tf exchange, not a second
      // corpus explode (the text_ngram_novelty lesson: explicit
      // repartition(doc_id, term) makes both subtrees byte-identical
      // below the exchange); df and corpus stats join in as broadcasts
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val p = plan("text_bm25")
        p should include("ReusedExchange")
        "Generate explode".r.findAllIn(p).length shouldBe 1
        p should include("BroadcastHashJoin")
        p should not include "SortMergeJoin"
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }

    it("trace_duration_heatmap partial-aggregates before its only data exchange") {
      // map-side combine collapses the span stream to ≤ #hours × ~40
      // bucket cells per task before anything shuffles — the shuffle
      // payload is the heatmap size, not the span count
      val p = plan("trace_duration_heatmap")
      p should include("partial_count")
      p should not include "SortMergeJoin"
      "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 1
    }

    it("corpus_gopher_rules is pure scan-stage work — no data shuffle at all") {
      // every rule flag is row-local; the only exchange in the plan is
      // the cosmetic output ordering's range partitioning
      val p = plan("corpus_gopher_rules")
      "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 0
      p should not include "Window"
      p should not include "Join"
    }

    it("trace_span_gap windows on the high-cardinality trace key") {
      // the lag window partitions by trace (millions of keys at scale),
      // never by service — parallelism is #traces, and the per-service
      // roll-up partial-aggregates before its tiny exchange
      val p = plan("trace_span_gap")
      p should include("windowspecdefinition(trace_id")
      p should include("partial_count")
    }

    it("corpus_domain_prior broadcasts the per-source prior back") {
      // the prior is a ≤ #sources aggregate; the corpus-side blend must
      // stay row-local against a broadcast, never a source-keyed
      // shuffle of every document
      val p = plan("corpus_domain_prior")
      p should include("BroadcastHashJoin")
      p should not include "SortMergeJoin"
    }
  }

  describe("round-8 plan shapes") {
    it("text_winnowing selects fingerprints in the scan stage, partial-aggs per doc") {
      val p = plan("text_winnowing")
      // selection happens inside the native expression BEFORE any
      // exchange: only the selected fingerprint stream shuffles, and
      // its per-doc rollup is map-side combined
      p should include("winnow_fps")
      p should include("partial_min")
      p should not include "CartesianProduct"
      p should not include "BroadcastNestedLoopJoin"
    }

    it("corpus_lm_buckets broadcasts the 5-row cut table back to the counts") {
      val p = plan("corpus_lm_buckets")
      // the tertile cut points are a per-lang scalar table; bucket
      // assignment must stay row-local against a broadcast
      p should include("BroadcastHashJoin")
      // the lm-score stage (a 4-stage bigram join DAG off a token
      // explode) must be paid ONCE: both the cut pass and the bucket
      // pass consume the localCheckpoint (Scan ExistingRDD), so the
      // final plan re-derives NO token explode (r12 verdict task 4 —
      // the silent per-tertile re-explode class)
      p should include("Scan ExistingRDD")
      p should not include "Generate explode"
    }

    it("dedup_incremental probes the persisted index with a bucketed scan") {
      val p = plan("dedup_incremental")
      // the r13 build/probe split: the (old_id, fp) posting side must
      // come from the bucketed table (no exchange, no sort on the
      // index side), and NO winnow may exist in the final plan at all
      // — the old corpus's winnow lives in the persisted build, the
      // new batch's behind the eager probeFp localCheckpoint (Scan
      // ExistingRDD), so a winnow_fps here means a rebuild leaked in
      p should include("Bucketed: true")
      "winnow_fps".r.findAllIn(p).size shouldBe 0
      p should include("Scan ExistingRDD")
    }

    it("q_scd2 runs both change-capture windows on one exchange + one sort") {
      val p = plan("q_scd2")
      // lag (detect change) and lead (close the row) share the
      // (custkey, date, key) partitioning and ordering; the filter
      // between them preserves both, so Catalyst must not re-shuffle
      // or re-sort for the second window
      p.sliding("hashpartitioning(o_custkey".length)
        .count(_ == "hashpartitioning(o_custkey") shouldBe 1
      p should not include "SortMergeJoin"
    }

    it("trace_waterfall pushes the pinned-trace predicate into the scan") {
      val p = plan("trace_waterfall")
      // the getTrace access pattern: the trace_id IN-list must gate the
      // parquet read (as a user_id filter), not run post-window
      p should include("PushedFilters: [In(user_id")
    }

    it("trace_apdex and trace_tail_sampling are single map-combined aggregates") {
      for (name <- Seq("trace_apdex", "trace_tail_sampling")) {
        val p = plan(name)
        withClue(name) {
          p should include("partial_")   // map-side combine before the exchange
          p should not include "SortMergeJoin"
          p should not include "CartesianProduct"
        }
      }
    }
  }

  describe("round-8 session-6 plan shapes") {
    it("ann_topk_ivfpq joins the residual lookup table and the codebooks by broadcast") {
      val p = plan("ann_topk_ivfpq")
      // every codebook attach and the (cell, m, code) ADC probe must
      // broadcast — a sort-merge there would shuffle the corpus codes
      // on a 16-value key
      p should include("BroadcastHashJoin")
      p should not include "CartesianProduct"
    }

    it("text_cms_topk builds the sketch with map-side combine and probes it by broadcast") {
      val p = plan("text_cms_topk")
      // the 4096-counter sketch must partial-agg before its exchange;
      // the 20-row probe side must broadcast against it
      p should include("partial_count")
      p should include("BroadcastHashJoin")
      p should not include "CartesianProduct"
    }

    it("trace_funnel pre-aggregates each step before its join") {
      val p = plan("trace_funnel")
      // min-per-user runs partial before the exchange at every step —
      // the click scan must meet the v1 anchor as an aggregate, not
      // join raw events against raw events
      p should include("partial_min")
      p should not include "CartesianProduct"
    }

    it("trace_cohort_retention derives everything from one distinct exchange") {
      val p = plan("trace_cohort_retention")
      // the (user, day) distinct is the only corpus-sized shuffle; the
      // cohort join and the age-0 base join run on its rollups
      p should include("partial_min")
      p should not include "CartesianProduct"
    }

    it("trace_latency_trend collapses to the hourly relation before pairing") {
      val p = plan("trace_latency_trend")
      // the i<j pair join must consume the hourly AGGREGATE on both
      // sides (partial sum/count before the exchange), never raw spans
      p should include("partial_sum")
      p should not include "CartesianProduct"
    }

    it("trace_seasonality and trace_markov_transitions stay map-combined") {
      for (name <- Seq("trace_seasonality", "trace_markov_transitions")) {
        val p = plan(name)
        withClue(name) {
          p should include("partial_count")
          p should not include "CartesianProduct"
        }
      }
    }

    it("q_iqr_outliers joins the quartile table back by broadcast") {
      val p = plan("q_iqr_outliers")
      p should include("BroadcastHashJoin")
      p should not include "CartesianProduct"
    }

    it("dedup_editdist keeps the levenshtein verify off the band join") {
      val p = plan("dedup_editdist")
      // the banded candidate join exists to GATE the O(n*m) verify:
      // Catalyst once pushed `levenshtein <= 14` INTO a candidate-
      // generation join as a join condition, running the DP per joined
      // row (145 s at sf0.1 in the r8 gram-join form; the string-
      // rejoin joins sit per-candidate, where the predicate is
      // harmless). The signature/band subtrees are localCheckpointed
      // (multi-consumer — the r9 perf pass), so the guard sees Scan
      // ExistingRDD instead of minhash_sig; assert the band-keyed join
      // never carries the DP and nothing degenerates to a product.
      p should include("Scan ExistingRDD")
      val bandJoinLines = p.linesIterator.filter(l =>
        l.contains("Join") && l.contains("bh#")).mkString("\n")
      bandJoinLines should not include "levenshtein"
      p should not include "CartesianProduct"
      p should include("levenshtein") // the verify survives, above the join
    }
  }

  describe("round-9 plan shapes") {
    it("trace_nplus1 map-combines both aggregation levels") {
      val p = plan("trace_nplus1")
      p should include("partial_count")
      p should not include "CartesianProduct"
    }

    it("trace_latency_ewma collapses the corpus before the lag chain") {
      val p = plan("trace_latency_ewma")
      // the hourly pre-agg is partial (map-combined): the span table
      // never reaches the window exchange
      p should include("partial_sum")
      p should not include "CartesianProduct"
    }

    it("q_chisquare builds the cell table once and broadcasts the totals") {
      val p = plan("q_chisquare")
      p should include("BroadcastNestedLoopJoin")
      p should not include "SortMergeJoin"
    }

    it("trace_theilsen_trend ranks through ShardedWindow, never one task per service") {
      val p = plan("trace_theilsen_trend")
      // the median rank's sort is per (service, slope-shard) — the
      // O(H²) pair relation never collapses onto one task per service
      p should include("_sw_shard")
      p should not include "CartesianProduct"
    }

    it("q_gini ranks through ShardedWindow, never one task per nation") {
      val p = plan("q_gini")
      // the rank's sort is per (nation, spend-shard): partitioning
      // columns include the _sw shard key alongside n_name
      p should include("_sw_shard")
      p should not include "CartesianProduct"
    }

    it("trace_allen_relations classifies row-locally after one trace shuffle") {
      val p = plan("trace_allen_relations")
      // interval build is a map-combined per-(trace, service) agg; the
      // pair join keys on trace_id (a shuffle join is fine — the
      // banned shape is a cartesian pair explosion)
      p should include("partial_min")
      p should not include "CartesianProduct"
    }

    it("corpus_hhi and text_lexical_richness stay one-pass map-combined") {
      Seq("corpus_hhi", "text_lexical_richness").foreach { name =>
        val p = plan(name)
        withClue(name) {
          p should include("partial_")
          p should not include "CartesianProduct"
        }
      }
    }

    it("text_naive_bayes broadcasts the language stats, not the corpus") {
      val p = plan("text_naive_bayes")
      p should include("BroadcastNestedLoopJoin") // doc × langs grid (≤|langs| rows)
      p should not include "CartesianProduct"
    }

    it("embed_cluster_quality joins centroids back by broadcast") {
      val p = plan("embed_cluster_quality")
      p should include("BroadcastHashJoin")
      p should not include "CartesianProduct"
    }

    it("trace_cumulative_users cumulates through ShardedWindow sub-shards") {
      val p = plan("trace_cumulative_users")
      p should include("_sw_shard")
      p should not include "CartesianProduct"
    }
  }

  describe("round-9 audit-surface plan shapes") {
    it("q_benford joins the scalar total by broadcast, never a shuffle") {
      val p = plan("q_benford")
      p should include("BroadcastNestedLoopJoin") // 1-row total × 9 digits
      p should not include "SortMergeJoin"
      p should not include "CartesianProduct"
    }

    it("q_basket_pairs takes top pairs with TakeOrdered, never a full sort") {
      val p = plan("q_basket_pairs")
      p should include("TakeOrderedAndProject")
      p should not include "CartesianProduct"
    }

    it("q_rfm ranks through ShardedWindow sub-shards with a broadcast count") {
      val p = plan("q_rfm")
      p should include("_sw_shard")
      p should include("BroadcastNestedLoopJoin") // the 1-row n_cust
      p should not include "CartesianProduct"
    }

    it("q_ks_test cumulates the CDF grid through ShardedWindow sub-shards") {
      val p = plan("q_ks_test")
      p should include("_sw_shard")
      p should not include "CartesianProduct"
    }

    it("dedup_url is one canonical-key shuffle with no join anywhere") {
      val p = plan("dedup_url")
      p should not include "Join"
    }

    it("text_kcore truncates lineage every peel round") {
      val p = plan("text_kcore")
      // the final plan reads the round-6 checkpoint, not 18 nested joins
      p should include("Scan ExistingRDD")
      p should not include "SortMergeJoin"
    }

    it("trace_shortest_path iterates over checkpointed pair relations") {
      val p = plan("trace_shortest_path")
      p should include("Scan ExistingRDD")
      p should not include "CartesianProduct"
    }

    it("q_theil rides one map-combined pass with a broadcast nation dim") {
      val p = plan("q_theil")
      p should include("BroadcastHashJoin")
      p should include("partial_sum")
      p should not include "CartesianProduct"
    }

    it("q_runs_test ranks days through ShardedWindow, never one global window task") {
      val p = plan("q_runs_test")
      p should include("_sw_shard")
      p should not include "CartesianProduct"
    }

    it("q_bollinger windows per nation over the collapsed daily relation") {
      val p = plan("q_bollinger")
      p should include("Window")
      p should include("partial_sum")
      p should not include "CartesianProduct"
    }

    it("q_abc_pareto cumulates revenue through ShardedWindow sub-shards") {
      val p = plan("q_abc_pareto")
      p should include("_sw_shard")
      p should not include "SortMergeJoin"
    }

    it("embed_jl_projection keeps the projection row-local before one pair join") {
      val p = plan("embed_jl_projection")
      // 16x64 signed sums happen inside the scan projection; only the
      // (vec_id, arrays) relation ever reaches the join
      p should not include "CartesianProduct"
      p should not include "Expand"
    }

    it("trace_pagerank iterates ranks in one task over the aggregated edge list") {
      val p = plan("trace_pagerank")
      // the corpus-scale edge aggregation stays distributed; its output
      // moves to one partition and the 6 power-iteration rounds run in
      // that one task — no per-round join lineage, no checkpoint scans,
      // no build-time collect frozen into a local relation
      oneTaskKernel(p)
    }

    it("trace_bootstrap_ci fans out replicates in the scan and shuffles once") {
      val p = plan("trace_bootstrap_ci")
      // the 40x explode is a Generate directly over the span projection
      p should include("Generate explode")
      p should not include "CartesianProduct"
    }

    it("q_rolling_corr windows the calendar-bounded joined series") {
      val p = plan("q_rolling_corr")
      p should include("Window")
      p should include("partial_sum") // daily rollup collapses first
      p should not include "CartesianProduct"
    }

    it("ann_recall_jl broadcasts the 10 queries against one corpus scan") {
      val p = plan("ann_recall_jl")
      p should include("BroadcastNestedLoopJoin")
      p should not include "SortMergeJoin"
    }

    it("q_mad_outliers cumulates both median passes through ShardedWindow") {
      val p = plan("q_mad_outliers")
      // cents has millions of distinct values per flag — a per-flag
      // window would be one task per flag (measured 106 s at sf10)
      p should include("_sw_shard")
      p should not include "CartesianProduct"
    }

    it("q_weighted_sample pushes the per-nation top-10 below the rank exchange") {
      val p = plan("q_weighted_sample")
      p should include("WindowGroupLimit")
      p should not include "CartesianProduct"
    }

    it("trace_acf collapses to the hourly relation before any window") {
      val p = plan("trace_acf")
      // window input is the (service, hr) aggregate, then one more
      // service-level aggregate; never a window over raw spans
      p should include("Window")
      p should include("partial_count")
      p should not include "CartesianProduct"
    }
  }

  describe("round-9 rank-statistics plan shapes") {
    it("q_mann_whitney ranks only the domain-bounded qty grid") {
      val p = plan("q_mann_whitney")
      // the full-data groupBy runs once behind the grid checkpoint
      // (Scan ExistingRDD); ranks ride ShardedWindow sub-shards
      p should include("_sw_shard")
      p should include("Scan ExistingRDD")
      p should not include "SortMergeJoin"
      p should not include "CartesianProduct"
    }

    it("q_kruskal_wallis pivots the k groups into one conditional-sum pass") {
      val p = plan("q_kruskal_wallis")
      p should include("_sw_shard")
      p should include("Scan ExistingRDD")
      p should not include "SortMergeJoin"
      p should not include "CartesianProduct"
    }

    it("q_kendall_tau pairs grid cells by broadcast, never row pairs") {
      val p = plan("q_kendall_tau")
      // the C/D pair join runs over the (flag, qty, band) grid —
      // domain-bounded — and the small side broadcasts
      p should include("BroadcastHashJoin")
      p should not include "SortMergeJoin"
      p should not include "CartesianProduct"
    }

    it("q_anova is a single map-combined pass with no join") {
      val p = plan("q_anova")
      p should include("partial_count")
      p should not include "Join"
    }

    it("q_welch_ttest is a single map-combined pass with no join") {
      val p = plan("q_welch_ttest")
      p should include("partial_sum")
      p should not include "Join"
    }

    it("q_jarque_bera is one grouped pass of power sums, no join") {
      val p = plan("q_jarque_bera")
      p should include("partial_sum")
      p should not include "Join"
    }

    it("q_levene sums deviations over the grid with a broadcast median") {
      val p = plan("q_levene")
      // full-data work is the (flag, qty) grid groupBy; the 3-row
      // median relation broadcasts back onto the grid
      p should include("_sw_shard")
      p should include("BroadcastHashJoin")
      p should not include "SortMergeJoin"
      p should not include "CartesianProduct"
    }

    it("trace_hits iterates scores in one task over the aggregated edge list") {
      val p = plan("trace_hits")
      // same shape as trace_pagerank: the 8 propagate rounds run in
      // one task over the aggregated edge list
      oneTaskKernel(p)
    }

    it("trace_attribution rides user-keyed window shuffles only") {
      val p = plan("trace_attribution")
      p should include("Window")
      p should not include "CartesianProduct"
    }

    it("q_assoc_rules fans pairs out through codegen'd Generates") {
      val p = plan("q_assoc_rules")
      p should include("Generate posexplode")
      p should not include "CartesianProduct"
    }

    it("text_containment joins on the shingle key, never all pairs") {
      val p = plan("text_containment")
      p should include("partial_count")
      p should not include "CartesianProduct"
    }

    it("text_hashed_features is one bucket-keyed pass with no join") {
      val p = plan("text_hashed_features")
      p should include("partial_count")
      p should not include "Join"
    }

    it("embed_triplet_mining assigns cells join-free and mines in one MapGroups") {
      val p = plan("embed_triplet_mining")
      // r11 fused form: v/nrm/label/q derive in ONE projection, the
      // seed argmin is a broadcast-variable local loop (no
      // crossJoin+hash-agg assignment relation, no join back), so the
      // only exchange left is the cell shuffle into the pair loop
      p should include("MapGroups")
      p should not include "Join"
      p should not include "CartesianProduct"
    }

    it("embed_lof runs the bounded-cell quadratic partition-local and join-free") {
      val p = plan("embed_lof")
      // r11 fused form: local seed argmin rides the quantized
      // projection (no BNLJ assignment, no join back); ONE cell-keyed
      // MapGroups does the kNN / reach-dist arithmetic locally
      p should include("MapGroups")
      p should not include "Join"
      p should not include "CartesianProduct"
    }

    it("trace_xcorr_lag collapses to the hourly grid before the lag fan-out") {
      val p = plan("trace_xcorr_lag")
      // the only full-data pass is the (service, hour) groupBy feeding
      // the checkpoint; the ±6 lag join rides the tiny grid
      p should include("Scan ExistingRDD")
      p should not include "CartesianProduct"
    }

    it("trace_hazard is one grid pass plus service-bounded windows") {
      val p = plan("trace_hazard")
      p should include("partial_count")
      p should include("Window")
      p should not include "Join"
    }

    it("trace_queue_wait distributes both scans through ShardedWindow") {
      val p = plan("trace_queue_wait")
      // the running sum AND the running min ride (service, _sw_shard)
      // sub-shards — never one task per service
      p should include("_sw_shard")
      p should not include "CartesianProduct"
    }

    it("q_cohort_ltv is two map-combined passes plus a cohort-bounded window") {
      val p = plan("q_cohort_ltv")
      p should include("partial_sum")
      p should include("Window")
      p should not include "CartesianProduct"
    }

    it("q_order_streaks windows per customer and counts map-side") {
      val p = plan("q_order_streaks")
      p should include("Window")
      p should include("partial_count")
      p should not include "Join"
    }

    it("q_wasserstein cumulates the grid through ShardedWindow") {
      val p = plan("q_wasserstein")
      p should include("_sw_shard")
      p should not include "CartesianProduct"
    }

    it("q_prop_ztest is one conditional-count pass with no join") {
      val p = plan("q_prop_ztest")
      p should include("partial_sum")
      p should not include "Join"
    }

    it("corpus_calibration buckets scores in one map-combined pass") {
      val p = plan("corpus_calibration")
      p should include("partial_count")
      p should not include "Join"
    }

    it("trace_incidents merges intervals through sharded scans") {
      val p = plan("trace_incidents")
      p should include("_sw_shard")
      p should not include "CartesianProduct"
    }

    it("trace_kmv_distinct ranks hashes through hash-range sub-shards") {
      val p = plan("trace_kmv_distinct")
      p should include("_sw_shard")
      p should not include "CartesianProduct"
    }

    it("q_rolling_distinct sweeps coverage intervals, never a 30x fan-out") {
      val p = plan("q_rolling_distinct")
      // per-customer interval islands (Window), then the bounded
      // change-point expansion (Generate) — no corpus-wide distinct
      p should include("Window")
      p should include("Generate explode")
      p should not include "CartesianProduct"
    }

    it("text_retrieval_eval scores through the token equi-join") {
      val p = plan("text_retrieval_eval")
      p should include("Window")
      p should not include "CartesianProduct"
    }

    it("q_data_profile is per-column grouped passes with no join") {
      val p = plan("q_data_profile")
      p should include("partial_count")
      p should not include "Join"
    }

    it("q_integrity_audit left-joins distinct'd dimension keys") {
      val p = plan("q_integrity_audit")
      p should include("LeftOuter")
      p should not include "CartesianProduct"
    }

    it("trace_forecast_backtest expands sums over the daily grid") {
      val p = plan("trace_forecast_backtest")
      // one full-data rollup; the regressions window the bounded grid
      p should include("partial_count")
      p should include("Window")
      p should not include "Join"
    }

    it("q_kanonymity is one class-size pass plus a 4-way Generate") {
      val p = plan("q_kanonymity")
      p should include("partial_count")
      p should include("Generate explode")
      p should not include "Join"
    }

    it("trace_control_chart numbers subgroups through sharded scans") {
      val p = plan("trace_control_chart")
      p should include("_sw_shard")
      p should not include "CartesianProduct"
    }

    it("q_gini_split profiles splits on the cumulated grid") {
      val p = plan("q_gini_split")
      p should include("_sw_shard")
      p should not include "SortMergeJoin"
    }

    it("trace_canary_diff is one conditional-sum pass over the split") {
      val p = plan("trace_canary_diff")
      p should include("partial_sum")
      p should not include "Join"
    }

    it("corpus_dedup_sweep computes pair jaccards once, thresholds ride") {
      val p = plan("corpus_dedup_sweep")
      p should include("Generate explode")
      p should not include "CartesianProduct"
    }

    it("text_fertility is one map-combined language pass") {
      val p = plan("text_fertility")
      p should include("partial_count")
      p should not include "Join"
    }

    it("trace_saturation_curve sweeps levels through sharded scans") {
      val p = plan("trace_saturation_curve")
      p should include("_sw_shard")
      p should not include "CartesianProduct"
    }

    it("q_two_way_anova pivots all cells into one conditional pass") {
      val p = plan("q_two_way_anova")
      p should include("partial_sum")
      p should not include "Join"
    }

    it("embed_centroid_drift map-combines the (label, pos) cells") {
      val p = plan("embed_centroid_drift")
      p should include("partial_sum")
      p should include("Generate posexplode")
      p should not include "Join"
    }

    it("corpus_ngram_coverage anti-joins distinct sets, never all pairs") {
      val p = plan("corpus_ngram_coverage")
      p should include("Scan ExistingRDD") // token-gram relation checkpointed
      p should not include "CartesianProduct"
    }

    it("trace_mtbf_mttr rides the sharded incident merge") {
      val p = plan("trace_mtbf_mttr")
      p should include("_sw_shard")
      p should not include "CartesianProduct"
    }
  }

  describe("driver-round-9 scale-primary plan shapes") {
    it("neardup_cosine candidates come from the banded equi-join, never all pairs") {
      val p = plan("neardup_cosine")
      p should include("lsh_band_keys_lin")
      // bucket-keyed EQUI join (broadcast at demo SFs, SMJ at scale) —
      // the one shape that must never appear is the unkeyed product
      p should not include "CartesianProduct"
      p should not include "BroadcastNestedLoopJoin"
    }

    it("dedup_semantic assigns cells by the typed local argmax, never a pair join") {
      val p = plan("dedup_semantic")
      // r10 shape: assignCellsLocal (MapPartitions over a broadcast
      // centroid array — the declarative 1-row-array BroadcastNestedLoop
      // + interpreted affinity sort was the sf100 pole) feeding ONE
      // cell-keyed MapGroups; no join of any kind touches the corpus
      p should include("MapPartitions")
      p should include("MapGroups")
      p should not include "CartesianProduct"
      p should not include "BroadcastNestedLoopJoin"
      p should not include "SortMergeJoin"
    }
  }

  /** The walkGroups(contiguous = true) contract (r11 advice): the
    * zero-exchange per-trace walk is only correct while every trace's
    * rows stay CONTIGUOUS in their partition — which the events→spans
    * window guarantees (hash exchange on the trace key + leading sort
    * on it) PROVIDED nothing re-partitions between the Window and the
    * MapPartitions walk. A future repartition/join slipped in there
    * would silently split traces across partitions; these tests pin
    * each traceContiguous caller's physical plan so that change fails
    * a spec instead of producing wrong depths/rollups. The
    * within-partition interleaving case is already a loud runtime
    * require() (per-partition seen-set in TreeOps.walkGroups). */
  describe("contiguous-walk plan contracts") {
    for (q <- Seq("trace_depth", "trace_path_rollup", "trace_flamegraph_diff")) {
      it(s"$q: the local walk sits directly on the trace-key window exchange") {
        val p = plan(q)
        p should include("MapPartitions")
        // subtree below the walk (tree prints parent-then-children):
        // exactly ONE hash exchange — the trace-key (user_id) window
        // exchange — and a leading sort on that same key; the 1-row
        // broadcast sides (flamegraph's mid_us) are exempt by kind
        val sub = p.substring(p.indexOf("MapPartitions"))
        "Exchange hashpartitioning\\(user_id".r.findAllIn(sub).size shouldBe 1
        "Exchange hashpartitioning".r.findAllIn(sub).size shouldBe 1
        sub should include regex """Sort \[user_id#\d+L ASC"""
        sub should include regex """windowspecdefinition\(user_id"""
        sub should not include "Exchange rangepartitioning"
        sub should not include "SortMergeJoin"
      }
    }
  }
}
