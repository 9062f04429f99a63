package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateMode, Final, Partial}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Physical-plan assertions — the 100 TB properties must not regress:
  * filters/columns reach the parquet scan, dims broadcast, aggregations
  * run partial+final (map-side combine), hot paths stay in codegen.
  */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  test("q2: filters and projection are pushed into the parquet scan") {
    val plan = planOf("q2_filter_project")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"filter not pushed:\n$plan")
    // column pruning: untouched wide columns never leave the scan
    assert(!plan.contains("l_comment") && !plan.contains("l_tax"),
      "scan reads pruned columns")
  }

  test("q5: dimension joins broadcast (no shuffle of the fact side for dims)") {
    val plan = planOf("q5_multi_join")
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("q3: customer side broadcasts (orders never shuffles for the dim join)") {
    val plan = planOf("q3_join_agg")
    assert(plan.contains("BroadcastHashJoin"),
      s"customer must broadcast, not shuffle the fact side:\n$plan")
  }

  test("q1/q21: aggregation is partial+final (map-side combine)") {
    Seq("q1_agg", "q21_wordcount").foreach { q =>
      val plan = planOf(q)
      val nAggs = "HashAggregate".r.findAllIn(plan).length
      assert(nAggs >= 2,
        s"$q: expected partial+final HashAggregate, found $nAggs:\n$plan")
    }
  }

  test("q1: hot path is whole-stage codegen") {
    // AQE finalizes the plan only after execution — run, then inspect
    val df = SparkEntry.queries("q1_agg")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // codegen spans render as "*(n)" in the simple plan form
    assert(plan.contains("*("), s"no codegen spans:\n$plan")
  }

  test("q29 ANN: corpus side is not shuffled (broadcast of query set only)") {
    val plan = planOf("q29_ann_topk")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query set not broadcast:\n$plan")
  }

  test("q29 ANN: map-side partial top-k prunes before the per-query k-merge") {
    val plan = planOf("q29_ann_topk")
    // localTopK's narrow mapPartitions must sit BELOW (deeper than) the
    // window's exchange: the per-query sort receives parts×k rows per
    // query, never the scored corpus (the 100 TB property).
    val mp = plan.indexOf("MapPartitions")
    val win = plan.indexOf("Window")
    assert(mp >= 0, s"partial top-k (MapPartitions) missing from plan:\n$plan")
    assert(win >= 0 && win < mp,
      s"partial top-k must run below the window k-merge:\n$plan")
  }

  test("q54 range join: equality prefix plans as a hash/merge join, not cartesian") {
    val plan = planOf("q54_range_join")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"range join degenerated to a product join (would not scale):\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected keyed join on the user_id equality prefix:\n$plan")
  }

  test("q58 decontamination: the eval-set gram dictionary broadcasts") {
    val plan = planOf("q58_decontaminate")
    assert(plan.contains("BroadcastHashJoin"),
      s"gram dictionary not broadcast (corpus would shuffle at scale):\n$plan")
  }

  test("q72 bloom decontamination: bloom prefilter runs before the confirm join") {
    val plan = planOf("q72_bloom_decontaminate")
    assert(plan.contains("BroadcastHashJoin"),
      s"confirm join must broadcast the gram dictionary:\n$plan")
    // the native might_contain probe must sit below the join (scan-side
    // pruning) and stay out of UDF land (codegen'd expression)
    val fi = plan.indexOf("might_contain")
    val ji = plan.indexOf("BroadcastHashJoin")
    assert(fi >= 0, s"native bloom probe missing:\n$plan")
    assert(fi > ji, s"bloom filter must evaluate before (deeper than) the join:\n$plan")
    assert(!plan.contains("UDF"), s"bloom probe regressed to a driver-built UDF:\n$plan")
  }

  test("q74 count-min: the sketch joins as a broadcast (never shuffled at scale)") {
    val plan = planOf("q74_countmin")
    assert(plan.contains("BroadcastHashJoin"), s"sketch not broadcast:\n$plan")
    // one corpus scan feeds the sketch (posexplode fans out the 4 rows),
    // one feeds the exact counts — NOT 4 unioned re-scans per side
    val nScans = "Scan parquet".r.findAllIn(plan).length
    assert(nScans <= 2, s"expected ≤2 corpus scans, found $nScans:\n$plan")
  }

  test("q70 gap-fill: the hour grid derives from a broadcast aggregate") {
    val plan = planOf("q70_gapfill")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"grid bounds must broadcast, not shuffle the fact table:\n$plan")
  }

  test("q52 sample: sampling filter evaluates in the scan stage (no shuffle before filter)") {
    val plan = planOf("q52_sample")
    // the md5 filter can't push into parquet, but it must run map-side:
    // exactly the scan→filter→partial-agg pipeline, one exchange total
    val nExchanges = "Exchange".r.findAllIn(plan).length
    assert(nExchanges <= 2, s"sampling should add no extra shuffles:\n$plan")
  }

  test("q93 contamination score: the eval gram set broadcasts (corpus never shuffles)") {
    val plan = planOf("q93_contamination_score")
    assert(plan.contains("BroadcastHashJoin"),
      s"eval gram dictionary must broadcast:\n$plan")
  }

  test("q99 equi-depth bins: no single-partition window feeds the binning") {
    val plan = planOf("q99_equidepth_bins")
    // the ntile assignment must come from the distributed rank + the
    // closed-form rule, never a WindowExec (whose global ORDER BY pulls
    // the whole fact table into ONE partition)
    assert(!plan.contains("Window"),
      s"binning regressed to a global window (single-partition sort):\n$plan")
    // binning itself is narrow: the total is a DRIVER LITERAL (free
    // from the prefix-sum offsets), so the bin rule is one projection
    // over the single rank scan — no agg(max) re-pass, no broadcast of
    // the total, no second read of the ranked checkpoint
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"total must be inlined as a literal, not joined back:\n$plan")
    val rankScans = "Scan ExistingRDD".r.findAllIn(plan).length
    assert(rankScans <= 1,
      s"ranked checkpoint must be read exactly once, found $rankScans:\n$plan")
  }

  test("q94 fuzzy join: probe variants broadcast; corpus side never exchanges for the join") {
    val plan = planOf("q94_fuzzy_join")
    assert(plan.contains("BroadcastHashJoin"),
      s"probe deletion-variants must broadcast:\n$plan")
  }

  test("q103/q106 cross-corpus decon: bucket equi-join, never a cartesian product") {
    // the whole point of the LSH cross join is avoiding |train|×|eval|;
    // a CartesianProduct (or non-broadcast nested loop) in the plan
    // means candidate generation regressed to the brute-force shape
    Seq("q103_fuzzy_decontaminate", "q106_embedding_decontaminate").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"),
        s"$q pairs via cartesian product:\n$plan")
    }
  }

  test("q104 hash split: assignment is scan-stage; no window, no single-partition sort") {
    val plan = planOf("q104_hash_split")
    // within-split ranks come from the distributed prefix sum + a
    // broadcast of 3 per-split bases — a WindowExec would mean the
    // per-split global sort (80% of the corpus in ONE task) came back
    assert(!plan.contains("Window"),
      s"hash split ranks regressed to a window:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"per-split bases must broadcast:\n$plan")
  }

  test("q105 LM quality: model counts aggregate partial+final (map-side combine)") {
    val plan = planOf("q105_lm_quality")
    assert(plan.contains("partial_count"),
      s"bigram counts must partial-aggregate map-side:\n$plan")
  }

  test("q109 source cap: bounded-heap top-k aggregates partial+final, no window") {
    val plan = planOf("q109_source_cap")
    // the cap must ship ≤k rows per source per map task via the typed
    // aggregator's partial mode — a WindowExec would shuffle every doc
    // of a hot domain onto one reducer
    assert(!plan.contains("Window"),
      s"source cap regressed to a per-source window:\n$plan")
    val nAggs = "ObjectHashAggregate".r.findAllIn(plan).length
    assert(nAggs >= 2,
      s"expected partial+final typed top-k aggregate, found $nAggs:\n$plan")
  }

  test("q112 changelog compact: one partial+final aggregate, no per-key window") {
    val plan = planOf("q112_changelog_compact")
    // latest-per-key must map-side combine via max(struct); a WindowExec
    // would shuffle every version of a hot key onto one reducer
    assert(!plan.contains("Window"),
      s"compaction regressed to a per-key window:\n$plan")
    val nAggs = "Aggregate".r.findAllIn(plan).length
    assert(nAggs >= 2,
      s"expected partial+final max(struct) aggregate, found $nAggs:\n$plan")
  }

  test("q113 uniform k-sample: global order+limit plans as bounded top-k, not a full sort") {
    val plan = planOf("q113_uniform_sample_k")
    assert(plan.contains("TakeOrderedAndProject"),
      s"sample must plan as per-partition top-k + driver k-merge:\n$plan")
  }

  test("q115 chunking: purely narrow — no join or aggregate in the plan") {
    val plan = planOf("q115_chunk_windows")
    assert(!plan.contains("Join") && !plan.contains("Aggregate"),
      s"chunking must stay a scan+generate pipeline:\n$plan")
  }

  test("q110 ANN recall: both rankers keep their bounded exchanges (no corpus-sized join)") {
    val plan = planOf("q110_ann_recall")
    // the hit join runs over two ≤(queries×k)-row rankings; a cartesian
    // or a corpus-side exchange would mean a ranker lost its top-k bound
    assert(!plan.contains("CartesianProduct"),
      s"recall join degenerated to a product:\n$plan")
    assert(plan.contains("MapPartitions"),
      s"map-side partial top-k missing from the ranker plans:\n$plan")
  }

  test("q119 semdedup: pairing is cluster-keyed, never a cartesian product") {
    val plan = planOf("q119_semdedup")
    assert(!plan.contains("CartesianProduct"),
      s"within-cluster pairing degenerated to a product:\n$plan")
  }

  test("q120 source drift: the corpus-sized count aggregates partial+final") {
    val plan = planOf("q120_source_drift")
    val nAggs = "HashAggregate".r.findAllIn(plan).length
    assert(nAggs >= 2,
      s"(source, token) counts must map-side combine:\n$plan")
  }

  test("q121 DSIR: the bucket weight model broadcasts (corpus never reshuffles for scoring)") {
    val plan = planOf("q121_dsir_select")
    assert(plan.contains("BroadcastHashJoin"),
      s"the ≤4096-row weight table must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-50 selection must plan as bounded top-k, not a full sort:\n$plan")
  }

  test("q122 rewrite: chunk ownership is a min-agg, never a per-hash window sort") {
    val plan = planOf("q122_dedup_rewrite")
    assert(!plan.contains("Window"),
      s"ownership must not sort hash-partitioned windows (hot boilerplate chunks):\n$plan")
    val nAggs = "HashAggregate".r.findAllIn(plan).length
    assert(nAggs >= 2, s"min-owner agg must map-side combine:\n$plan")
  }

  test("q124 vocab coverage: bounded top-k vocab cut, membership probe broadcasts") {
    val plan = planOf("q124_vocab_coverage")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the vocab cut must be bounded top-k, not a full vocabulary sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the 1000-row vocab must broadcast to the membership probe:\n$plan")
  }

  test("q61 kmeans: assignment is a narrow broadcast-array argmin, no per-round window shuffle") {
    val plan = planOf("q61_kmeans")
    assert(!plan.contains("Window"),
      s"k-means assignment must not rank a corpus-wide window per iteration:\n$plan")
  }

  test("q125 hard negatives: two-level top-k with the label filter, no unbounded exchange") {
    val plan = planOf("q125_hard_negatives")
    assert(plan.contains("MapPartitions"),
      s"map-side partial top-k missing:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"the 5-row query side must broadcast:\n$plan")
  }

  test("q126 interval overlap: bucket equi-join, never a nested-loop/cartesian product") {
    // the whole point of overlapJoinBucketed is avoiding |A|·|B|
    // comparisons — a BroadcastNestedLoopJoin or CartesianProduct means
    // the range predicate reached the join planner un-bucketized
    val plan = planOf("q126_interval_overlap")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"overlap join degenerated to a product:\n$plan")
  }

  test("q127 BM25: query-term stats broadcast; top-k is bounded, not a full sort") {
    val plan = planOf("q127_bm25")
    assert(plan.contains("BroadcastHashJoin"),
      s"the |queryTerms|-row df table must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the top-20 cut must plan as bounded top-k:\n$plan")
    // the corpus-token aggregate map-side combines
    val nAggs = "HashAggregate".r.findAllIn(plan).length
    assert(nAggs >= 2, s"tf aggregate must partial+final:\n$plan")
  }

  test("q128 embedding drift: per-dim sums partial+final; global centroid broadcasts") {
    val plan = planOf("q128_embedding_drift")
    assert(plan.contains("BroadcastHashJoin"),
      s"the dims-row global centroid must broadcast:\n$plan")
    val nAggs = "HashAggregate".r.findAllIn(plan).length
    assert(nAggs >= 2, s"(group, dim) sums must map-side combine:\n$plan")
  }

  test("q129 RRF fusion: input rankings stay top-k bounded (TakeOrdered, no corpus window)") {
    val plan = planOf("q129_rrf_fusion")
    // the length-prior ranking must cut to 50 rows BEFORE its
    // row_number window — a window without a preceding TakeOrdered
    // would sort the whole corpus in one partition
    assert(plan.contains("TakeOrderedAndProject"),
      s"ranking inputs must be bounded top-k cuts:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"fusion must be a union+agg, never a product:\n$plan")
  }

  test("q130 table profile: ONE scan feeds the multi-distinct profile (Expand, no rescan)") {
    val plan = planOf("q130_table_profile")
    val nScans = "Scan parquet".r.findAllIn(plan).length
    assert(nScans == 1,
      s"profile must read the fact table once, found $nScans scans:\n$plan")
    assert(plan.contains("Expand"),
      s"multi-distinct must plan via Expand (one-pass profile):\n$plan")
  }

  test("q131 gopher rules: one narrow codegen'd scan — no exchange, join, or agg") {
    val plan = planOf("q131_gopher_rules")
    // the report is pure per-row arithmetic; the only exchange allowed
    // is the final presentation sort's range partitioning
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"rule verdicts must not join or aggregate:\n$plan")
    val nScans = "Scan parquet".r.findAllIn(plan).length
    assert(nScans == 1, s"expected a single documents scan, got $nScans:\n$plan")
  }

  test("q132 memorization risk: window counts partial+final, no per-doc window sort") {
    val plan = planOf("q132_memorization_risk")
    assert(!plan.contains("Window"),
      s"per-doc rate must be an aggregate, not a window:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"count join must stay a hash equi-join:\n$plan")
  }

  test("q135 dataset card: ONE scan feeds every metric (gopher counts ride the projection)") {
    val plan = planOf("q135_dataset_card")
    val nScans = "Scan parquet".r.findAllIn(plan).length
    assert(nScans == 1,
      s"the card must read the corpus once, found $nScans scans:\n$plan")
    assert(plan.contains("Expand"),
      s"multi-distinct must plan via Expand (one-pass card):\n$plan")
  }

  test("q134 containment: gram-keyed equi-join only, never a doc×doc product") {
    val plan = planOf("q134_containment")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"candidate pairs must come from the gram equi-join:\n$plan")
  }

  test("q136 pair-sim histogram: one documents scan; the self-join is the bounded broadcast") {
    val plan = planOf("q136_pair_sim_histogram")
    val nScans = "Scan parquet".r.findAllIn(plan).length
    assert(nScans <= 1, // localCheckpoint: the shingle sets materialize once
      s"sampled sets must come from one scan, got $nScans:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the sample-squared pair grid must broadcast (bounded by construction):\n$plan")
  }

  test("q137 winsorize: no single-partition window; boundaries broadcast to the clamp") {
    val plan = planOf("q137_winsorize")
    assert(!plan.contains("Window"),
      s"boundary ranks must come from the distributed prefix sum, not a window:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the 1-row boundary aggregate must broadcast:\n$plan")
    // the boundary RANKS are driver literals (the total rides back with
    // the prefix-sum offsets), so the ranked checkpoint feeds ONE
    // filter+aggregate — the old agg(max)-then-join-back shape read it
    // twice
    val rankScans = "Scan ExistingRDD".r.findAllIn(plan).length
    assert(rankScans <= 1,
      s"ranked checkpoint must be read exactly once, found $rankScans:\n$plan")
  }

  test("q143 NFC: one pruned scan, graft_nfc inline in the projection, no join/agg") {
    val plan = planOf("q143_nfc_normalize")
    // normalization is a narrow codegen'd map — any exchange beyond the
    // final presentation sort means the expression fell out of the scan
    // pipeline (e.g. regressed to a UDF + pre-shuffle)
    assert(!plan.contains("Join") && !plan.contains("Aggregate"),
      s"NFC pass must stay scan+project:\n$plan")
    assert(plan.contains("graft_nfc"),
      s"native expression missing from the projection:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must prune to the two used columns:\n$plan")
  }

  test("q144 HLL incremental: exact side is ONE Expand scan; merges are 1-row broadcasts") {
    val plan = planOf("q144_hll_incremental")
    // count(distinct month), count(distinct partkey) must share a scan
    // via Expand — two separate scans doubles the 100 TB read
    assert(plan.contains("Expand"),
      s"multi-distinct must rewrite to Expand over one scan:\n$plan")
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected exactly one lineitem scan, found $scans:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"1-row contract joins must broadcast, not product:\n$plan")
  }

  test("q146 domain reweight: totals broadcast onto the source table, no product") {
    val plan = planOf("q146_domain_reweight")
    assert(!plan.contains("CartesianProduct"),
      s"normalization constants must broadcast:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"corpus-average/total-excess aggregates must broadcast:\n$plan")
    // the corpus-sized surprisal chain sits behind the per-source
    // checkpoint; everything after is source-grain — a corpus rescan
    // would surface as a parquet scan here
    assert(!plan.contains("FileScan"),
      s"post-checkpoint weighting must not rescan the corpus:\n$plan")
  }

  test("q149 PQ: query distance tables broadcast; partial top-k below the k-merge") {
    val plan = planOf("q149_pq_ann")
    assert(!plan.contains("CartesianProduct"),
      s"ADC scoring must broadcast the packed query tables:\n$plan")
    // the ADC scan ranks via the same two-level top-k as q29: a narrow
    // MapPartitions heap below the per-query window exchange, so the
    // k-merge never receives the scored code table
    val mp = plan.lastIndexOf("MapPartitions")
    val win = plan.indexOf("Window")
    assert(mp >= 0, s"partial top-k (MapPartitions) missing from plan:\n$plan")
    assert(win >= 0 && win < mp,
      s"partial top-k must run below the window k-merge:\n$plan")
  }

  test("q150 image near-dup: band equi-join only, never an image×image product") {
    val plan = planOf("q150_image_phash")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the (band, value) equi-join:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected keyed join on the dHash bands:\n$plan")
  }

  test("q151 AUC: no corpus-row window — the only exchanges touch the score histogram") {
    val plan = planOf("q151_auc")
    assert(!plan.contains("Window"),
      s"cumulative negatives must come from the histogram prefix sum, not a window:\n$plan")
    // corpus aggregates once into the histogram; the prefix-sum lineage
    // is the checkpointed RDD, read exactly once by the final aggregate
    val rankScans = "Scan ExistingRDD".r.findAllIn(plan).length
    assert(rankScans <= 1,
      s"histogram checkpoint must be read exactly once, found $rankScans:\n$plan")
  }

  test("q158 association rules: keyed joins and a bounded TakeOrdered cut") {
    val plan = planOf("q158_assoc_rules")
    assert(!plan.contains("CartesianProduct"),
      s"only the 1-row basket count may cross-join (as a broadcast):\n$plan")
    assert(plan.contains("TakeOrdered"),
      s"the top-20 cut must be a bounded TakeOrdered, not a global sort:\n$plan")
  }

  test("q154 triangles: the edge-list exchange is computed once and REUSED") {
    // und feeds degrees, orientation, and the closing-edge probe as the
    // same subtree — ReuseExchange must dedupe it, which is what lets
    // triangleCount skip a localCheckpoint (no O(E) pinned storage)
    val df = SparkEntry.queries("q154_triangles")(spark, sf0001)
    df.collect() // AQE finalizes reuse decisions at execution
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("TableCacheQueryStage") ||
      plan.contains("ReusedQueryStage"),
      s"edge-list subtree must be exchange-reused, not recomputed:\n$plan")
  }

  test("q162 budget fill: per-source running sum has NO window anywhere in the plan") {
    val plan = planOf("q162_token_budget_fill")
    assert(!plan.contains("Window"),
      s"the grouped running sum must be the global prefix sum + offset join, " +
        s"never a per-source window:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"per-source offsets must broadcast:\n$plan")
  }

  test("q164 fingerprint: one scan, partial+final aggregate, no exchange beyond it") {
    val plan = planOf("q164_dataset_fingerprint")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected exactly one documents scan, found $scans:\n$plan")
    val nAggs = "HashAggregate".r.findAllIn(plan).length
    assert(nAggs >= 2,
      s"XOR fold must combine map-side before the source shuffle:\n$plan")
  }

  test("q152 retention: both aggregates partial+final; cohort sizes broadcast") {
    val plan = planOf("q152_retention_cohort")
    val nAggs = "HashAggregate".r.findAllIn(plan).length
    assert(nAggs >= 4,
      s"expected map-side combines on the user/week aggregates, found $nAggs:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"cohort-size table must broadcast onto the retention grid:\n$plan")
  }

  test("q176 weighted jaccard: prefix-posting equi-joins only — no doc×doc product") {
    val plan = planOf("q176_weighted_jaccard_join")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the weighted-prefix posting join:\n$plan")
    // the verify is the native Σmin kernel, and nothing in the query
    // runs an interpreted lambda (map_zip_with, aggregate, the old
    // transform/filter pair expansion)
    assert(plan.contains("graft_weighted_overlap("),
      s"the exact verify must be the native kernel:\n$plan")
    assert(!plan.contains("map_zip_with") && !plan.contains("lambdafunction"),
      s"no interpreted higher-order function may remain:\n$plan")
  }

  test("q178 join-size pre-flight: histogram-sized work — aggregates before the key join") {
    val plan = planOf("q178_join_size")
    val nAggs = "HashAggregate".r.findAllIn(plan).length
    assert(nAggs >= 4, // two histograms, each partial+final
      s"both key histograms must map-side combine before joining:\n$plan")
  }

  test("q168 BFS: every round is an equi-join — no cartesian/NLJ anywhere in the wavefront") {
    val plan = planOf("q168_bfs_hops")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"frontier expansion and visited anti-join must stay equi-joins:\n$plan")
  }

  test("q169 streaks: the island window partitions by user — never one global partition") {
    val plan = planOf("q169_streaks")
    assert(plan.contains("Window"), s"expected the island window:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"a global-sort window would serialize the corpus onto one task:\n$plan")
  }

  test("q199 NB: the model broadcasts — scoring never shuffles the corpus by token") {
    val plan = planOf("q199_nb_langid")
    assert(plan.contains("BroadcastHashJoin"),
      s"the vocab-bounded weight table must broadcast:\n$plan")
    // the only SortMergeJoin-eligible keys are doc-keyed (td/seen); the
    // token-keyed join must never sort-merge (it would shuffle the
    // token-exploded corpus)
    assert(!plan.contains("SortMergeJoin(keys=[tok"),
      s"token-keyed join must be the broadcast side:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the lang fan-out must be a broadcast nested loop of 5 rows:\n$plan")
  }

  test("q201 blocklist: one pruned scan, the automaton inline, no join/agg") {
    val plan = planOf("q201_blocklist")
    // one Aho-Corasick pass per row inside the scan pipeline — a
    // terms-join or regex fallback would show as Join/Aggregate here
    assert(!plan.contains("Join") && !plan.contains("Aggregate"),
      s"blocklist filter must stay scan+project+filter:\n$plan")
    assert(plan.contains("graft_multi_match"),
      s"native expression missing from the projection:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must prune to the two used columns:\n$plan")
  }

  test("q210 QL retrieval: collection stats broadcast; bounded top-k, no full sort") {
    val plan = planOf("q210_query_likelihood")
    assert(plan.contains("BroadcastHashJoin"),
      s"the |Q|-row cf table must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the top-20 cut must plan as bounded top-k:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the stats join must be a 1-row broadcast:\n$plan")
  }

  test("q209 novelty: chunk-hash equi-join only; windows partition by doc") {
    val plan = planOf("q209_chunk_novelty")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"old-vs-new matching must stay a hash equi-join:\n$plan")
    assert(!plan.contains("SinglePartition, ENSURE_REQUIREMENTS"),
      s"no corpus-wide single-partition exchange:\n$plan")
  }

  test("q206 mixture shift: totals broadcast; keep-flag join stays equi-keyed") {
    val plan = planOf("q206_dedup_mixture_shift")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"the 1-row totals must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"nothing here may plan as a product:\n$plan")
    val nAggs = "HashAggregate".r.findAllIn(plan).length
    assert(nAggs >= 4, s"fingerprint + source aggs must partial+final:\n$plan")
  }

  test("q207 bootstrap: every window partitions by source — never one global partition") {
    val plan = planOf("q207_bootstrap_ci")
    assert(plan.contains("Window"), s"expected the rank windows:\n$plan")
    assert(!plan.contains("SinglePartition, ENSURE_REQUIREMENTS"),
      s"bootstrap state is per-source; no global repartition to one task:\n$plan")
  }

  test("q203 Wilson: one corpus scan into an S-row aggregate") {
    val plan = planOf("q203_wilson_rank")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected exactly one documents scan, got $scans:\n$plan")
    val nAggs = "HashAggregate".r.findAllIn(plan).length
    assert(nAggs >= 2, s"the source aggregate must partial+final:\n$plan")
  }

  test("q217 max-sim: queries broadcast; per-(query,doc) max partial+final; bounded cut") {
    val plan = planOf("q217_maxsim")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"the query set must broadcast:\n$plan")
    val nAggs = "HashAggregate".r.findAllIn(plan).length
    assert(nAggs >= 2, s"the doc-level max must map-side combine:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"corpus×queries must ride the broadcast, not a product:\n$plan")
  }

  test("q219 watermark replay: the running max never plans a single-partition window") {
    val plan = planOf("q219_watermark_audit")
    assert(!plan.contains("Window"),
      s"the Scale.scan running max must not fall back to a window:\n$plan")
  }

  test("q212 whitening: the 64-row mean table broadcasts back; aggs partial+final") {
    val plan = planOf("q212_embedding_whiten")
    assert(plan.contains("BroadcastHashJoin"),
      s"the dims-row mean table must broadcast:\n$plan")
    val nAggs = "HashAggregate".r.findAllIn(plan).length
    assert(nAggs >= 4, s"both passes must map-side combine:\n$plan")
  }

  test("q221 local clustering: wedge machinery stays equi-join, no product") {
    val plan = planOf("q221_local_clustering")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the closing-edge probe must stay an equi-join:\n$plan")
  }

  test("q200 CDC: doc-keyed windows only — never one global partition") {
    val plan = planOf("q200_cdc_dedup")
    assert(plan.contains("Window"), s"expected the cut/lag windows:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"CDC state is per-doc; a global window would serialize the corpus:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"the occurrence join must stay a chunk-hash equi-join:\n$plan")
  }

  test("q222 C4 lines: one narrow scan — no join, no agg, no shuffle before the sort") {
    val plan = planOf("q222_c4_line_filter")
    assert(!plan.contains("Join") && !plan.contains("Aggregate") &&
      !plan.contains("Generate"),
      s"line rules must stay higher-order array exprs in ONE projection " +
        s"(no explode/join/agg):\n$plan")
    // exactly one exchange: the presentation orderBy
    val nEx = "Exchange".r.findAllIn(plan).length
    assert(nEx <= 2, s"expected only the final sort exchange:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must prune to the two used columns:\n$plan")
  }

  test("q223 modularity: community aggs stay partial+final; 1-row stats broadcast") {
    val plan = planOf("q223_modularity")
    assert(!plan.contains("CartesianProduct"),
      s"the 1-row aggregate composition must broadcast:\n$plan")
    val nAggs = "HashAggregate".r.findAllIn(plan).length
    assert(nAggs >= 4,
      s"degree/community/intra aggs must map-side combine:\n$plan")
  }

  test("q224 survivorship: member aggs keyed by cluster — no doc×doc surface") {
    val plan = planOf("q224_survivorship")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"survivorship must stay cluster-keyed equi-joins:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"no global window may serialize the member table:\n$plan")
  }

  test("q225 URL canon: canonicalization inline in the scan stage; one agg family") {
    val plan = planOf("q225_url_canon")
    assert(!plan.contains("Join"),
      s"canonicalization is pure expressions — no join may appear:\n$plan")
    val nAggs = "HashAggregate".r.findAllIn(plan).length
    assert(nAggs >= 2, s"family report must map-side combine:\n$plan")
  }

  test("q226 silhouette: sample broadcasts; per-(i,cluster) sums partial+final") {
    val plan = planOf("q226_silhouette")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the bounded sample×corpus probe must BROADCAST the sample:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"never an unbroadcast product:\n$plan")
    val nAggs = "HashAggregate".r.findAllIn(plan).length
    assert(nAggs >= 2, s"distance sums must map-side combine:\n$plan")
  }

  test("q227 mojibake: one narrow scan — automaton count + replace chain inline") {
    val plan = planOf("q227_mojibake")
    assert(!plan.contains("Join") && !plan.contains("Aggregate"),
      s"detect+repair must stay scan+project+filter:\n$plan")
    assert(plan.contains("graft_multi_count"),
      s"native counter missing from the projection:\n$plan")
  }

  test("q228 zonemap: predicate table broadcasts; no global-sort window for the ranking") {
    val plan = planOf("q228_zonemap_skip")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"the literal predicate set must broadcast:\n$plan")
    assert(!plan.contains("Window"),
      s"clustered ranking must use globalRank prefix sums, not a window:\n$plan")
    val nAggs = "HashAggregate".r.findAllIn(plan).length
    assert(nAggs >= 2, s"zone-map build must map-side combine:\n$plan")
  }

  test("q229 link prediction: wedge join stays equi-keyed — no product surface") {
    val plan = planOf("q229_link_predict")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"wedges must join on the pivot key only:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"existing edges must be excluded by anti-join:\n$plan")
  }

  test("q230 calibration: one corpus scan, bin agg partial+final") {
    val plan = planOf("q230_calibration")
    val nScans = "Scan parquet".r.findAllIn(plan).length
    assert(nScans == 1, s"expected ONE documents scan, got $nScans:\n$plan")
    val nAggs = "HashAggregate".r.findAllIn(plan).length
    assert(nAggs >= 2, s"bin aggregate must map-side combine:\n$plan")
    // the global-rate window runs over the AGGREGATED ≤10-row bin frame,
    // below (after) the exchange-backed aggregate — never over the corpus
    assert(plan.contains("Window"), s"global rate must reuse bin rows:\n$plan")
  }

  test("q231 kendall: the pair join broadcasts the bounded sample") {
    val plan = planOf("q231_kendall_tau")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"sample² pair join must broadcast one side:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"never an unbroadcast product:\n$plan")
  }

  test("q233 HITS: edge-keyed equi-joins + broadcast max-norms only") {
    // The production plan is truncated at hitsAuthMicro's localCheckpoint
    // pins (each half-step materializes), so the half-step invariant is
    // asserted on the COMPOSED plan: pin = identity reproduces the full
    // unrolled lineage.
    import spark.implicits._
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (3L, 12L))
      .toDF("c", "p")
    val composedPlan = graft.graph.Graph.hitsAuthMicro(edges, pin = identity)
      .queryExecution.executedPlan
    val composed = composedPlan.toString
    assert(!composed.contains("CartesianProduct"),
      s"normalization constants must broadcast:\n$composed")
    val nAggs = "HashAggregate".r.findAllIn(composed).length
    assert(nAggs >= 4, s"each half-step sum must map-side combine:\n$composed")
    // the exact map-side-combine invariant the count approximates: every
    // exchange feeding a FINAL aggregate sits directly on its PARTIAL half
    val root = composedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    def inMode(p: SparkPlan, m: AggregateMode): Boolean = p match {
      case h: HashAggregateExec =>
        h.aggregateExpressions.nonEmpty && h.aggregateExpressions.forall(_.mode == m)
      case _ => false
    }
    val finalInputs = root.collect {
      case h: HashAggregateExec if inMode(h, Final) => h.child
    }.collect { case e: Exchange => e }
    assert(finalInputs.size >= 2, s"half-step sums must aggregate across an exchange:\n$composed")
    finalInputs.foreach { e =>
      assert(inMode(e.child, Partial),
        s"exchange under a final aggregate must carry partial aggregates:\n$e")
    }

    // The pinned production plan: the visible fragment reads checkpointed
    // blocks (the pins are real) and the final max-norm still map-side
    // combines its 1-row broadcast max.
    val plan = planOf("q233_hits")
    assert(!plan.contains("CartesianProduct"),
      s"normalization constants must broadcast:\n$plan")
    val nPinned = "Scan ExistingRDD".r.findAllIn(plan).length
    assert(nPinned >= 2, s"half-step pins must truncate the plan:\n$plan")
    val nAggsPinned = "HashAggregate".r.findAllIn(plan).length
    assert(nAggsPinned >= 2, s"final max must map-side combine:\n$plan")
  }

  test("q234 seasonal: profile broadcasts; medians partition by type (no global sort)") {
    val plan = planOf("q234_seasonal")
    assert(plan.contains("BroadcastHashJoin"),
      s"the |types|×24 seasonal profile must broadcast:\n$plan")
    assert(!plan.contains("SinglePartition, "),
      s"per-type windows must not serialize globally:\n$plan")
  }

  test("q235 KM: curve windows run over the per-t aggregate, not per-user rows") {
    val plan = planOf("q235_kaplan_meier")
    // the Window input must be the aggregated bt frame: Window sits
    // above a HashAggregate, and the per-user frame is never window-sorted
    val winIdx = plan.indexOf("Window")
    val aggIdx = plan.indexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx >= 0 && winIdx < aggIdx,
      s"window must consume the per-t aggregate:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the corpus-end timestamp must broadcast:\n$plan")
  }

  test("q236 advisor: adjacency is a rank equi-join — no window, no product") {
    val plan = planOf("q236_storage_advisor")
    assert(!plan.contains("Window"),
      s"physical-order adjacency must use globalRank, not a lag window:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"rank join must stay equi-keyed:\n$plan")
  }

  test("q88 salted join: salt survives into the join keys under AQE skew-join") {
    // the salted paths exist for skew AQE can't fix (hot key + dim too
    // big to broadcast); they must keep their shape when AQE's own
    // skew-join handling is ON — the runtime re-planner must not strip
    // or bypass the salt
    val prev = spark.conf.get("spark.sql.adaptive.skewJoin.enabled", "false")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    try {
      val df = SparkEntry.queries("q88_salted_join")(spark, sf0001)
      df.collect() // AQE finalizes the plan only after execution
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), s"expected a finalized AQE plan:\n$plan")
      val joinOnSalt = plan.linesIterator.exists(l =>
        l.contains("Join") && l.contains("_salt"))
      assert(joinOnSalt, s"join must key on (o_custkey, _salt):\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"salted join degenerated to a product:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prev)
  }

  test("q47 salted agg: two-phase (key,salt)→key aggregation survives AQE") {
    val prev = spark.conf.get("spark.sql.adaptive.skewJoin.enabled", "false")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    try {
      val df = SparkEntry.queries("q47_salted_agg")(spark, sf0001)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), s"expected a finalized AQE plan:\n$plan")
      // phase 1 spreads the hot key over (key, _salt) reducers —
      // partial AND final of the first agg both carry the salt key
      val saltAggs = plan.linesIterator.count(l =>
        l.contains("HashAggregate") && l.contains("_salt"))
      assert(saltAggs >= 2,
        s"expected partial+final HashAggregate on (l_returnflag, _salt), " +
          s"found $saltAggs:\n$plan")
      // phase 2 merges partials per key only
      val keyOnly = plan.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("l_returnflag") &&
          !l.contains("_salt"))
      assert(keyOnly, s"missing the final per-key merge aggregate:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prev)
  }

  test("q232 matryoshka: both passes broadcast the query set; corpus never shuffles pre-topk") {
    val plan = planOf("q232_matryoshka")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"query set must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"never an unbroadcast product:\n$plan")
    // two brute-force passes => two local top-k prunes before the k-merge
    val nLocal = "SerializeFromObject".r.findAllIn(plan).length
    assert(nLocal >= 2, s"both passes must localTopK map-side:\n$plan")
  }
}
