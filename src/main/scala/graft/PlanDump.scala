package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode
import graft.plans.GraftSession
/** Formatted physical plans of registry queries, in two forms:
  *  - no arguments: regenerates PLANS.md in the working directory, the
  *    headline queries at sf0.001 with the scale-relevant features to look
  *    for. Run when plans change: `sbt "runMain graft.PlanDump"`.
  *  - `<tag> <suffix> <q1,q2,...> [sfDir]`: writes
  *    `plans/<tag>/<query>_<suffix>.txt`, the before/after evidence for an
  *    optimization change (sfDir defaults to SPARK_GRAFT_SF_DIR, else
  *    sf0.001), e.g. `sbt "runMain graft.PlanDump r18 after llm_dup_clusters"`. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val cores = GraftSession.envCores
    val spark = GraftSession.builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    def plan(name: String, sfDir: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
    if (args.isEmpty) writePlansMd(cores, plan(_, dir))
    else {
      val Array(tag, suffix, names) = args.take(3)
      val sfDir = args.lift(3).getOrElse(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", dir))
      val out = Paths.get(s"plans/$tag")
      Files.createDirectories(out)
      names.split(',').map(_.trim).filter(_.nonEmpty).foreach { name =>
        Files.writeString(out.resolve(s"${name}_$suffix.txt"),
          s"== $name ($suffix, $sfDir) ==\n${plan(name, sfDir)}")
        println(s"wrote plans/$tag/${name}_$suffix.txt")
      }
    }
    spark.stop()
  }

  private def writePlansMd(cores: Int, plan: String => String): Unit = {
    val picks = Seq(
      ("q1_pricing_summary", "one scan, partial-agg before the single shuffle; pruned ReadSchema + pushed date filter"),
      ("j1_broadcast_join", "BroadcastHashJoin: the AP-dimension lookup shape - fact side never shuffles"),
      ("o2_topk_per_group", "per-group top-k via window on the group-key exchange; no global sort"),
      ("a1_candidate_selection", "PushedFilters carry the IN-list + date cutoff into the parquet scan"),
      ("p2_weighted_centroid", "the batch-WCL: pure partial-aggregatable sums, ONE exchange for all keys"),
      ("a9_outlier_mad", "two median passes; per-key aggregate joins carry NO broadcast hint - AQE picks the strategy, so key cardinality can grow 100x without a driver OOM"),
      ("r5_proximity_tier", "request scoring: scans explode, BroadcastHashJoin onto the AP dim (fact side never shuffles for the lookup), ONE exchange regroups by request id for the per-request algorithm panel"),
      ("r5_batch_scoring", "the full R1-R6 panel. The operator itself is the last three nodes: BroadcastHashJoin onto the AP dim, ONE exchange regrouping by request id, mapGroups running the pure-Scala panel. The two earlier exchanges only build the synthetic Request arrays from events (test harness, not the operator - real requests arrive pre-grouped)"),
      ("llm_repetition", "the Gopher repetition gate: one O(doc) UDF pass fused with the scan - per-row metrics and the keep filter, NO explode and NO shuffle before the final output sort"),
      ("j6_asof_join", "as-of join without a range join: union both sides, ONE hashpartitioning exchange on the key, running last(ignoreNulls) window carries the latest right payload - no pair expansion at any cardinality"),
      ("j7_band_join", "range/band join as an equi-join: intervals explode to covering domain buckets, points hash to theirs, residual BETWEEN filters - no BroadcastNestedLoopJoin anywhere"),
      ("q5_region_volume", "six-table star DAG: every dimension a BroadcastHashJoin, the one fact-fact join (lineitem-orders) shuffles on the key - the only SortMergeJoin in the plan"),
      ("j9_bloom_prune", "runtime-filter semi-join: the bloom UDF filter sits ON the fact scan (rows die before the shuffle), the exact semi-join finishes"),
      ("q3_shipping_priority", "double-sided fact reduction: the order-date and ship-date filters are PUSHED into their own parquet scans (both facts shrink before the key join), the segment filter rides the customer scan, and ORDER BY+LIMIT compiles to TakeOrderedAndProject - no global sort, no hints"),
      ("q18_large_orders", "HAVING-gated semi-join reduction: the per-order quantity aggregate feeds a LeftSemi back onto orders BEFORE the customer/lineitem joins; the hit set scales with key cardinality so it carries no broadcast hint - AQE picks broadcast at bench scale, key shuffle at 100 TB"),
      ("o15_rolling_median", "sliding order statistic: ONE hashpartitioning exchange on the key feeds both the row_number and the 7-row frame; the median is the middle element of a full odd frame - no interpolation arithmetic anywhere"),
      ("q21_blame_supplier", "EXISTS + NOT EXISTS on the same fact: both decorrelate to hash joins on the order key (LeftSemi then LeftAnti) with the supplier inequality as residual - all three lineitem legs shuffle on the SAME key, so the exchanges line up; no nested loop anywhere"),
      ("q13_order_distribution", "outer fact-fact join with an ON-clause filter: the priority predicate is applied on the orders side (pushed to its scan), the join stays LeftOuter so zero-order customers survive with count 0, and the second aggregate runs on |customers| two-int rows"),
      ("llm_segment_dedup", "corpus-wide line/segment dedup: ONE explode to segments, ONE window exchange keyed on segment content (first-occurrence rule totalized by doc_id, seg_idx), ONE group-back reassembling survivors - the CCNet shape with no all-pairs stage"),
      ("llm_seq_packing", "greedy sample packing sharded by source: ONE groupByKey exchange, then a per-shard sequential fold over the sorted iterator - parallel across shards, which is the only parallelism packing admits"),
      ("q20_promotable_suppliers", "nested semi-join chain: the per-(supplier,part) aggregate is semi-reduced by the part list, threshold-filtered, then semi-reduces supplier - two LeftSemi deep, all hash joins, only the fixed nation dimension broadcast-hinted"),
      ("llm_boilerplate_strip", "corpus-frequency boilerplate removal: ONE explode to segments, per-segment distinct-doc aggregate (shuffle on segment content), join back on segment reusing that exchange on the frequency side, one group-back per doc - the strip-ALL-occurrences complement of llm_segment_dedup"),
      ("llm_importance_resample", "DSIR selection: two bucket aggregates over the exploded words, a 256-row bounded ratio frame broadcast by construction, per-doc regroup, TakeOrderedAndProject top-k - the only float math is 256 ln() calls, floor-quantized before any sum"),
      ("a22_zorder_layout", "z-order maintenance gate: the Morton code is a pure codegen'd shift/mask projection on the scan; the ntile window is the oracle's 32-file stand-in (production path = clusterBy's sampled repartitionByRange)"),
      ("llm_link_triangles", "degree-ordered triangle counting: every join an equi-join on vertex ids; wedges enumerate at each edge's LOWER-degree endpoint so hub skew cannot blow up the intermediate - the wedge count is itself hash-gated"),
      ("llm_bigram_lm", "bigram-LM document scoring: count frames scale with VOCABULARY not corpus, the score join is two word-key equi-joins, the vocabulary-size scalar is the only (1-row) nested-loop broadcast; log-probs floor-quantize to integers BEFORE the per-doc sum so aggregation order is irrelevant"),
      ("llm_vocab_coverage", "vocab induction: frequency top-K is TakeOrderedAndProject (per-partition top-K, never a global sort), the K-row vocab broadcasts onto the token stream - the corpus never shuffles for the lookup"),
      ("llm_kmeans_assign", "Lloyd assignment in quantized integer space: seeds broadcast to every vector (BroadcastExchange, no SortMergeJoin), distances are exact BIGINT folds of a zip_with - assignment is a map-side pass plus one aggregate"),
      ("a24_scd2_history", "SCD2 folding: lag-compare, version row_number and lead() validity all ride ONE per-key window exchange - change detection costs a single shuffle at any history depth"),
      ("o20_interval_islands", "gaps-and-islands: the running-max break test and the island prefix-sum share the per-key sort; islands then aggregate twice on the same partitioning - interval union with no self-join and no pair expansion"),
      ("j12_fuzzy_join", "similarity join without all-pairs: candidates from an equi-join on each name's 3 rarest bigrams (one global frequency order), exact levenshtein verifies - the all-pairs ORACLE proves the prefix filter complete, the PLAN proves it never nested-loops"),
      ("p9_wcl_udaf", "the typed-Aggregator UDAF path: quantized-integer buffer partial-aggregates map-side (ObjectHashAggregate partial before the key exchange), so the custom aggregate shuffles O(groups) buffers, exactly like a built-in"),
      ("llm_filter_cascade", "filter-cascade gate: all four rule bits are per-row array expressions fused with the scan, ONE aggregate on the 16-value mask domain - corpus-size work is a single pass, the histogram is free"),
      ("llm_unigram_viterbi", "unigram-LM Viterbi: the vocabulary (Heaps-law-sized) broadcasts onto the per-word cost grid; the DP itself is a per-row aggregate HOF over collected arrays - segmentation is a narrow map pass, no shuffle after the grid groupBy"),
      ("o25_pareto_front", "skyline: BOTH dominance tests are windows partitioned by brand (one exchange), running max over the strictly-cheaper RANGE frame plus the price peer-group max - O(n log n) per group, no self-join, no O(n^2) pair stage"),
      ("o26_count_min", "Count-Min: the sketch aggregate groups on (row, md5-derived bucket) - a provably <=4x4096-row frame (PlanAuditSpec witness) broadcast to the probe side; the fact stream never shuffles twice"),
      ("llm_curation_funnel", "five curation stages in ONE corpus pass: stage flags are columns (dedup = min-over-hash window, contamination = one 8-gram semi-join), one aggregate emits every stage count - no per-stage re-scan"),
      ("o28_holt_linear", "sequential smoothing as a plan: ONE groupBy exchange collects each key's ordered history, the level+trend recursion runs inside a codegen'd aggregate HOF - per-key O(n), state 2 doubles"),
      ("llm_char_entropy", "entropy gate after the explode->UDF rewrite: one fused O(doc) count-map pass per row - NO Generate, no shuffle before the output sort (the oracle still walks one row per character; at sf1 this plan is ~10x the explode form)"),
      ("llm_decontaminate", "gram-collision decontamination: train grams probe the BROADCAST eval-gram set map-side, dedup (count DISTINCT per pair) happens on the collision set AFTER the join - the corpus-gram frame is never distinct-shuffled"),
      ("o29_auc", "global-rank AUC without a global sort: distinct-score hash aggregate, domain-bounded bucket offsets broadcast back, within-bucket running sums on a hashpartitioning(b) window - the only SinglePartition exchanges sit above constant-sized aggregates"),
      ("llm_shard_assign", "two-level global prefix sum: bucket totals + hint-free offset join (AQE broadcasts it while small, shuffle-joins beyond - the frame scales with rows/width, so no hint) + per-bucket windows replace the naive single-partition ORDER BY cumulative window the oracle states"),
      ("o33_group_median", "grouped exact median with DataFrame group state: per level ONE hint-free join of values to (keys, lo, hi, k) state, one (keys, bucket) aggregate, a window over <=fanout histogram rows - no per-group value buffer anywhere, level count independent of data size (measured 1.3x across the 10x extent decade)"),
      ("llm_hard_negatives", "exact hard-negative mining after the l2_sq swap: the squared distance is ONE native codegen'd expression inside the probe crossJoin stage (no interpreted HOFs), and both rank<=3 windows compile to WindowGroupLimit - per-partition top-k pruning, the pair frame is never sorted whole"),
      ("llm_ann_pq_adc", "PQ asymmetric-distance search: codes from a broadcast codebook join, per-query LUT (queries x M x ksub, bounded by the query batch) broadcast onto the code stream, ADC is M lookups + one sum per (query, vector), shortlist and re-rank both WindowGroupLimit"),
      ("j14_scd2_lookup", "point-in-time SCD2 lookup: the version chain and the ship events union into ONE keyed window exchange (the backward as-of idiom) - the running-last carries the valid version to every event, never an interval pair expansion"),
      ("llm_ann_ivfpq", "two-level IVF+PQ index with TRAINED quantizers (round 12): both codebooks fit in-memory on the bounded sample and broadcast as literal frames, coarse assignment and probes are map-side argmins against them, and the ADC join chains codes -> CANDIDATES -> LUT in that order - the candidate semi-restriction sits before any distance work, so unprobed cells never reach the distance stage"),
      ("llm_hard_negatives_ann", "sub-quadratic hard-negative mining: the exact operator's probes x corpus pair stage is replaced by the IVF+PQ candidate chain with the OPPOSITE-LABEL filter applied alongside the coarse prune - same-label rows and unprobed cells both die before the first distance expression; shortlist + exact re-rank are WindowGroupLimit"),
      ("a33_skew_report", "join-key skew diagnostics (round 12): the key histogram partial-aggregates before its one shuffle, heavy keys compile to TakeOrderedAndProject, and the only single-partition window runs over the count-of-counts histogram - a frame of distinct COUNT VALUES, not keys"),
      ("c9_point_in_polygon", "geofence containment (round 12): the whole integer ray cast (bbox guard + 6 cross-multiplied edge tests) is ONE scan-fused projection - no join, no generate; the 8-cell verdict aggregate is the only exchange"),
      ("j16_polygon_join", "points x polygon-table spatial join (round 12): polygons explode to their bbox's covering grid cells, points hash to ONE cell, the match is an equi-join on (cx, cy) with the exact translated ray cast as residual - no BroadcastNestedLoopJoin at any polygon count"),
      ("o37_sliding_distinct", "exact trailing-window distinct count (round 12): per-(key,user) island windows share one exchange, boundary deltas and probe days union into ONE per-key prefix-sum window - no per-window distinct set, no day x user expansion"))
    val sb = new StringBuilder
    sb.append(s"# PLANS — headline physical plans (sf0.001, local[$cores])\n\n")
    sb.append("Generated by `graft.PlanDump`; regenerate after plan-affecting changes.\n")
    sb.append("What to look for is noted per query; `PlanAuditSpec` asserts the same\n")
    sb.append("properties on every build.\n")
    picks.foreach { case (name, note) =>
      sb.append(s"\n## $name\n\n_${note}_\n\n```\n")
      val full = plan(name)
      if (full.length <= 12000) sb.append(full)
      else sb.append(full.take(12000)).append("\n… (truncated at 12000 chars)")
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("WROTE PLANS.md")
  }
}
