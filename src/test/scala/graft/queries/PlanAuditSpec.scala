package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSuite

/** Physical-plan audits: the scale properties the queries claim must be
  * visible in `executedPlan` — broadcast joins stay broadcast, filters reach
  * the parquet scan, top-k avoids global sorts, and nothing collects or
  * cross-joins. These are the "would this survive 100×" checks run at test
  * time, every build. */
class PlanAuditSpec extends AnyFunSuite with Matchers with SparkSuite {

  private def plan(r: Reg): String =
    r.build(spark, sfDir).queryExecution.executedPlan.toString

  test("J1/J2/J3: dimension joins are BroadcastHashJoin, never SortMerge") {
    Seq(CoreQueries.j1BroadcastJoin, CoreQueries.j2SemiJoin, CoreQueries.j3StatusAnti)
      .foreach { q =>
        val p = plan(q)
        withClue(q.name) {
          p should include("BroadcastHashJoin")
          p should not include "SortMergeJoin"
        }
      }
  }

  test("A1: selection predicates are pushed to the parquet scan") {
    val p = plan(CoreQueries.a1CandidateSelection)
    p should include("PushedFilters: [")
    // the IN-list on the AP key must reach the scan
    p should include("In(l_suppkey")
  }

  test("O1: ORDER BY + LIMIT compiles to TakeOrderedAndProject (no full sort)") {
    plan(CoreQueries.o1SortedScan) should include("TakeOrderedAndProject")
  }

  test("a33: heavy keys via TakeOrdered; percentile windows never touch key frames") {
    val p = plan(AnalyticsQueries.a33SkewReport)
    // top-10 heavy keys must not be a global sort
    p should include("TakeOrderedAndProject")
    // the only single-partition window runs over the count-of-counts
    // histogram (tiny); the key histogram itself partial-aggregates
    p should include("partial_count")
  }

  test("c9: the geofence verdict fuses with the scan — no join, no explode") {
    val p = plan(AnalyticsQueries.c9PointInPolygon)
    p should not include "Join"
    p should not include "Generate"
    // one aggregation pair over the 8-cell domain is the only shuffle
    p should include("partial_count")
  }

  test("column pruning: q1 reads only the needed lineitem columns") {
    val p = plan(CoreQueries.q1PricingSummary)
    p should include("ReadSchema")
    p should not include "l_orderkey" // untouched columns pruned from the scan
    p should not include "l_partkey"
  }

  test("llm_hard_negatives: codegen'd distance + window group limits, no interpreted HOFs") {
    val p = plan(CorpusModelQueries.hardNegatives)
    // exact L2 runs as the native l2_sq expression inside codegen, not the
    // interpreted aggregate(zip_with(...)) chain it replaced
    p should include("l2_sq")
    p should not include "zip_with"
    // rank<=3 windows must prune per-partition BEFORE the shuffle
    // (InferWindowGroupLimit): the pair frame is probes x corpus sized and
    // a full sort of it is the quadratic-materialization anti-pattern
    p should include("WindowGroupLimit")
  }

  test("llm_repetition: per-row gate — no explode, no shuffle before the output sort") {
    // The Gopher metrics claim one fused O(doc) pass per row: the only
    // Exchange allowed is the range partitioning of the final ORDER BY, and
    // nothing may blow rows up through a Generate.
    val p = plan(LlmQueries.repetitionFilter)
    p should not include "Generate"
    "Exchange".r.findAllIn(p).size should be <= 1
    p should include("ReadSchema")
    p should not include "lang" // untouched columns pruned from the scan
  }

  test("llm_char_entropy: fused per-row pass — no explode, no shuffle before the sort") {
    // The entropy gate claims one O(doc) count-map pass per row (it
    // replaced a per-CHARACTER explode): nothing may generate rows, and the
    // only Exchange allowed is the final ORDER BY's range partitioning.
    val p = plan(CorpusModelQueries.charEntropy)
    p should not include "Generate"
    "Exchange".r.findAllIn(p).size should be <= 1
  }

  test("o29_auc: global-rank AUC without a corpus-sized single-partition funnel") {
    // Two-level prefix sum: the distinct-score frame shuffles by HASH (sc,
    // then bucket), the bucket-offset frame joins back by BROADCAST, and
    // the only SinglePartition exchanges sit above aggregates (the
    // domain-bounded offset window and the final 1-row reduce) — the raw
    // frame must never funnel through one partition for the ranking.
    val p = plan(BehaviorQueries.o29Auc)
    p should include("BroadcastExchange")
    // the within-bucket running sum's window shuffles by HASH on the bucket
    p should include("hashpartitioning(b")
    "Exchange SinglePartition".r.findAllIn(p).size should be <= 2
  }

  test("media decode gates: fused per-row typed pipelines, no shuffle before the sort") {
    // PNG/GIF pixel decode, PCM features, and video metadata are per-row
    // encode→decode map passes over the doc_id scan: media bytes must
    // never shuffle — the only Exchange allowed is the output ORDER BY.
    Seq(LlmQueries.pngPixels, LlmQueries.gifPixels, LlmQueries.pcmFeatures,
      LlmQueries.videoMeta)
      .foreach { q =>
        val p = plan(q)
        withClue(q.name) {
          "Exchange".r.findAllIn(p).size should be <= 1
          p should not include "Generate"
          p should include("MapElements")
        }
      }
  }

  test("llm_source_mix: global window runs on the post-agg source frame") {
    // The window denominators are order-independent aggregates over the
    // |sources|-row aggregate, never over the raw documents: the plan must
    // aggregate (partial + final) BEFORE the single-partition window.
    val p = plan(LlmQueries.sourceMix)
    val aggIdx = p.indexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    aggIdx should be >= 0
    winIdx should be >= 0
    // plan prints top-down: the Window node appears above (before) the agg
    winIdx should be < aggIdx
  }

  test("per-key-aggregate frames carry no broadcast hint (driver OOM at 100x keys)") {
    // a9's median/MAD frames and the hotspot per-AP means have one row per
    // group key: broadcasting them caps the engine at broadcast-limit key
    // cardinality. The logical plan must leave the join strategy to AQE.
    Seq(CoreQueries.a9MadOutliers, CoreQueries.a10HotspotDetection).foreach { q =>
      val analyzed = q.build(spark, sfDir).queryExecution.analyzed
      val hinted = analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
      withClue(q.name)(hinted shouldBe empty)
    }
    // Same rule for the AUC prefix-sum offset frame: ungrouped it is
    // domain-bounded, but the grouped (per-slice) frame scales with slice
    // cardinality — the hint must stay off and the strategy with AQE.
    import spark.implicits._
    val scored = (1 to 50).map(i => (i % 7, i % 97, i % 3 min 1)).toDF("slice", "s", "y")
    Seq(
      graft.analytics.RankMetrics.aucExact(scored, "s", "y"),
      graft.analytics.RankMetrics.aucExactBy(scored, Seq("slice"), "s", "y")
    ).foreach { df =>
      val hinted = df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
      withClue("RankMetrics auc offset frame")(hinted shouldBe empty)
    }
  }

  test("mutation paths carry no broadcast hint (hit sets scale with data volume)") {
    // A mutation's update/hit set is a FRACTION OF THE TABLE, not a
    // dimension — a broadcast hint there is the driver-OOM pattern at
    // 100 TB. Audit the label plan directly, and pin the rule for every
    // MergeOps path at the source level (the joins inside mergeByKeyPartitioned /
    // deleteWhere are built and consumed inside the write call, so their
    // plans aren't reachable from a test).
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val target = Seq(("e1", false)).toDF("event_id", "is_global_outlier")
      .withColumn("global_outlier_distance", lit(null).cast("double"))
      .withColumn("global_outlier_threshold", lit(null).cast("double"))
      .withColumn("global_detection_algorithm", lit(null).cast("string"))
      .withColumn("global_detection_timestamp", lit(null).cast("timestamp"))
      .withColumn("global_detection_version", lit(null).cast("string"))
    val hits = Seq(("e1", 12.0)).toDF("event_id", "distance")
    val labeled = graft.mutation.MergeOps.applyLabels(target, hits, 3.0, "MAD", "1.0")
    val hinted = labeled.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    hinted shouldBe empty

    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/mutation/MergeOps.scala")))
    withClue("MergeOps must not force broadcast anywhere") {
      src should not include "broadcast("
    }
  }

  test("j6: the as-of join is one key shuffle — no pair expansion, no nested loop") {
    val p = plan(AnalyticsQueries.j6AsofJoin)
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
    // one hashpartitioning Exchange for the union window; the final ORDER BY
    // adds a rangepartitioning one
    "hashpartitioning".r.findAllIn(p).size shouldBe 1
  }

  test("q5/q9: dimensions broadcast at this scale; fact-fact orders join may shuffle") {
    // Size-scaling dimensions (customer/supplier/part) carry NO hint — at
    // test scale AQE/size-estimates broadcast them, at 100 TB they fall
    // back to shuffle; only fixed nation/region hint explicitly. The audit
    // pins the small-scale plan AND that no hint forces the fact side.
    Seq(AnalyticsQueries.q5RegionVolume, AnalyticsQueries.q9ProductProfit).foreach { q =>
      val p = plan(q)
      withClue(q.name) {
        "BroadcastHashJoin".r.findAllIn(p).size should be >= 3
        // at most the lineitem⋈orders key join shuffles both sides
        "SortMergeJoin".r.findAllIn(p).size should be <= 1
        p should not include "CartesianProduct"
      }
      val hinted = q.build(spark, sfDir).queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
      // pin WHICH relations carry hints, not just how many: every hinted
      // subtree must be a fixed dimension (nation/region columns only) —
      // a count-only bound would let broadcast(customer) sneak back in
      hinted.foreach { h =>
        val outCols = h.child.output.map(_.name)
        withClue(s"${q.name}: hinted relation $outCols must be a fixed dimension")(
          outCols.forall(c => c.startsWith("n_") || c.startsWith("r_")) shouldBe true)
      }
    }
  }

  test("q3: both fact filters reach their scans and the top-k avoids a global sort") {
    val p = plan(AnalyticsQueries.q3ShippingPriority)
    // double-sided fact reduction: the date filters must be PUSHED, each to
    // its own parquet scan — filtering after the join is the 100× killer
    p should include("PushedFilters")
    p should include("LessThan(o_orderdate")
    p should include("GreaterThan(l_shipdate")
    p should include("TakeOrderedAndProject")
    p should not include "CartesianProduct"
    // no hint anywhere: customer/orders scale with SF, AQE owns the strategy
    val hinted = AnalyticsQueries.q3ShippingPriority.build(spark, sfDir)
      .queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
    hinted shouldBe empty
  }

  test("q18: the HAVING gate feeds a semi-join reduction, never a broadcast hint") {
    val q = AnalyticsQueries.q18LargeOrders
    val p = plan(q)
    withClue(p) {
      // the aggregate hit set joins back as LeftSemi — the fact is reduced
      // before the customer/lineitem joins, not materialized or collected
      p should include("LeftSemi")
      p should include("TakeOrderedAndProject")
      p should not include "CartesianProduct"
    }
    // the hit set is a per-key aggregate (scales with key cardinality):
    // broadcasting it explicitly would cap the engine at broadcast-limit keys
    val hinted = q.build(spark, sfDir).queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    hinted shouldBe empty
  }

  test("q7: both self-aliased nation roles broadcast as pair-filtered dims") {
    val q = AnalyticsQueries.q7VolumeShipping
    val p = plan(q)
    withClue(p) {
      // two nation aliases + AQE-picked strategies for supplier/customer;
      // at minimum the two hinted nation roles must be broadcast
      "BroadcastHashJoin".r.findAllIn(p).size should be >= 2
      p should not include "CartesianProduct"
      // the pair filter reaches the nation scans (2 rows broadcast, not 25)
      p should include("In(n_name")
    }
    val hinted = q.build(spark, sfDir).queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    hinted should have size 2
    hinted.foreach { h =>
      val outCols = h.child.output.map(_.name)
      withClue(s"hinted relation $outCols must be a nation alias")(
        outCols.exists(c => c == "supp_nation" || c == "cust_nation") shouldBe true)
    }
  }

  test("q17: the correlated threshold is decorrelated to one per-key aggregate, no hint") {
    val q = AnalyticsQueries.q17SmallQuantity
    val p = plan(q)
    withClue(p) {
      p should not include "CartesianProduct"
      // decorrelation = aggregate + equi-join, never a per-row subquery
      p should include("HashAggregate")
    }
    // the per-part threshold frame scales with key cardinality: no hint
    val hinted = q.build(spark, sfDir).queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    hinted shouldBe empty
  }

  test("q4/q13: semi with cross-table residual and outer with pushed ON-filter") {
    val p4 = plan(AnalyticsQueries.q4OrderPriority)
    withClue(p4) {
      // EXISTS decorrelates to a hash LeftSemi on the order key; the date
      // residual rides the join, never a per-row subquery or nested loop
      p4 should include("LeftSemi")
      p4 should not include "BroadcastNestedLoopJoin"
      p4 should not include "CartesianProduct"
      // the orders date window reaches the scan
      p4 should include("GreaterThanOrEqual(o_orderdate")
    }
    val p13 = plan(AnalyticsQueries.q13OrderDistribution)
    withClue(p13) {
      // zero-order customers must survive: the join stays LeftOuter and the
      // priority filter applies on the orders side (pushed to its scan),
      // never as a post-join WHERE that would drop unmatched rows
      p13 should include("LeftOuter")
      p13 should include("Not(EqualTo(o_orderpriority")
      p13 should not include "CartesianProduct"
    }
    Seq(AnalyticsQueries.q4OrderPriority, AnalyticsQueries.q13OrderDistribution)
      .foreach { q =>
        val hinted = q.build(spark, sfDir).queryExecution.analyzed.collect {
          case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
        }
        withClue(q.name)(hinted shouldBe empty)
      }
  }

  test("q16/q21: anti-join exclusions and the double self-semi-join, all hash joins") {
    val p16 = plan(AnalyticsQueries.q16SupplierVariety)
    withClue(p16) {
      // NOT IN becomes a LeftAnti on the fact BEFORE the part join; the
      // brand/size filters reach the part scan
      p16 should include("LeftAnti")
      p16 should include("In(p_size")
      p16 should not include "CartesianProduct"
    }
    val p21 = plan(AnalyticsQueries.q21BlameSupplier)
    withClue(p21) {
      // EXISTS + NOT EXISTS on the same fact = two more hash joins on the
      // order key (semi then anti), supplier-inequality as residual — a
      // nested loop here is the 100× killer
      "LeftSemi".r.findAllIn(p21).size should be >= 2
      p21 should include("LeftAnti")
      p21 should not include "BroadcastNestedLoopJoin"
      p21 should not include "CartesianProduct"
    }
    Seq(AnalyticsQueries.q16SupplierVariety, AnalyticsQueries.q21BlameSupplier)
      .foreach { q =>
        val hinted = q.build(spark, sfDir).queryExecution.analyzed.collect {
          case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
        }
        withClue(q.name)(hinted shouldBe empty)
      }
  }

  test("q22: the scalar threshold is a one-row broadcast; dormancy is a LeftAnti") {
    val p = plan(AnalyticsQueries.q22DormantCustomers)
    withClue(p) {
      // the segment-average scalar joins as a 1-row broadcast nested loop
      // (broadcast by construction), and the recent-orders anti side keeps
      // its date filter at the scan
      p should include("LeftAnti")
      p should include("GreaterThanOrEqual(o_orderdate")
      p should not include "CartesianProduct"
    }
  }

  test("star-suite completion: argmin/argmax/scalar/disjunction/nested-semi shapes") {
    // q2: the per-part argmin joins back as an EQUI join on (key, min) —
    // never a per-row subquery; top-k compiles to TakeOrderedAndProject
    val p2 = plan(StarQueries.q2MinCostSupplier)
    withClue(p2) {
      p2 should include("TakeOrderedAndProject")
      p2 should not include "CartesianProduct"
    }
    // q19: the OR-of-ANDs rides the partkey hash join as residual — a
    // nested loop over the disjunction is the 100× killer
    val p19 = plan(StarQueries.q19DiscountedRevenue)
    withClue(p19) {
      p19 should not include "BroadcastNestedLoopJoin"
      p19 should not include "CartesianProduct"
    }
    // q20: two semi-reductions deep, all hash joins
    val p20 = plan(StarQueries.q20PromotableSuppliers)
    withClue(p20) {
      "LeftSemi".r.findAllIn(p20).size should be >= 2
      p20 should not include "BroadcastNestedLoopJoin"
      p20 should not include "CartesianProduct"
    }
    // q11/q15: the global scalar (threshold / max) is a one-row frame —
    // its join must never shuffle the per-key side on a phantom key
    Seq(StarQueries.q11ImportantStock, StarQueries.q15TopSupplier).foreach { q =>
      withClue(q.name)(plan(q) should not include "CartesianProduct")
    }
    // per-key aggregates (costs/mins/vals/rev) carry no broadcast hint;
    // the only hinted relations are fixed nation dimensions
    Seq(StarQueries.q2MinCostSupplier, StarQueries.q8MarketShare,
      StarQueries.q10ReturnedItems, StarQueries.q11ImportantStock,
      StarQueries.q15TopSupplier, StarQueries.q20PromotableSuppliers).foreach { q =>
      val hinted = q.build(spark, sfDir).queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
      hinted.foreach { h =>
        val outCols = h.child.output.map(_.name)
        withClue(s"${q.name}: hinted relation $outCols must be a fixed dimension")(
          outCols.forall(c => c.startsWith("n_") || c.startsWith("r_")) shouldBe true)
      }
    }
  }

  test("j7: the band join is an equi-join on domain buckets, never a nested loop") {
    val p = plan(AnalyticsQueries.j7BandJoin)
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
  }

  test("a14/o10: percentile and HLL sketches partial-aggregate before the shuffle") {
    Seq(AnalyticsQueries.a14PercentileBands, AnalyticsQueries.o10ApproxDistinct).foreach { q =>
      val p = plan(q)
      // partial + final HashAggregate pair = map-side combine of the sketch
      withClue(q.name)("HashAggregate|SortAggregate|ObjectHashAggregate".r.findAllIn(p).size should be >= 2)
    }
  }

  test("explicit broadcast() hints wrap only dimension-bounded frames") {
    // The implicit ban (no hints on per-key aggregates / mutation paths)
    // leaves a loophole: an explicit broadcast() around a frame that SCALES
    // with data volume is a guaranteed driver OOM at 100×. Close it: every
    // broadcast-hinted subtree must bottom out in dimension-table scans /
    // local relations, OR carry a constant cardinality bound (attr < lit)
    // between the hint and any fact-table leaf. A %-slice (doc_id % k = 0)
    // deliberately does NOT count — it is a constant FRACTION, not a
    // constant SIZE.
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, Conv, Expression, Explode, GreaterThan, LessThan, LessThanOrEqual, Literal, Md5, Sequence, Substring}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, LocalRelation, LogicalPlan, OneRowRelation, Project, ResolvedHint}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

    val dimTables = Set("region", "nation", "customer", "supplier", "part")
    def leafBounded(l: LogicalPlan): Boolean = l match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.forall(p =>
          dimTables.exists(t => p.toString.endsWith(s"$t.parquet")))
        case _ => false
      }
      case _: LocalRelation => true
      case _: OneRowRelation => true
      case r: org.apache.spark.sql.catalyst.plans.logical.Range => true
      case _ => false
    }
    def constBoundCond(c: Expression): Boolean = c.exists {
      case LessThan(_: AttributeReference, r) if r.foldable => true
      case LessThanOrEqual(_: AttributeReference, r) if r.foldable => true
      case GreaterThan(l, _: AttributeReference) if l.foldable => true
      case _ => false
    }
    // An Aggregate is cardinality-bounded regardless of its input size when
    // it is global (1 row) or EVERY grouping key has a provably finite
    // domain — here, a ≤4-char md5-hex prefix (≤ 16^4 rows). That is the
    // witness that lets e.g. the 256-bucket DSIR ratio frame broadcast even
    // though it bottoms out in a fact scan.
    def boundedAgg(a: Aggregate): Boolean = {
      def defOf(attr: AttributeReference): Option[Expression] =
        a.child.collect { case pr: Project => pr.projectList }.flatten
          .collectFirst { case al: Alias if al.exprId == attr.exprId => al.child }
      // an attribute emitted by explode(sequence(lit, lit)) has a domain of
      // |stop - start| + 1 values — bounded no matter what it explodes over
      def constGenerated(attr: AttributeReference): Boolean =
        a.child.collect { case g: Generate => g }.exists(g =>
          g.generatorOutput.exists(_.exprId == attr.exprId) && (g.generator match {
            case Explode(s: Sequence) =>
              s.children.take(2).forall(_.foldable)
            case _ => false
          }))
      def boundedKey(e: Expression): Boolean = e match {
        case Substring(Md5(_), _, Literal(n: Int, _)) => n <= 4
        // base-conversion / type casts preserve the domain cardinality of a
        // bounded key (conv(substring(md5(..), 1, 3), 16, 10) is ≤ 16³)
        case c: Cast => boundedKey(c.child)
        case cv: Conv => boundedKey(cv.children.head)
        case ar: AttributeReference => defOf(ar).exists(boundedKey) || constGenerated(ar)
        case al: Alias => boundedKey(al.child)
        case _ => false
      }
      a.groupingExpressions.isEmpty || a.groupingExpressions.forall(boundedKey)
    }
    // Path-sensitive bound: a subtree is safe when every root-to-leaf path
    // is cut by a bounded Aggregate or a constant-capped Filter before it
    // reaches a fact-table leaf.
    def bounded(p: LogicalPlan): Boolean = p match {
      case a: Aggregate if boundedAgg(a) => true
      case f: Filter if constBoundCond(f.condition) => true
      // a literal LIMIT is a hard cardinality cap wherever it appears —
      // the size-probed broadcast pattern (count() the frame, then hint
      // broadcast(frame.limit(N)) only when count <= N, else shuffle)
      // records its runtime check as this structural witness
      case gl: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit
          if gl.limitExpr.foldable => true
      case l if l.children.isEmpty => leafBounded(l)
      case other => other.children.forall(bounded)
    }

    (CoreQueries.all ++ LlmQueries.all ++ AnalyticsQueries.all ++ ServeQueries.all ++ StarQueries.all)
      .foreach { q =>
        val hints = q.build(spark, sfDir).queryExecution.analyzed.collect {
          case h: ResolvedHint => h
        }
        hints.foreach { h =>
          withClue(s"${q.name}: broadcast-hinted subtree must be dimension-bounded, " +
            s"constant-capped, or cut by a bounded aggregate, got:\n${h.child.treeString}") {
            bounded(h.child) shouldBe true
          }
        }
      }
  }

  test("o25/o28: windowed skyline and sequential smoothing never pair-expand") {
    val p25 = plan(AnalyticsQueries.o25ParetoFront)
    // the oracle's O(n²) NOT-EXISTS shape must NOT be the plan: dominance
    // via two windows on one brand exchange, no joins at all
    p25 should not include "Join"
    p25 should include("Window")
    val p28 = plan(AnalyticsQueries.o28HoltLinear)
    // the recursion runs INSIDE the aggregate HOF — no explode back to rows
    p28 should not include "Generate"
    // collect_list partial-aggregates map-side before the key exchange
    "ObjectHashAggregate".r.findAllIn(p28).size should be >= 2
  }

  test("llm_unigram_viterbi: vocabulary broadcasts; segmentation never sorts globally") {
    val p = plan(TokenizerQueries.unigramViterbi)
    // the piece-vocabulary (Heaps-law-sized) joins the cost grid broadcast
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
  }

  test("llm_curation_funnel: contamination check is a semi-join, dedup a window") {
    val p = plan(LlmQueries.curationFunnel)
    p should include("LeftSemi")
    p should include("Window")
    p should not include "CartesianProduct"
    // stage counts come from ONE aggregate over the flag columns — the
    // funnel must not materialize five filtered sub-plans with five sorts
    "TakeOrderedAndProject|Sort\\b".r.findAllIn(p).size should be <= 4
  }

  test("llm_vocab_coverage: top-K vocab is TakeOrdered and broadcast to the tokens") {
    val p = plan(CorpusModelQueries.vocabCoverage)
    // vocab induction must never global-sort the frequency table
    p should include("TakeOrderedAndProject")
    // the K-row vocab joins the token stream broadcast, shuffle-free
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
  }

  test("kmeans/pq: codebooks broadcast; assignment never shuffles the vectors twice") {
    Seq(CorpusModelQueries.kmeansAssign, CorpusModelQueries.pqCodes).foreach { q =>
      val p = plan(q)
      withClue(q.name) {
        p should not include "CartesianProduct"
        p should not include "SortMergeJoin"
        // seeds/codebook reach the vectors via a broadcast exchange
        p should include("BroadcastExchange")
      }
    }
  }

  test("llm_bigram_lm: count frames join on word keys, scalar V broadcasts") {
    val p = plan(CorpusModelQueries.bigramLm)
    // the 1-row vocabulary-size aggregate is the only nested-loop join
    "BroadcastNestedLoopJoin".r.findAllIn(p).size should be <= 1
    p should not include "CartesianProduct"
  }

  test("hive-style dt partitions prune at planning: one matching dir, no data read from others") {
    // The ingestion-date layout (MergeOps/IngestStream write partitionBy dt)
    // only scales if a dt predicate prunes directories BEFORE any file IO —
    // this pins Spark's partition pruning on exactly that layout shape.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val work = java.nio.file.Files.createTempDirectory("graft_prune").toString
    try {
      (1 to 300).map(i => (i.toLong, s"2024-01-${"%02d".format(i % 3 + 1)}"))
        .toDF("id", "dt")
        .write.partitionBy("dt").parquet(s"$work/t")
      val q = spark.read.parquet(s"$work/t")
        .where(col("dt") === lit("2024-01-02"))
      val scan = q.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      scan should not be empty
      scan.get.partitionFilters should not be empty
      // the pruned file listing must touch ONLY the matching partition dir
      scan.get.selectedPartitions.partitionCount shouldBe 1
      q.count() shouldBe 100
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(work))
    }
  }

  test("llm_rand_proj: pure scan projection — zero Exchange, no Generate") {
    // the projection "matrix" is a codegen'd CASE: any shuffle or explode
    // would mean the dim-reduction stopped being a narrow map pass
    val p = plan(CorpusModelQueries.randProj)
    p should not include "Generate"
    // the only allowed Exchange is the final ORDER BY's range partitioning
    "Exchange".r.findAllIn(p).size should be <= 1
  }

  test("llm_dup_span_coverage: df frame joins on the gram key, no pair generation") {
    val p = plan(LlmQueries.dupSpanCoverage)
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    // gram-keyed equi-join: positions meet the df frame through a keyed
    // join (SMJ/SHJ at scale; BHJ at toy SF where the df frame is tiny) —
    // the pinned property is that it is never a non-equi expansion
    (p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin")) shouldBe true
  }

  test("llm_pmi_cooccur: scalar frame broadcasts; top-50 is TakeOrdered") {
    val p = plan(CorpusModelQueries.pmiCooccur)
    p should include("TakeOrderedAndProject")
    p should include("BroadcastNestedLoopJoin") // the 1-row T/P scalar frame
    p should not include "CartesianProduct"
  }

  test("llm_hybrid_rrf: both top lists bound by TakeOrdered; fusion never expands") {
    // The BM25 side must reach its 100-row list through per-partition
    // top-k (TakeOrderedAndProject), never a global sort of the scored
    // corpus; the dense side is one broadcast query vector against the
    // scan; the fusion join runs on two constant-size lists.
    val p = plan(LlmQueries.hybridRrf)
    p should include("TakeOrderedAndProject")
    p should not include "CartesianProduct"
    // the only single-partition exchanges allowed are over the bounded
    // 100-row lists (rank assignment) and 1-row scalar frames
    "Exchange SinglePartition".r.findAllIn(p).size should be <= 2
  }

  test("llm_silhouette: seeds broadcast; one shuffle for the per-vector fold") {
    // 8 seeds meet the corpus through a broadcast, the two-smallest fold
    // is ONE hash shuffle by vec_id (bounded 8-struct sort per key), and
    // the rollup output is |clusters| rows — no corpus-sized sort anywhere.
    val p = plan(CorpusModelQueries.silhouette)
    p should include("BroadcastNestedLoopJoin") // the 8-row seed frame
    p should not include "CartesianProduct"
    // the bounded 8-struct fold (sort_array lives in the aggregate's
    // result expressions, so only collect_list prints)
    p should include("collect_list")
    "Exchange hashpartitioning\\(vec_id".r.findAllIn(p).size shouldBe 1
  }

  test("j15_asof_nearest: both directional carries share one key exchange") {
    // The backward and forward windows both hash-partition on user_id:
    // the plan must shuffle the union frame ONCE (plus the final ORDER
    // BY's range exchange), with zero pair expansion.
    val p = plan(AnalyticsQueries.j15AsofNearest)
    "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size shouldBe 1
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    p should not include "SortMergeJoin" // no join at all — pure windows
  }

  test("MOR read: delete anti-join broadcasts the key tuples, never nested-loops") {
    import spark.implicits._
    val root = graft.Scratch.dir("graft_plan_mor") + "/t"
    import graft.mutation.VersionedTable
    VersionedTable.create(spark, root,
      (0L to 2000L).map(i => (i, i * 7)).toDF("id", "v"))
    VersionedTable.morDelete(spark, root, Seq("id"),
      _.where(org.apache.spark.sql.functions.col("id") % 3 === 0))
    val p = VersionedTable.read(spark, root)
      .queryExecution.executedPlan.toString
    // equality deletes are key-tuple-sized — the anti-join build side
    // must broadcast, and the probe side must stay a plain parquet scan
    p should include("BroadcastHashJoin")
    p should include("LeftAnti")
    p should not include "BroadcastNestedLoopJoin"
    p should not include "SortMergeJoin"
    // a clean table's read plan carries NO join at all
    val root2 = graft.Scratch.dir("graft_plan_mor2") + "/t"
    VersionedTable.create(spark, root2, (0L to 10L).toDF("id"))
    VersionedTable.read(spark, root2)
      .queryExecution.executedPlan.toString should not include "Join"
  }

  test("o42/o43/llm_edit_distance: pair stages are key-co-located equi-joins; TWAP never joins") {
    // Theil–Sen (round 19): the pairwise stage is fused into ONE bounded
    // aggregation (first-64 capture + in-place pair loop + stored-element
    // median) — the plan must be aggregate-only: no join, no window, no
    // pair materialization of any kind
    val p42 = plan(AnalyticsQueries.o42TheilSen)
    p42 should not include "Join"
    p42 should not include "Window"
    p42 should include("ObjectHashAggregate")
    // TWAP is windows + one aggregate — no join of any kind
    val p43 = plan(AnalyticsQueries.o43TimeWeightedAvg)
    p43 should not include "Join"
    // edit-distance candidates come from the (lang, pfx) block equi-join
    // materialized BEHIND a localCheckpoint fence, so the final plan is
    // the threshold-levenshtein filter over the checkpointed candidate
    // scan — the DP can never slide into a join residual ahead of the
    // cheap gates (measured 42 s vs ~2 s at the extent decade)
    val pEd = plan(LlmQueries.editDistanceDedup)
    pEd should not include "BroadcastNestedLoopJoin"
    pEd should not include "CartesianProduct"
    pEd should not include "Join" // the fence: verify runs post-candidates
    pEd should include("levenshtein")
    pEd should include("ExistingRDD")
  }

  test("llm_word_kl_by_source: one corpus explode; totals reduce from counts") {
    val p = plan(LlmQueries.wordKlBySource)
    // the (source, word) count frame is localCheckpoint-ed: the corpus
    // explode runs ONCE at checkpoint time and the downstream plan (word
    // totals, source totals, the KL join) must contain NO Generate at all —
    // re-deriving the explode per reference would scan the corpus 4×
    p should not include "Generate"
    p should not include "CartesianProduct"
  }

  test("j20: grid kNN is an equi-join plus per-probe window — no nested loop") {
    val p = plan(BehaviorQueries.j20KnnJoin)
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
    p should include("row_number")
  }

  test("llm_tfidf_terms: ONE corpus explode (checkpointed vocab frame); two-phase top-k") {
    val p = plan(LlmQueries.tfidfTerms)
    // tf and df both fan out from the checkpointed (source, term)
    // aggregate: the explode ran ONCE at checkpoint time, so the
    // downstream plan must contain NO Generate at all — a Generate here
    // would mean a branch re-derived the corpus explode
    p should not include "Generate"
    // two ranking phases: per-(source, salt) then per-source survivors
    "row_number".r.findAllIn(p).size should be >= 2
  }

  test("o49: concordance runs on the broadcast value-domain frame") {
    val p = plan(RobustStatsQueries.o49KendallTau)
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
  }

  test("o51: the x32 replica explode partial-aggregates map-side") {
    val p = plan(RobustStatsQueries.o51BootstrapCi)
    p should include("Generate") // the sequence explode
    p should include("partial_sum")
    p should not include "CartesianProduct"
  }

  test("o53: sketch build is windowed min-k; pair stages never pair-expand") {
    val p = plan(RobustStatsQueries.o53KmvSetOps)
    "row_number".r.findAllIn(p).size should be >= 2 // salted + final phase
    p should not include "CartesianProduct"
  }

  test("o54: resampling is union + two windows — no per-grid-point join") {
    val p = plan(RobustStatsQueries.o54ResampleInterp)
    p should include("Union")
    p should not include "SortMergeJoin"
    p should not include "BroadcastHashJoin"
  }

  test("o60: the gram expansion is ROW-LOCAL — no join anywhere in the plan") {
    val p = plan(RobustStatsQueries.o60GramMatrix)
    // round 19: the pair expansion is a fused partition kernel — the plan
    // carries the MapPartitions node and NO Generate (no 2080-row-per-
    // vector explode survives) and NO join (a join would mean a corpus
    // self-join)
    p should include("MapPartitions")
    p should not include "Generate"
    p should not include "Join"
    // each partition emits <= 2080 partial rows before the only shuffle
    p should include("HashAggregate")
  }

  test("llm_jw_linkage: blocked candidates via equi-join, never nested-loop") {
    val p = plan(LlmQueries.jwLinkage)
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
    // the native expression runs inside the joined projection
    p.toLowerCase should include("jaro_winkler")
  }

  test("o66: global Spearman ranks via prefix sums — the fact frame never single-partitions") {
    // average ranks come from the two-level prefix-sum device on each
    // VALUE DOMAIN: the only SinglePartition exchanges allowed are the
    // two domain-bounded offset windows and the final 1-row aggregate —
    // a corpus-sized rank window here would be the 100× killer
    val p = plan(RobustStatsQueries.o66Spearman)
    p should not include "CartesianProduct"
    p should not include "Generate"
    "Exchange SinglePartition".r.findAllIn(p).size should be <= 3
  }

  test("o63: Pettitt runs one pair equi-join — the O(n^3) split join never appears") {
    val p = plan(RobustStatsQueries.o63Pettitt)
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
  }

  test("storage wave (a56/a61/a62): version/tag/prune resolution is manifest-only — zero Spark jobs") {
    // The inline `require`s in those queries prove FILES-TOUCHED counts;
    // this gate pins the plan-shape claim the oracle can't see: resolving
    // a timestamp to a version (a56), a tag to a snapshot (a61), and a
    // stat interval to its surviving segments (a62) must read ONLY the
    // _log manifests, driver-side — zero Spark jobs, hence zero data
    // files opened, at ANY table size. Regression-checked by mutation:
    // routing resolveSegments through a data-file read (a count() inside
    // the try block) drives the fence count to 2 and fails the assert.
    import graft.mutation.VersionedTable
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    val root = graft.Scratch.dir("graft_plan_resolve") + "/t"
    val df = (0L until 600L).map(i => (i, i % 6)).toDF("id", "ym")
    val (_, nSegs) = VersionedTable.createPartitioned(spark, root, df, "ym")
    nSegs shouldBe 6
    VersionedTable.tag(spark, root, "gold", 0L)
    // every job started while the resolution group is set is recorded by
    // GROUP — immune to straggler events from the setup writes above
    // (the async bus can deliver those after the listener attaches)
    val groups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = {
        groups.add(Option(s.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("")); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup("graft_resolve_gate", "must be jobless")
      val opened = VersionedTable.resolveSegments(
        spark, root, "ym", 3.0, Double.MaxValue)
      opened.length shouldBe 3 // months 3..5 — the stats really pruned
      VersionedTable.versionAsOf(spark, root,
        System.currentTimeMillis() + 3600000L) shouldBe 0L
      VersionedTable.tags(spark, root) shouldBe Map("gold" -> 0L)
      spark.sparkContext.setJobGroup("graft_resolve_fence", "bus fence")
      // FIFO fence: the listener bus delivers in order, so once the
      // fence job's event lands, every event the resolutions could have
      // produced has landed too
      spark.range(1).count()
      val deadline = System.currentTimeMillis() + 30000L
      while (!groups.contains("graft_resolve_fence") &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      withClue("manifest resolution launched Spark jobs (data-file reads)")(
        groups.contains("graft_resolve_gate") shouldBe false)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("s37: the occupancy-skew probe column-prunes to `cell` — codes/vectors never read") {
    // The retrain trigger (CorpusModelQueries.indexRetrain's skewOf) is a
    // |cells|-histogram off the INDEX table: its scan must read the cell
    // column alone — pulling the PQ code arrays (or, worse, joining back
    // to the embeddings) would make the maintenance probe corpus-sized.
    // Mutation-verified (round 17): aggregating max(codes[0]) instead of
    // the count puts `codes` back in ReadSchema and fails the gate.
    import graft.mutation.VersionedTable
    import spark.implicits._
    val root = graft.Scratch.dir("graft_plan_s37probe") + "/idx"
    val idx = (0L until 200L).map(i => (i, i % 7, Seq.fill(8)(i % 5)))
      .toDF("vec_id", "cell", "codes")
    VersionedTable.create(spark, root, idx)
    val probe = VersionedTable.read(spark, root)
      .groupBy("cell").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("c"))
    // string-audit the plan: AQE wraps the shuffling probe, so the scan
    // node is not reachable by collect() on the un-executed plan tree
    val p = probe.queryExecution.executedPlan.toString
    withClue(p) {
      p should include("ReadSchema: struct<cell:")
      p should not include "codes"
      p should not include "vec_id"
    }
  }

  test("streaming wave (s31–s33): stateful shapes — symmetric join with both watermarks; watermarked agg") {
    // s33's inline require gates this at Verify time; this is the
    // build-time regression armor. A stream-stream interval join MUST
    // plan as StreamingSymmetricHashJoin with an EventTimeWatermark on
    // EACH side (one lost to a column rename ⇒ unbounded state that
    // still passes a drained-stream oracle), and the s31/s32 family's
    // windowed aggregate must carry stateful save + watermark.
    // Mutation-verified (round 17): dropping the right-side withWatermark
    // fails the gate (the interval join becomes unplannable as a
    // watermarked stream-stream join).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, expr, window}
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def explainOf(q: org.apache.spark.sql.streaming.StreamingQuery): String = {
      val bos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(bos, true, "UTF-8"))(q.explain())
      bos.toString("UTF-8")
    }
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(base.getTime + m * 60000L)
    // stream-stream interval join (the s33 shape)
    val l = MemoryStream[(Long, java.sql.Timestamp)]
    val r = MemoryStream[(Long, java.sql.Timestamp)]
    l.addData((1L, ts(0)), (2L, ts(1)))
    r.addData((1L, ts(1)), (2L, ts(5)))
    val left = l.toDF.toDF("k", "lts").withWatermark("lts", "10 minutes")
    val right = r.toDF.toDF("k2", "rts").withWatermark("rts", "10 minutes")
    val joined = left.join(right,
      expr("k = k2 AND rts >= lts AND rts <= lts + INTERVAL 2 MINUTES"))
    val q = joined.writeStream.format("noop")
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination(120000L) shouldBe true
      val p = q.recentProgress.lastOption
      p should not be empty
      val plan = explainOf(q)
      plan should include("StreamingSymmetricHashJoin")
      "EventTimeWatermark".r.findAllIn(plan).size should be >= 2
    } finally q.stop()
    // watermarked windowed aggregate (the s31/s32 shape)
    val a = MemoryStream[(Long, java.sql.Timestamp)]
    a.addData((1L, ts(0)), (1L, ts(1)), (2L, ts(2)))
    val agg = a.toDF.toDF("k", "ats").withWatermark("ats", "10 minutes")
      .groupBy(window(col("ats"), "5 minutes"), col("k")).count()
    val q2 = agg.writeStream.format("noop").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    try {
      q2.awaitTermination(120000L) shouldBe true
      val plan2 = explainOf(q2)
      plan2 should include("StateStoreSave")
      plan2 should include("EventTimeWatermark")
    } finally q2.stop()
  }

  test("no query plan contains a CartesianProduct or driver collect") {
    SparkEntryPlans.all.foreach { case (name, p) =>
      withClue(name)(p should not include "CartesianProduct")
    }
  }

  test("no partition-less window over an unaggregated data-sized frame") {
    // A Window with no PARTITION BY funnels its whole input through ONE
    // task (Spark's own WindowExec warning) — acceptable only on frames
    // already bounded by an aggregation (domain/offset/limit-sized),
    // never on a data-sized base frame, where it is the 100× killer.
    // The gate walks every declared query's optimized logical plan: each
    // partition-less Window's input subtree must pass through an
    // Aggregate / Distinct / limit (or bottom out in a local or
    // deliberately tiny relation) on EVERY path to a leaf (round-19
    // verdict item: this gate did not exist; the warnings in Verify's log
    // all sit on bounded frames, which this proves and keeps proven).
    import org.apache.spark.sql.catalyst.plans.logical._
    def bounded(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => true
      case _: Distinct => true
      case _: GlobalLimit => true
      case _: LocalRelation => true
      case _: OneRowRelation => true
      case r: Range => r.numElements.isValidInt && r.numElements.toInt <= 4096
      case l if l.children.isEmpty => false // a data-sized relation leaf
      case other => other.children.forall(bounded)
    }
    // frames whose bound a checkpoint's LogicalRDD hides from the walk —
    // each entry names the proof of boundedness
    val allowlisted = Map(
      "llm_retrieval_ndcg" -> ("gold = dense top-10 (<= 10 rows by the " +
        "d_rank <= 10 filter on bruteForceTopK's bounded rank), " +
        "localCheckpointed for its three consumers"))
    SparkEntryPlans.qe.foreach { case (name, q) =>
      if (!allowlisted.contains(name))
        q.optimizedPlan.foreach {
          case w: Window if w.partitionSpec.isEmpty =>
            withClue(s"$name: partition-less Window over an unbounded frame:\n$w\n")(
              bounded(w.child) shouldBe true)
          case _ => ()
        }
    }
  }

  private object SparkEntryPlans {
    lazy val qe: Seq[(String, org.apache.spark.sql.execution.QueryExecution)] =
      (CoreQueries.all ++ LlmQueries.all ++ AnalyticsQueries.all ++ StarQueries.all ++
        CorpusModelQueries.all ++ BehaviorQueries.all ++ HistoryQueries.all ++
        RobustStatsQueries.all)
        .map(r => r.name -> r.build(spark, sfDir).queryExecution)
    lazy val all: Seq[(String, String)] =
      qe.map { case (n, q) => n -> q.executedPlan.toString }
  }
}
