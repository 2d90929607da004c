package graft

import graft.model.DpView
import graft.query.Planner
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Plan-shape regression net over the gate queries, using the same
  * fingerprint walk as `Explain --plans-md`: asserts the properties
  * that make these plans right at 100 TB — filter pushdown reaching the
  * parquet scan, bounded shuffle counts, no cartesian products or
  * nested-loop joins outside the deliberate broadcast-centroid/query
  * designs, hash (not sort) aggregation on the hot paths. A refactor
  * that silently loses one of these fails here, not in a 100× run.
  */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def fp(name: String, sf: String = sf): (Explain.Fingerprint, String) = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf)
    df.count() // AQE-final plan
    val plan = df.queryExecution.explainString(FormattedMode)
    (Explain.fingerprint(df.queryExecution.executedPlan), plan)
  }

  test("fingerprint counts what ran: final plans only, each cached plan once") {
    // a materialized join of two materialized aggregates, one of them
    // read twice: formatted explain prints every cached plan at each
    // scan site, final and initial, and resumes the outer tree after
    // each nested initial section
    def agg(m: Int) = spark.range(0, 1000, 1, 4).selectExpr(s"id % $m AS k")
      .groupBy("k").count()
    val a = agg(7).persist()
    val b = agg(5).withColumnRenamed("count", "n").persist()
    val out = a.join(b, "k").join(a.withColumnRenamed("count", "c2"), "k")
      .persist()
    try {
      Seq(a, b, out).foreach(_.count())
      val plan = out.queryExecution.explainString(FormattedMode)
      assert(plan.contains("== Initial Plan =="), plan)
      val f = Explain.fingerprint(out.queryExecution.executedPlan)
      // one exchange between each aggregate's partial and final halves
      assert(f.exchanges === 2, plan)
      assert(f.hashAggregates === 4, plan)
      assert(f.broadcastJoins + f.sortMergeJoins === 2, plan)
    } finally Seq(out, b, a).foreach(_.unpersist(true))
  }

  test("downsample scan: pushdown, no joins, hash-agg only, few shuffles") {
    val (f, plan) = fp("q_ds_avg")
    assert(f.pushedFilters, "ts/metric bounds must reach the parquet scan")
    // below Planner.SmallInputBytes the plan keeps one partition
    assert(f.exchanges === 0, s"q_ds_avg shuffles: ${f.exchanges}\n$plan")
    assert(f.sortMergeJoins == 0 && f.nestedLoopJoins == 0)
    assert(f.sortAggregates == 0, "downsample must stay hash-aggregated")
  }

  test("downsample scan over an input above the small-input bound: parallel, few shuffles") {
    val large = sf.replace("sf0.001", "sf0.1")
    assert(Planner.estimatedBytes(DpView.dp(spark, large)) > Planner.SmallInputBytes)
    val (f, plan) = fp("q_ds_avg", large)
    assert(f.pushedFilters, "ts/metric bounds must reach the parquet scan")
    assert(f.exchanges >= 1 && f.exchanges <= 3, s"q_ds_avg shuffles: ${f.exchanges}\n$plan")
    assert(f.sortMergeJoins == 0 && f.nestedLoopJoins == 0)
    assert(f.sortAggregates == 0, "downsample must stay hash-aggregated")
  }

  test("cross-series aggregation stays hash-aggregated with pushdown") {
    val (f, _) = fp("q_agg_sum")
    assert(f.pushedFilters)
    assert(f.sortAggregates == 0)
    assert(f.exchanges <= 4)
  }

  test("e2e curation: composed plan carries no cross-stage bloat") {
    // the end-to-end composition (filter chain → LSH dedup → decontam →
    // mixture → pack) exists exactly to price cross-operator plan bloat:
    // a refactor that loses the stage-boundary persists (the r8
    // asymmetric-self-join lesson — each downstream reference re-runs
    // the whole upstream chain) shows up here as a budget breach before
    // it shows up as an sf1 regression. Measured: 9 real shuffles with
    // the two persists. The fingerprint prices each cached relation
    // once and exchange reuse zero.
    val (f, plan) = fp("pl_e2e_curation")
    assert(f.nestedLoopJoins == 0 && !plan.contains("CartesianProduct"),
      s"a curation stage degenerated\n$plan")
    assert(f.sortAggregates == 0, s"lost hash aggregation\n$plan")
    assert(f.exchanges <= 14,
      s"composed curation shuffles: ${f.exchanges} — cross-stage plan bloat (budget 14)")
  }

  test("near-dup blocked join: equi-join only — no cartesian, no BNLJ") {
    val (f, plan) = fp("pl_neardup_cos")
    assert(f.nestedLoopJoins == 0,
      s"blocked triangle join degenerated to a cartesian/BNLJ\n$plan")
  }

  test("exact dedup is one hash exchange + window, no joins") {
    val (f, _) = fp("pl_dedup_exact")
    assert(f.exchanges <= 2)
    assert(f.broadcastJoins + f.sortMergeJoins + f.nestedLoopJoins == 0)
  }

  test("per-row operators never shuffle beyond the output sort") {
    Seq("pl_lang_id", "pl_redact", "pl_fingerprint", "pl_text_stats",
      "pl_quality_lr", "pl_repetition", "pl_mixture", "pl_split",
      "pl_sample", "pl_embed_prep", "pl_mm_meta", "pl_mm_frames").foreach { q =>
      val (f, plan) = fp(q)
      assert(f.exchanges <= 1, s"$q should be per-row (+output sort): $plan")
      assert(f.broadcastJoins + f.sortMergeJoins + f.nestedLoopJoins == 0,
        s"$q grew a join")
    }
  }

  test("textrank: no cartesian/BNLJ across the unrolled PageRank rounds") {
    val (f, plan) = fp("pl_textrank")
    assert(f.nestedLoopJoins == 0 && !plan.contains("CartesianProduct"),
      s"PageRank round degenerated\n$plan")
    assert(f.sortAggregates == 0, "contribution sums must stay hash-agg")
  }

  test("embed outlier: aggregate + per-row scoring, no join anywhere") {
    val (f, plan) = fp("pl_embed_outlier")
    assert(f.broadcastJoins + f.sortMergeJoins + f.nestedLoopJoins == 0,
      s"centroid must be a literal, not a join\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"bottom-k must be TakeOrdered, not a global sort\n$plan")
  }

  test("source overlap: token self-join is equi, set sizes broadcast") {
    val (f, plan) = fp("pl_source_overlap")
    assert(f.nestedLoopJoins == 0 && !plan.contains("CartesianProduct"),
      s"vocab self-join degenerated\n$plan")
    assert(f.broadcastJoins >= 2, s"size frames must broadcast\n$plan")
  }

  test("seasonal forecast and sax: one keyed exchange each, pushdown intact") {
    Seq("q_hw_forecast", "q_sax").foreach { q =>
      val (f, plan) = fp(q)
      assert(f.pushedFilters, s"$q: ts/metric bounds must reach the scan")
      assert(f.broadcastJoins + f.sortMergeJoins + f.nestedLoopJoins == 0,
        s"$q grew a join\n$plan")
    }
  }

  test("decontamination broadcasts the eval side (train never shuffles first)") {
    val (f, plan) = fp("pl_decontam")
    assert(f.pushedFilters)
    assert(f.sortMergeJoins == 0,
      s"eval grams must broadcast, not sort-merge\n$plan")
  }

  test("as-of join: one data shuffle, window-only — no join operator at all") {
    val (f, plan) = fp("q_asof_join")
    assert(f.broadcastJoins + f.sortMergeJoins + f.nestedLoopJoins == 0,
      s"as-of must stay union+window, not become a range join\n$plan")
    // one hash exchange for the keyed window + the output range sort
    assert(f.exchanges <= 2, s"q_asof_join shuffles: ${f.exchanges}\n$plan")
  }

  test("interval join: equi-join on (key, bucket) — no cartesian, no BNLJ") {
    val (f, plan) = fp("q_interval_join")
    assert(f.nestedLoopJoins == 0 && !plan.contains("CartesianProduct"),
      s"bucketed interval join degenerated to a range scan\n$plan")
  }

  test("bpe encode: broadcast-merge map, no shuffle beyond the output sort") {
    val (f, plan) = fp("pl_bpe")
    assert(f.broadcastJoins + f.sortMergeJoins + f.nestedLoopJoins == 0,
      s"pl_bpe grew a join\n$plan")
    assert(f.exchanges <= 1, s"encode is per-row (+output sort): $plan")
  }

  test("bm25: query terms broadcast; no cartesian anywhere") {
    val (f, plan) = fp("pl_bm25")
    assert(!plan.contains("CartesianProduct"), s"bm25 cartesian\n$plan")
    assert(f.broadcastJoins >= 1,
      s"query-term join must be the broadcast side\n$plan")
    assert(f.nestedLoopJoins == 0, s"bm25 grew a BNLJ\n$plan")
  }

  test("winnowing: one doc-keyed window shuffle, no joins") {
    val (f, plan) = fp("pl_winnow")
    assert(f.broadcastJoins + f.sortMergeJoins + f.nestedLoopJoins == 0,
      s"winnow grew a join\n$plan")
    // window exchange + distinct exchange + output sort
    assert(f.exchanges <= 3, s"pl_winnow shuffles: ${f.exchanges}\n$plan")
  }

  test("ewma: single keyed window, no joins, pushdown intact") {
    val (f, plan) = fp("q_ewma")
    assert(f.pushedFilters, "ts/metric bounds must reach the scan")
    assert(f.broadcastJoins + f.sortMergeJoins + f.nestedLoopJoins == 0,
      s"ewma grew a join\n$plan")
  }

  test("IVF search: centroid joins broadcast, candidate work never " +
    "query-cross-corpus") {
    val (f, plan) = fp("pl_knn_ivf")
    // the probe side may broadcast-nested-loop against the (tiny)
    // centroid table; a SortMergeJoin on cid for candidates is
    // acceptable — what must never appear is an unpartitioned cartesian
    // over the corpus, or a SECOND nested-loop (corpus assignment is a
    // per-row NearestCentroidCos expression, not a join)
    assert(!plan.contains("CartesianProduct"), s"corpus cartesian\n$plan")
    assert(f.nestedLoopJoins <= 1,
      s"corpus-side assignment regressed to a join\n$plan")
  }

  test("mad: pushdown, broadcast-only joins back to the deduped frame") {
    val (f, plan) = fp("q_mad")
    assert(f.pushedFilters, "ts/metric bounds must reach the scan")
    assert(f.sortMergeJoins == 0 && f.nestedLoopJoins == 0,
      s"median/MAD frames must broadcast, not shuffle-join\n$plan")
  }

  test("acf: bucketed self-join is equi, moments stay hash-aggregated") {
    val (f, plan) = fp("q_acf")
    assert(f.pushedFilters)
    assert(f.nestedLoopJoins == 0 && !plan.contains("CartesianProduct"),
      s"lag pairing degenerated\n$plan")
    assert(f.sortAggregates == 0, "moment sums must stay hash-agg")
  }

  test("linear fill: spine join equi, one window pass for both neighbors") {
    val (f, plan) = fp("q_fill_linear")
    assert(f.pushedFilters)
    assert(f.nestedLoopJoins == 0 && !plan.contains("CartesianProduct"),
      s"spine join degenerated\n$plan")
    // the IGNORE-NULLS neighbor columns may split across chained Window
    // execs, but they must all ride ONE (skey, bucket) sort — the only
    // other Sort in the plan is the output presentation sort
    assert("(?m)^\\s*(?:\\+- |:- )?Sort ".r.findAllIn(plan).size <= 2,
      s"neighbor windows re-sorted between passes\n$plan")
  }

  test("grid quantiles: no joins; sketch agg + cumsum window + readout") {
    val (f, plan) = fp("pl_len_quantiles")
    assert(f.broadcastJoins + f.sortMergeJoins + f.nestedLoopJoins == 0,
      s"sketch readout grew a join\n$plan")
    assert(f.exchanges <= 4, s"pl_len_quantiles shuffles: ${f.exchanges}\n$plan")
  }

  test("url dedup: both shuffles keyed by canon, no cartesian") {
    val (f, plan) = fp("pl_dedup_url")
    assert(f.nestedLoopJoins == 0 && !plan.contains("CartesianProduct"),
      s"canon-key join degenerated\n$plan")
  }

  test("auto-radius simhash: equi candidate join, hash-agg, bounded shuffles") {
    // the probe (two collision-mass jobs) runs eagerly during
    // construction; the RETURNED plan is the candidate chain on the
    // persisted signature relation — the part that must stay an
    // equi-join on (c, v) with the bucket cap as a semi-join, never a
    // cartesian over signatures
    val (f, plan) = fp("pl_dedup_simhash_auto")
    assert(f.nestedLoopJoins == 0 && !plan.contains("CartesianProduct"),
      s"candidate join degenerated\n$plan")
    assert(f.sortAggregates == 0, "bucket counts must stay hash-agg")
    // measured: 7 before runtime (bucket-cap agg pair, cap semi-join,
    // candidate self-join pair, pair distinct, output sort); AQE's final
    // plan at sf0.001 broadcasts the semi-join and the self-join: 4
    assert(f.exchanges <= 7, s"simhash_auto shuffles: ${f.exchanges}\n$plan")
  }

  test("fixed-batch incremental dedup: probe joins equi, no corpus cartesian") {
    val (f, plan) = fp("pl_dedup_incr_fixed")
    assert(f.nestedLoopJoins == 0 && !plan.contains("CartesianProduct"),
      s"index probe degenerated\n$plan")
    assert(f.sortAggregates == 0, "batch signatures must stay hash-agg")
  }

  test("stupid backoff: count joins all equi on gram keys, hash-agg") {
    val (f, plan) = fp("pl_sbo_nll")
    assert(f.nestedLoopJoins <= 1, // the 1-row N·V scalar frame broadcast
      s"count join degenerated\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian\n$plan")
    assert(f.sortAggregates == 0, "gram counts must stay hash-agg")
  }

  test("ANN re-rank and recall: candidate-bounded, no corpus cartesian") {
    Seq("pl_knn_rerank", "pl_ann_recall").foreach { q =>
      val (_, plan) = fp(q)
      assert(!plan.contains("CartesianProduct"), s"$q corpus cartesian\n$plan")
    }
  }

  test("cluster stats: assignment is an expression, centroids broadcast") {
    val (f, plan) = fp("pl_cluster_stats")
    assert(!plan.contains("CartesianProduct"), s"corpus cartesian\n$plan")
    assert(f.sortMergeJoins == 0,
      s"k-row centroid frame must broadcast, not shuffle-join\n$plan")
    assert(f.sortAggregates == 0, "inertia sums must stay hash-agg")
  }

  test("series outlier: two-level agg, cohort frame broadcast, pushdown") {
    val (f, plan) = fp("q_series_outlier")
    assert(f.pushedFilters, "ts/metric bounds must reach the scan")
    assert(f.sortMergeJoins == 0,
      s"1-row cohort stats must broadcast\n$plan")
    assert(f.sortAggregates == 0)
  }

  test("OLS fit: single moment aggregation, no joins, pushdown") {
    val (f, plan) = fp("q_ols_fit")
    assert(f.pushedFilters, "ts/metric bounds must reach the scan")
    assert(f.broadcastJoins + f.sortMergeJoins + f.nestedLoopJoins == 0,
      s"six-sum fit must be one aggregation chain, not a join\n$plan")
    assert(f.sortAggregates == 0, "moment sums must stay hash-agg")
  }

  test("cross-metric correlation: bucket frames join equi on (tkey, t)") {
    Seq("q_xcorr", "q_spearman").foreach { q =>
      val (f, plan) = fp(q)
      assert(f.pushedFilters, s"$q: metric/ts bounds must reach the scan")
      assert(f.nestedLoopJoins == 0 && !plan.contains("CartesianProduct"),
        s"$q entity join degenerated\n$plan")
      assert(f.sortAggregates == 0, s"$q moment sums must stay hash-agg")
    }
  }

  test("STL: one 5-bucket window + phase agg; seasonal joins back equi") {
    val (f, plan) = fp("q_stl")
    assert(f.pushedFilters)
    assert(f.nestedLoopJoins == 0 && !plan.contains("CartesianProduct"),
      s"phase join degenerated\n$plan")
  }

  test("changepoint: prefix-sum windows + rank, no joins at all") {
    val (f, plan) = fp("q_changepoint")
    assert(f.pushedFilters)
    assert(f.broadcastJoins + f.sortMergeJoins + f.nestedLoopJoins == 0,
      s"split scoring must be windows over one frame, not a join\n$plan")
  }

  test("seasonal-naive backtest: shifted self-joins stay equi-keyed") {
    val (f, plan) = fp("q_snaive_eval")
    assert(f.pushedFilters)
    assert(f.nestedLoopJoins == 0 && !plan.contains("CartesianProduct"),
      s"forecast join degenerated\n$plan")
    assert(f.sortAggregates == 0, "sMAPE term sums must stay hash-agg")
  }

  test("stratified sample: one rank window per stratum, no joins") {
    val (f, plan) = fp("pl_sample_strat")
    assert(f.broadcastJoins + f.sortMergeJoins + f.nestedLoopJoins == 0,
      s"quota filter must ride the rank window, not a count join\n$plan")
    assert(f.exchanges <= 2, s"pl_sample_strat shuffles: ${f.exchanges}\n$plan")
  }

  test("z-order audit: per-row curve key + one aggregation, no joins") {
    val (f, plan) = fp("pl_zorder")
    assert(f.broadcastJoins + f.sortMergeJoins + f.nestedLoopJoins == 0,
      s"Morton key must be an expression, not a join\n$plan")
  }

  test("budget water-fill: one corpus pass; the fill runs on source rows") {
    val (f, plan) = fp("pl_budget_alloc")
    assert(f.nestedLoopJoins <= 1, // the 1-row λ/remainder params broadcast
      s"water-fill grew an unbounded join\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian\n$plan")
    val (f2, plan2) = fp("pl_budget_sample")
    assert(f2.nestedLoopJoins <= 1, s"apply-side grew a BNLJ\n$plan2")
    assert(f2.sortMergeJoins == 0,
      s"per-source allocations must broadcast into the apply join\n$plan2")
  }

  test("pca: moment aggregation hash-aggregated; projection is per-row") {
    val (f, plan) = fp("pl_pca")
    assert(f.sortAggregates == 0, s"moment sums must stay hash-agg\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian\n$plan")
  }

  test("standardize: moment frame broadcasts back, no shuffle-join") {
    val (f, plan) = fp("pl_emb_standardize")
    assert(f.sortMergeJoins == 0,
      s"64-row moment frame must broadcast\n$plan")
    assert(f.sortAggregates == 0)
  }

  test("matrix profile: subsequence self-join equi on skey, pushdown") {
    val (f, plan) = fp("q_matrix_profile")
    assert(f.pushedFilters)
    assert(f.nestedLoopJoins == 0 && !plan.contains("CartesianProduct"),
      s"profile pair join degenerated\n$plan")
  }

  test("value drift: two hash aggs + broadcast totals, no SMJ") {
    val (f, plan) = fp("q_value_drift")
    assert(f.pushedFilters)
    assert(f.sortMergeJoins == 0,
      s"per-series totals must broadcast\n$plan")
    assert(f.sortAggregates == 0)
  }

  test("dtw: one skey-keyed shuffle into the per-series DP, pushdown") {
    val (f, plan) = fp("q_dtw")
    assert(f.pushedFilters, "ts/metric bounds must reach the scan")
    assert(f.broadcastJoins + f.sortMergeJoins + f.nestedLoopJoins == 0,
      s"profile DP must ride the bucket aggregation, not a join\n$plan")
  }

  test("metric ratio: bucket frames left-join equi on (tkey, t)") {
    val (f, plan) = fp("q_metric_ratio")
    assert(f.pushedFilters)
    assert(f.nestedLoopJoins == 0 && !plan.contains("CartesianProduct"),
      s"ratio join degenerated\n$plan")
    assert(f.sortAggregates == 0)
  }

  test("HLL overlap: register joins all equi, estimates hash-aggregated") {
    val (f, plan) = fp("pl_hll_overlap")
    assert(f.nestedLoopJoins == 0 && !plan.contains("CartesianProduct"),
      s"pair-union register merge degenerated to a cartesian\n$plan")
    assert(f.sortAggregates == 0, "register max/harmonic sums must stay hash-agg")
  }

  test("ngram novelty: gram-keyed window + id agg, join-free") {
    val (f, plan) = fp("pl_ngram_novelty")
    assert(f.broadcastJoins + f.sortMergeJoins + f.nestedLoopJoins == 0,
      s"novelty must ride ONE shingle window, not a join\n$plan")
    assert(f.exchanges <= 3, s"novelty shuffles grew: ${f.exchanges}\n$plan")
    assert(f.windows == 1, "exactly one first-occurrence window")
  }

  test("dup inflation: two map-side-combined aggs, text never shuffles") {
    val (f, plan) = fp("pl_dup_inflation")
    assert(f.broadcastJoins + f.sortMergeJoins + f.nestedLoopJoins == 0)
    assert(f.exchanges <= 3, s"inflation shuffles grew: ${f.exchanges}")
    assert(f.sortAggregates == 0)
  }

  test("cross-source leak and fertility: equi-joins only") {
    Seq("pl_cross_source_leak", "pl_tok_fertility").foreach { q =>
      val (f, plan) = fp(q)
      assert(f.nestedLoopJoins == 0 && !plan.contains("CartesianProduct"),
        s"$q degenerated to a cartesian\n$plan")
      assert(f.sortAggregates == 0, s"$q lost hash aggregation")
    }
  }

  // ---- BNLJ bounded-build-side invariant -------------------------------
  // These gates legitimately carry BroadcastNestedLoopJoin nodes — the
  // scalar-subquery shape: a 1-row stat frame / k-row centroid or query
  // block crossed against a big relation. That is fine at 100 TB ONLY
  // while the broadcast side stays data-size-independent. This audit
  // walks every BNLJ in each gate's AQE-final executed plan and fails if
  // a build side stops being provably bounded (a grouping-free aggregate,
  // a literal LocalTableScan, a limit, or compositions thereof) — i.e.
  // if a refactor ever turns one into an unbounded nested loop.

  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.QueryStageExec
  import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
  import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
  import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
  import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
  import org.apache.spark.sql.catalyst.optimizer.BuildLeft

  /** Children, stepping through AQE stage wrappers, exchange reuse and
    * cached-relation leaves so the walk sees the real producing plan.
    */
  private def planKids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      Seq(a.executedPlan) // AQE wrapper is a leaf; the real tree is inside
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case c: InMemoryTableScanExec => Seq(c.relation.cachedPlan)
    case other => other.children
  }

  private def collectBnlj(p: SparkPlan): Seq[BroadcastNestedLoopJoinExec] =
    (p match {
      case b: BroadcastNestedLoopJoinExec => Seq(b)
      case _ => Seq.empty
    }) ++ planKids(p).flatMap(collectBnlj)

  /** A plan is BOUNDED when its row count cannot grow with input data:
    * grouping-free aggregates (exactly 1 row), literal frames, limits,
    * and any composition of bounded inputs (joins/unions of k-row frames
    * stay k-row-class). A scan/leaf that can grow with the corpus is
    * unbounded, and so is anything that only transforms one.
    */
  /** A filter that pins an id column to a literal point/range/list —
    * the "query block" shape (e.g. `vec_id < 10`): ids are dense and
    * unique in the gate tables, so a literal id bound fixes the row
    * count no matter how large the corpus grows.
    */
  private def literallyIdBounded(
      cond: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    conjuncts(cond).exists {
      case LessThan(a: AttributeReference, _: Literal) => a.name.contains("id")
      case LessThanOrEqual(a: AttributeReference, _: Literal) => a.name.contains("id")
      case EqualTo(a: AttributeReference, _: Literal) => a.name.contains("id")
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        a.name.contains("id")
      // modulo subsample (`pmod(id, step) = r`): the IVF centroid frame.
      // Bounded by the SIZING CONTRACT, not structurally — the caller
      // sizes step ∝ √n (Similarity.ivfIndex doc; the constant-step
      // variant was measured quadratic and fixed in r8), so the
      // broadcast stays √n-class, the FAISS coarse-quantizer footprint.
      case EqualTo(Pmod(a: AttributeReference, _: Literal, _), _: Literal) =>
        a.name.contains("id")
      case _ => false
    }
  }

  /** Grouping key SETS whose group count is fixed by CONSTRUCTION, not
    * by data scale — each entry is the exact key-name set of one audited
    * build-side aggregate: cluster/centroid ids (k of them), PQ
    * subspace/code indices (m×k), source×value-grid histograms (source
    * enum × bounded value domain). An aggregate keyed on one of these
    * is compressive no matter what it reads. Every OTHER keyed
    * aggregate must prove boundedness through its CHILD — mere absence
    * of row-identity names is not proof (a doc_id aliased to `d`, or a
    * data-cardinality key like a gram hash, would otherwise slip by).
    */
  private val compressiveKeySets: Set[Set[String]] = Set(
    Set("source"),     // distinct sources (an enum, not corpus rows)
    Set("source", "v") // per-source length-grid histograms (KS/χ²/KL)
  )

  private def boundedRows(p: SparkPlan): Boolean = p match {
    // grouping-free aggregate = exactly 1 row; keyed aggregates are
    // bounded only via the explicit compressive key-set whitelist or a
    // bounded input (one group per input row is the worst case, so a
    // bounded child bounds the aggregate regardless of keys)
    case a: BaseAggregateExec =>
      val keys = a.groupingExpressions
      keys.isEmpty ||
        compressiveKeySets.contains(
          keys.flatMap(g => g.references.map(_.name).toSet + g.name).toSet) ||
        planKids(a).forall(boundedRows)
    case f: org.apache.spark.sql.execution.FilterExec
        if literallyIdBounded(f.condition) => true
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      boundedRows(a.executedPlan)
    case q: QueryStageExec => boundedRows(q.plan)
    case r: ReusedExchangeExec => boundedRows(r.child)
    case c: InMemoryTableScanExec => boundedRows(c.relation.cachedPlan)
    case _ =>
      val n = p.getClass.getSimpleName
      if (n.startsWith("LocalTableScan")) true
      else if (n.contains("Limit") || n.startsWith("TakeOrderedAndProject")) true
      else if (planKids(p).isEmpty) false // file/RDD scan leaves grow with data
      else planKids(p).forall(boundedRows)
  }

  test("every BNLJ build side is a bounded aggregate/literal/limit frame") {
    // the gates PLANS.md records with BNLJ > 0 (the deliberate
    // scalar-subquery / broadcast-block designs). Exemption:
    // pl_ivf_index's BNLJ build side is the RELOADED centroid parquet
    // table — bounded by what ivfIndex wrote (the pmod subsample,
    // audited here via pl_knn_ivf's in-plan twin), but a read-side plan
    // cannot prove that, so the round-trip gate is not in this list.
    val bnljGates = Seq(
      "pl_ann_recall", "pl_bigram_nll", "pl_bootstrap", "pl_budget_alloc",
      "pl_budget_sample", "pl_ccnet_bucket", "pl_chi2", "pl_hard_neg",
      "pl_kl_div", "pl_kn_nll", "pl_knn", "pl_knn_ivf", "pl_knn_ivfpq",
      "pl_knn_rerank", "pl_knn_sq8", "pl_ks_test", "pl_rand_index",
      "pl_sbo_nll", "pl_silhouette", "q_series_outlier")
    var audited = 0
    bnljGates.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.count() // AQE-final plan
      // a gate may legitimately lose its BNLJ to a plan improvement —
      // only the ones present get audited
      collectBnlj(df.queryExecution.executedPlan).foreach { b =>
        audited += 1
        val build = if (b.buildSide == BuildLeft) b.left else b.right
        assert(boundedRows(build),
          s"$name: BNLJ build side is NOT bounded — this nested loop " +
            s"would be corpus-sized at scale\n${build.treeString}")
      }
    }
    // non-vacuity guard: the walker must actually SEE the nested loops
    // (if AQE ever wraps them in a node planKids doesn't step through,
    // this fails loudly instead of green-lighting an unaudited plan)
    assert(audited >= 10,
      s"only $audited BNLJ nodes found across ${bnljGates.size} gates — " +
        "the plan walker is missing nodes")
  }

  test("indexed first/last: rank-ordered agg is hash, result identical") {
    // r17: with a maintained series index the planner orders first/last
    // by the index's numeric skey rank — the min_by/max_by buffer turns
    // mutable and the cross-series aggregation becomes a map-side
    // combinable HashAggregate. The base gates (no index) keep the
    // string-ordered SortAggregate; results must match exactly.
    Seq(("q_agg_first", "q_agg_first_indexed", "min_by"),
        ("q_agg_last", "q_agg_last_indexed", "max_by")).foreach {
      case (base, idx, fn) =>
        val (_, planIdx) = fp(idx)
        // every detail block applying min_by/max_by must be a
        // HashAggregate; the SortAggregates still in the plan belong to
        // the index DERIVATION (first(tags) — maintained at deployment)
        val sortAggBlocks = planIdx.split("\n\n")
          .filter(b => b.contains("SortAggregate") && b.contains(s"$fn("))
        assert(sortAggBlocks.isEmpty,
          s"$idx: $fn still sort-aggregated\n${sortAggBlocks.mkString("\n")}")
        val (fBase, planBase) = fp(base)
        assert(planBase.split("\n\n").exists(b =>
          b.contains("SortAggregate") && b.contains(s"$fn(")),
          s"$base: expected the string-ordered SortAggregate baseline")
        assert(fBase.sortAggregates > 0)
        val a = SparkEntry.queries(base)(spark, sf).collect().toSeq
        val b = SparkEntry.queries(idx)(spark, sf).collect().toSeq
        assert(a == b, s"$idx result drifted from $base")
    }
  }
}
