package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SimpleMode

/** Physical-plan regression guards: the plans we tuned for (broadcasts,
  * shared exchanges, map-side top-k, bloom prefilter placement) asserted
  * as properties, so a refactor that silently degrades a plan — an extra
  * shuffle, a lost broadcast, a filter that stops reaching the scan —
  * fails here rather than only showing up as a bench regression. */
class PlanShapeSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf0001)
      .queryExecution.explainString(SimpleMode)

  private def countOf(plan: String, op: String): Int =
    op.r.findAllIn(plan).length

  test("q60 sessionize: windows and aggregation share one hash exchange") {
    val plan = planOf("q60_sessionize")
    // one hashpartitioning exchange on user_id feeds both window passes
    // and the session aggregation; the only other exchange is the output
    // ordering's rangepartitioning
    assert(countOf(plan, "Exchange hashpartitioning") === 1,
      s"expected exactly one hash exchange, got:\n$plan")
    assert(countOf(plan, "Exchange rangepartitioning") === 1,
      s"expected one range exchange (final orderBy), got:\n$plan")
  }

  test("q05 star join: every dimension side broadcasts") {
    val plan = planOf("q05_star_join")
    assert(countOf(plan, "BroadcastHashJoin") === 4,
      s"expected 4 broadcast joins (orders/customer/nation/region), got:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"star join must not sort-merge at this scale:\n$plan")
  }

  test("q64 bloom semi-join: prefilter sits at the fact scan, join broadcasts") {
    val plan = planOf("q64_bloom_semijoin")
    val scanIdx = plan.indexOf("might_contain")
    assert(scanIdx >= 0, s"bloom prefilter missing:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"exact verify must be a broadcast semi join:\n$plan")
  }

  test("top-k queries run as TakeOrderedAndProject (map-side heaps)") {
    for (q <- Seq("q66_token_topk", "q30_cosine_topk")) {
      val plan = planOf(q)
      assert(plan.contains("TakeOrderedAndProject"),
        s"$q should plan orderBy+limit as TakeOrderedAndProject:\n$plan")
    }
  }

  test("q06 date predicate reaches the parquet scan") {
    val plan = planOf("q06_agg_pricing")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"shipdate filter must push into the scan:\n$plan")
  }

  test("q188 eager aggregation: the partial aggregate feeds the join") {
    val extra = spark.experimental.extraOptimizations
    val plan = planOf("q188_eager_agg")
    SparkEntry.queries("q188_eager_agg")(spark, sf0001).count()
    // the rule comes from the session's extensions; the query must not
    // change the optimizer every later query on the session runs
    assert(spark.experimental.extraOptimizations == extra,
      "q188 changed the session's extra optimizer rules")
    // physical shape: a HashAggregate pair (partial+final over orderkey)
    // BELOW the join — the join's left input carries one row per key
    val joinIdx = plan.indexOf("Join")
    assert(joinIdx >= 0, s"expected a join:\n$plan")
    assert(plan.substring(joinIdx).contains("HashAggregate"),
      s"pre-join aggregate missing — EagerMinMaxAggregation didn't fire:\n$plan")
  }

  test("q176 binned range join plans as an equi join, never a nested loop") {
    val plan = planOf("q176_range_bin_join")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"the bin trick must make the range predicate equi-joinable:\n$plan")
    assert(plan.contains("Join") || plan.contains("HashJoin") ||
      plan.contains("SortMergeJoin"), s"expected a join in:\n$plan")
  }

  test("q169 ORC re-read pushes type and value predicates into the scan") {
    val plan = planOf("q169_orc_roundtrip")
    assert(plan.contains("PushedFilters: [IsNotNull(event_type), IsNotNull(value), " +
      "EqualTo(event_type,purchase), GreaterThan(value,100.0)"),
      s"both predicates must reach the ORC scan:\n$plan")
  }

  test("q68 per-group cap: a single shuffle feeds the ranking window") {
    val plan = planOf("q68_per_group_cap")
    assert(countOf(plan, "Exchange hashpartitioning") === 1,
      s"expected one hash exchange (lang), got:\n$plan")
  }

  test("q74 star join: dims broadcast and the date filter reaches the scan") {
    val plan = planOf("q74_local_supplier_volume")
    assert(!plan.contains("SortMergeJoin"),
      s"Q5-shape join must not sort-merge at this scale:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      s"orderdate window must push into the orders scan:\n$plan")
    assert(plan.contains("EqualTo(r_name,ASIA)"),
      s"region filter must push into the region scan:\n$plan")
  }

  test("q81 kNN join: query set broadcasts, one shuffle for the top-k window") {
    val plan = planOf("q81_knn_join")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"query vectors must broadcast (never shuffle the base scan):\n$plan")
    assert(countOf(plan, "Exchange hashpartitioning") === 1,
      s"expected one hash exchange (q_id window), got:\n$plan")
  }

  test("q76 forward-fill: a single shuffle feeds the running-frame window") {
    val plan = planOf("q76_forward_fill")
    assert(countOf(plan, "Exchange hashpartitioning") === 1,
      s"expected one hash exchange (user_id), got:\n$plan")
  }

  test("q97/q98/q99 per-row corpus ops: zero shuffle before the output sort") {
    // chunking, PII redaction, and repetition gating are scan-pipelined
    // expression work — any hash exchange means a regression broke the
    // 100 TB story (the final orderBy's range exchange is the only one)
    for (q <- Seq("q97_chunk_windows", "q98_pii_redact", "q99_repetition_filter")) {
      val plan = planOf(q)
      assert(countOf(plan, "Exchange hashpartitioning") === 0,
        s"$q must not shuffle:\n$plan")
    }
  }

  test("q96 sequence packing: one hash exchange shared by window and agg") {
    val plan = planOf("q96_sequence_pack")
    // the running-sum window partitions by lang and the pack aggregation
    // groups by (lang, pack_id) — the agg reuses the window's clustering
    // only partially, so allow the partial-agg exchange but nothing more
    assert(countOf(plan, "Exchange hashpartitioning") <= 2,
      s"packing grew extra shuffles:\n$plan")
  }

  test("q77 global ranks: no single-partition exchange anywhere in the plan") {
    val plan = planOf("q77_rank_quartiles")
    // the old form (Window.orderBy with no partition key) planned an
    // Exchange SinglePartition — every row through one task; the two-phase
    // Ranking plan must never reintroduce one (the per-range window runs
    // on a hash exchange, the offsets side is broadcast)
    assert(!plan.contains("Exchange SinglePartition"),
      s"global ranking regressed to a single-reducer plan:\n$plan")
    // the range phase runs inside Ranking's eager localCheckpoint (the
    // boundary-pinning materialization), so the result plan reads the
    // checkpointed partitions instead of re-sampling a range exchange
    // per consumer — exactly one ExistingRDD scan branch pair, and the
    // only rangepartitioning left is the final output orderBy
    assert(plan.contains("Scan ExistingRDD"),
      s"expected the pinned-boundary checkpoint scan:\n$plan")
  }

  test("q104/q106 Ranking consumers: no single-partition exchange either") {
    // every query built on Ranking.withGlobalRank inherits q77's
    // guarantee — guard each consumer so a future rewrite of one query
    // can't quietly fall back to the global-window form
    for (q <- Seq("q104_corpus_shuffle", "q106_quality_gate",
        "q170_length_batching", "q209_sorted_neighborhood",
        "q219_gini", "q249_rfm")) {
      val plan = planOf(q)
      assert(!plan.contains("Exchange SinglePartition"),
        s"$q regressed to a single-reducer plan:\n$plan")
      assert(plan.contains("Scan ExistingRDD"),
        s"$q lost Ranking's pinned-boundary checkpoint:\n$plan")
    }
  }

  test("q105 mixing audit: one scan, one group-by-source exchange") {
    val plan = planOf("q105_source_mixing")
    // conditional aggregation — the keep-predicate must not introduce a
    // filter+join second pass over the corpus
    assert(countOf(plan, "Exchange") <= 2, // partial-agg + output sort
      s"mixing audit grew extra shuffles:\n$plan")
    assert(!plan.contains("Join"), s"mixing audit must be join-free:\n$plan")
  }

  test("q108 hard negatives: one similarity scan, one candidate exchange") {
    val plan = planOf("q108_hard_negatives")
    // the single-pass window form: positive columns come from first()
    // over the ranking window, NOT from a join-back of a separately
    // computed positive set (which would rescan + recompute the
    // similarity — twice the dominant cost at corpus scale)
    assert(countOf(plan, "Scan parquet") === 2, // base + broadcast anchors
      s"similarity recomputed through an extra scan:\n$plan")
    assert(countOf(plan, "Exchange hashpartitioning") === 1,
      s"both windows must share the q_id exchange:\n$plan")
    assert(countOf(plan, "BroadcastHashJoin") === 0,
      s"positive set must not be joined back:\n$plan")
  }

  test("q109 inverted index: posting agg reuses the window's token exchange") {
    val plan = planOf("q109_inverted_index")
    // distinct (doc_id, tok) + token window = exactly two hash exchanges;
    // the posting-list aggregation must run on the window's partitioning
    // (rank pruning of rows is impossible — df counts every posting — so
    // the bound lives in the agg state: collect_list over when(rn<=10))
    assert(countOf(plan, "Exchange hashpartitioning") === 2,
      s"posting aggregation grew its own shuffle:\n$plan")
    assert(plan.contains("CASE WHEN (rn"),
      s"expected the rank-bounded posting buffer:\n$plan")
  }

  test("q110 BM25: zero data shuffles, broadcast stats, top-k operator") {
    val plan = planOf("q110_bm25_topk")
    // term frequencies are HOF projections in the scan — no explode and
    // no (doc, term) exchange anywhere; the only aggregation is the
    // one-row global stats, which broadcasts back to the scan
    assert(countOf(plan, "Exchange hashpartitioning") === 0,
      s"BM25 grew a per-key shuffle:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 must be TakeOrderedAndProject, not a global sort:\n$plan")
    assert(!plan.contains("Generate"),
      s"term frequencies must not explode the token arrays:\n$plan")
  }

  test("q100 incremental dedup: batch-vs-corpus anti join, no text shuffle") {
    val plan = planOf("q100_incremental_dedup")
    assert(plan.contains("LeftAnti"),
      s"corpus guard must be an anti join:\n$plan")
  }

  test("q101 curate: gate is inline scan work, not a stats self-join") {
    val plan = planOf("q101_curate_pipeline")
    // the quality gate computes its stat expressions in the document scan;
    // the only joins are decontamination's broadcast shingle join and the
    // clean-set anti join — a sort-merge join here means the gate (or the
    // contamination filter) regressed to shuffling the corpus by id
    assert(!plan.contains("SortMergeJoin"),
      s"curate must not sort-merge join at fixture scale:\n$plan")
    // exchanges: dedup window, decontaminate groupBy, cap window, final
    // sort — anything beyond that is a composition regression
    assert(countOf(plan, "Exchange hashpartitioning") <= 4,
      s"curate grew extra shuffles:\n$plan")
  }

  test("q115 outliers: all moment windows share one user_id exchange") {
    val plan = planOf("q115_outliers")
    assert(countOf(plan, "Exchange hashpartitioning") === 1,
      s"decimal moment windows must share a single exchange:\n$plan")
  }

  test("q120 funnel: stage windows and the stack share one exchange") {
    val plan = planOf("q120_funnel")
    // three conditional-min window passes over the same user_id
    // partitioning plus the final count-distinct — the count-distinct's
    // Expand adds its own exchange pair, but the windows must not
    assert(countOf(plan, "Exchange hashpartitioning") <= 3,
      s"funnel stages must reuse the user_id exchange:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"single-pass funnel must not plan stage joins:\n$plan")
  }

  test("q118 triangles: every graph join is equi-shaped (no cross product)") {
    val plan = planOf("q118_triangles")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"triangle joins must all be equi-joins:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 must be TakeOrderedAndProject:\n$plan")
  }

  test("q113 RRF: corpus sides are top-k operators, fusion joins k-row sets") {
    val plan = planOf("q113_hybrid_rrf")
    // both modality candidate lists come from TakeOrderedAndProject;
    // the only sorts after that operate on ≤100-row relations
    assert(countOf(plan, "TakeOrderedAndProject") >= 2,
      s"candidate generation must be map-side top-k:\n$plan")
    assert(!plan.contains("Generate"),
      s"BM25 side must not explode token arrays:\n$plan")
  }

  test("q116 weighted sample: no single-partition exchange in the plan") {
    val plan = planOf("q116_weighted_sample")
    assert(!plan.contains("Exchange SinglePartition"),
      s"prefix-sum sampling must not funnel through one task:\n$plan")
  }

  test("q132 top-k aggregate: partial aggregation, no window operator") {
    val plan = planOf("q132_topk_agg")
    assert(!plan.contains("Window"),
      s"bounded-state top-k must not plan a window sort:\n$plan")
    // two ObjectHashAggregate phases = map-side partial top-k heaps
    assert(countOf(plan, "ObjectHashAggregate") === 2,
      s"expected partial+final ObjectHashAggregate phases:\n$plan")
  }

  test("q128 PQ ADC: encode and distance are scan-pipelined (one exchange before the window)") {
    val plan = planOf("q128_pq_adc")
    // the only hash exchange is the per-query window's q_id partitioning;
    // encode + explode + adc lookups all pipeline inside the scan stage
    assert(countOf(plan, "Exchange hashpartitioning") === 1,
      s"PQ encode/ADC must not shuffle the base table:\n$plan")
  }

  test("q126 transitions: one event exchange feeds the lead window") {
    val plan = planOf("q126_transition_matrix")
    // user_id hash exchange for lead(), (prev,next) agg exchange, and the
    // tiny probability window's exchange — nothing over raw events twice
    assert(countOf(plan, "Exchange hashpartitioning") <= 3,
      s"transition matrix grew an extra shuffle:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"probability window must stay partitioned by prev_type:\n$plan")
  }

  test("q140 tokenize→pack: ONE hash exchange for the whole pipeline") {
    val plan = planOf("q140_tokenize_pack")
    // the per-lang prefix-sum window exchange is the only data shuffle:
    // hash(lang) is a prefix of the (lang, block) aggregate's required
    // clustering, so the agg — distinct phases included — reuses it;
    // tokenization, encoding, and block assignment pipeline in the scan
    assert(countOf(plan, "Exchange hashpartitioning") === 1,
      s"tokenize→pack must shuffle data exactly once:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"no single-reducer stage in the packing pipeline:\n$plan")
  }

  test("q138 CUSUM: both running windows share one event_type exchange") {
    val plan = planOf("q138_cusum")
    // daily agg exchange + the shared window exchange + final range sort
    assert(countOf(plan, "Exchange hashpartitioning") <= 2,
      s"CUSUM windows must share the event_type exchange:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"closed-form CUSUM must not funnel through one task:\n$plan")
  }

  test("join strategy hints steer the physical join operator") {
    import org.apache.spark.sql.functions.col
    val spark0 = spark
    val li = Tables.load(spark0, sf0001, "lineitem")
    val or = Tables.load(spark0, sf0001, "orders")
    def joined(hint: String) = li.join(or.hint(hint),
      col("l_orderkey") === col("o_orderkey"))
    val sh = joined("shuffle_hash").queryExecution.executedPlan.toString
    assert(sh.contains("ShuffledHashJoin"),
      s"shuffle_hash hint ignored:\n${sh.take(2000)}")
    val mj = joined("merge").queryExecution.executedPlan.toString
    assert(mj.contains("SortMergeJoin"),
      s"merge hint ignored:\n${mj.take(2000)}")
    val bc = joined("broadcast").queryExecution.executedPlan.toString
    assert(bc.contains("BroadcastHashJoin"),
      s"broadcast hint ignored:\n${bc.take(2000)}")
  }

  test("q149 semdedup: the only join is the pair self-join (assignment is an expression)") {
    val plan = planOf("q149_semdedup_pairs")
    assert(countOf(plan, "Join") === 1,
      s"expected exactly one join (cluster-blocked pairs); assignment must not join back on vec_id:\n$plan")
  }

  test("q145 salted join: shuffled hash join on (key, salt), no broadcast") {
    val plan = planOf("q145_skew_salted_join")
    // the skew-mitigation plan under test is the shuffled one a 100 TB
    // fact ⋈ non-broadcastable dim gets; a broadcast join would have no
    // key-partitioned shuffle and thus nothing for the salt to spread
    assert(plan.contains("ShuffledHashJoin"),
      s"salted join must be a shuffled hash join:\n$plan")
    assert(countOf(plan, "BroadcastHashJoin") === 0,
      s"dim side must not broadcast in the skew demo:\n$plan")
    // join keys carry the salt: the hash exchange partitions on both
    // event_type and __salt
    assert(plan.contains("__salt"),
      s"join-side exchanges must partition on the salt column:\n$plan")
  }

  test("q259 JDBC round-trip: dim broadcasts, scan is a 4-slice JDBC relation") {
    val df = SparkEntry.queries("q259_jdbc_roundtrip")(spark, sf0001)
    val plan = df.queryExecution.explainString(SimpleMode)
    assert(plan.contains("BroadcastHashJoin"),
      s"the 25-row warehouse dim must broadcast onto the fact:\n$plan")
    assert(plan.contains("JDBCRelation"),
      s"the dim side must be a real JDBC scan:\n$plan")
    assert(plan.contains("numPartitions=4"),
      s"the JDBC read must plan 4 range slices:\n$plan")
  }

  test("txnlog relation: pushed filters reach the scan and prune files") {
    import graft.sources.TxnLog
    val d = java.nio.file.Files.createTempDirectory("graft_txnsrc_plan_")
    d.toFile.deleteOnExit()
    val t = d.resolve("t").toString
    val o = Tables.load(spark, sf0001, "orders")
      .select("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
      .repartitionByRange(8, org.apache.spark.sql.functions.col("o_orderdate"))
    TxnLog.create(spark, t, o, statsCols = Seq("o_orderdate"),
      bloomCols = Seq("o_orderkey"))
    def scanOf(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.execution.FileSourceScanExec = {
      def walk(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(walk)
      }
      walk(df.queryExecution.executedPlan).head
    }
    // (a) a date-range predicate in PURE SQL: PushedFilters carries it
    // to parquet AND the log's stats skipping drops provably-disjoint
    // files at planning time — Spark's own pushdown, no snapshotWhere
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_plan_v " +
      s"USING txnlog OPTIONS (path '$t')")
    val range = spark.sql(
      """SELECT count(*) AS n FROM txn_plan_v
        |WHERE o_orderdate >= DATE '1997-09-01'""".stripMargin)
    val plan = range.queryExecution.explainString(SimpleMode)
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate), " +
      "GreaterThanOrEqual(o_orderdate"),
      s"the date predicate must reach the parquet scan:\n$plan")
    val rangeScan = scanOf(range)
    val nRange = rangeScan.selectedPartitions.totalNumberOfFiles
    assert(nRange < 8 && nRange > 0,
      s"stats skipping must prune the 8-file scan, read $nRange")
    // ...and the pruned answer is still the right one
    assert(range.collect().head.getLong(0) ==
      o.filter(org.apache.spark.sql.functions.col("o_orderdate") >=
        org.apache.spark.sql.functions.to_date(
          org.apache.spark.sql.functions.lit("1997-09-01"))).count())
    // (b) an equality probe rides the committed blooms to a 1-file scan
    val key = o.agg(org.apache.spark.sql.functions.min("o_orderkey"))
      .head().getLong(0)
    val eq = spark.read.format("txnlog").load(t)
      .where(org.apache.spark.sql.functions.col("o_orderkey") === key)
    val nEq = scanOf(eq).selectedPartitions.totalNumberOfFiles
    assert(nEq <= 2, s"bloom skipping must bound the equality scan: $nEq")
    assert(eq.count() == 1)
  }

  test("q261 ECE: one map-side-combined pass + a broadcast total") {
    val plan = planOf("q261_ece_calibration")
    // partial/final HashAggregate pairs over ONE events scan each for
    // bins and total; the one-row total arrives via broadcast, never a
    // shuffle of the bins
    assert(countOf(plan, "BroadcastNestedLoopJoin|BroadcastExchange") >= 1,
      s"the scalar total must broadcast:\n$plan")
    assert(countOf(plan, "Exchange hashpartitioning") <= 1,
      s"at most the bin aggregate's exchange expected:\n$plan")
  }

}
