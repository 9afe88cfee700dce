package graft

import graft.functions.{TextOps, VectorOps}
import graft.operators.{Corpus, Multimodal, Ranking, Similarity, TextDedup}
import graft.ops.{Dedup, Exact, Merge, Watermark}
import graft.pipeline.Sync
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Driver contract — one `queries` entry per operator in SURVEY.md §2,
  * each paired (where ANSI-SQL-expressible) with DuckDB oracle SQL over
  * the same parquet tables.
  *
  * Oracle-parity rules used throughout (SURVEY §7.4):
  *   - every query ends in a deterministic total ORDER BY;
  *   - no raw `sum(double)` — monetary aggregates go through DECIMAL and
  *     come back as DOUBLE (see [[graft.ops.Exact]]);
  *   - no raw TimestampType in outputs (engines disagree on tz-adjust
  *     metadata in parquet) — dates or formatted strings instead;
  *   - column names aliased identically on both sides.
  */
object SparkEntry {

  private def T(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Session-scoped memo of the URGENT-order co-occurrence graph — the
    * edge relation EVERY graph-family query (q118/q133/q136/q164/q200/
    * q213/q278/q281) derives identically from lineitem ⋈ orders before
    * its own fixed-point/statistic work. The derivation (corpus join,
    * member-set collect, pair expansion, distinct) dominated each
    * query's cost at sf0.1 (probed: ~2/3 of q281's 2 s), and it is a
    * pure function of the fixture directory, so one eager
    * localCheckpoint per (session, dir) serves the whole family — the
    * graph twin of [[graft.sources.TxnLog]]'s snapshot-state memo, and
    * at 100 TB exactly the "derive the graph once, persist it, run many
    * analytics" shape a real pipeline uses. Returns the edge relation
    * plus the pre-dedup pair-mass bound (the plan-picking statistic
    * [[graft.operators.Graph.boundedSssp]] consumes). */
  // LRU-bounded: Bench/Verify see one (session, dir) pair, but a
  // long-lived server would otherwise pin every past session's
  // localCheckpoint blocks forever — evicting the LEAST-RECENT entry
  // (not clearing the map: the hot entry must survive) lets the
  // ContextCleaner reclaim the blocks once the RDD is unreachable
  private val urgentEdgesMemo: java.util.Map[String, (DataFrame, Long)] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, (DataFrame, Long)](
          8, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, (DataFrame, Long)]): Boolean =
          size() > 4
      })
  /** q142's weighted-mean typed aggregator. A TOP-LEVEL object, never
    * an anonymous class inside the query lambda: an anon there
    * captures the enclosing SparkSession through the implicits import,
    * and the session stops being task-serializable the moment any
    * prior query initializes its lazy ObservationManager (the CHECK-
    * constraint writers use Observation) — an order-dependent failure.
    * Encoders are the session-free [[org.apache.spark.sql.Encoders]]
    * factories for the same reason. */
  private object WMeanAgg extends org.apache.spark.sql.expressions
      .Aggregator[(String, Long, Long), (Long, Long), Double] {
    def zero: (Long, Long) = (0L, 0L)
    def reduce(b: (Long, Long), r: (String, Long, Long)): (Long, Long) =
      (b._1 + r._2 * r._3, b._2 + r._3)
    def merge(a: (Long, Long), b: (Long, Long)): (Long, Long) =
      (a._1 + b._1, a._2 + b._2)
    def finish(b: (Long, Long)): Double =
      b._1.toDouble / (b._2.toDouble * 100.0)
    def bufferEncoder: org.apache.spark.sql.Encoder[(Long, Long)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong)
    def outputEncoder: org.apache.spark.sql.Encoder[Double] =
      org.apache.spark.sql.Encoders.scalaDouble
  }

  private def urgentEdges(s: SparkSession, dir: String)
      : (DataFrame, Long) = {
    val key = System.identityHashCode(s) + "|" + dir
    val hit = urgentEdgesMemo.get(key)
    if (hit != null) return hit
    urgentEdgesMemo.computeIfAbsent(key, _ => {
        val urgent = T(s, dir, "lineitem")
          .join(T(s, dir, "orders")
            .filter(col("o_orderpriority") === "1-URGENT")
            .select("o_orderkey"), col("o_orderkey") === col("l_orderkey"))
          .select(col("l_orderkey"), col("l_partkey"))
        val (e, m) = graft.operators.Graph.coOccurrenceEdgesWithMass(
          urgent, "l_orderkey", "l_partkey")
        (e.localCheckpoint(true), m)
      })
  }

  /** Flagship: one full incremental-sync round (scan → argmax dedup →
    * recency-guarded merge), the reference's E3 lifecycle on fixtures.
    * Driver smoke-checks rows > 0 on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    mergedEvents(spark, "/root/testdata/sf0.001")

  /** target = events before Jan 15 at (user_id, day) grain; updates = the
    * Jan 10–25 re-extract; both argmax-deduped; recency on ts. */
  private def mergedEvents(s: SparkSession, dir: String): DataFrame = {
    def slice(lo: String, hi: String) = Dedup.argmaxWindow(
      T(s, dir, "events")
        .filter(col("ts") >= lit(lo) && col("ts") < lit(hi))
        .withColumn("event_date", to_date(col("ts"))),
      Seq("user_id", "event_date"),
      Seq(col("value").desc, col("event_id")))
      .select("user_id", "event_date", "ts", "value", "event_id")
    val target = slice("2024-01-01", "2024-01-15")
    val updates = slice("2024-01-10", "2024-01-25")
    Merge.recencyMerge(target, updates, Seq("user_id", "event_date"), "ts")
  }

  /** Shared BM25 scorer (q110, q113): ratio-idf BM25 with k1=1.2, b=0.75
    * over `terms` — zero-shuffle per-doc term frequencies from the scan
    * projection, ONE broadcast global-stats row, per-term scores added in
    * fixed syntactic order (see q110's comment for why the idf ratio is
    * kept unlogged: +,-,*,/ are exact-rounded, log is not). Returns
    * (doc_id, dl, tf_<term>..., score). */
  private def bm25Scored(s: SparkSession, dir: String,
                         terms: Seq[String]): DataFrame = {
    val base = T(s, dir, "documents")
      .select(col("doc_id") +: size(TextOps.tokens(col("text"))).as("dl") +:
        terms.map(t => size(filter(TextOps.tokens(col("text")),
          x => x === lit(t))).as(s"tf_$t")): _*)
    val statAggs =
      count(lit(1)).as("n") +: sum(col("dl").cast(LongType)).as("sumdl") +:
        terms.map(t =>
          sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val stats = base.agg(statAggs.head, statAggs.tail: _*)
    val nD = col("n").cast(DoubleType)
    val avgdl = col("sumdl").cast(DoubleType) / nD
    def termScore(t: String) = {
      val tfd = col(s"tf_$t").cast(DoubleType)
      val dfd = col(s"df_$t").cast(DoubleType)
      val idf = (nD - dfd + lit(0.5)) / (dfd + lit(0.5))
      idf * (tfd * lit(2.2)) /
        (tfd + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast(DoubleType) / avgdl))
    }
    base.crossJoin(broadcast(stats))
      .withColumn("score",
        terms.map(termScore).reduceLeft(_ + _)) // fixed addition order
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── A1: incremental-sync watermark (groupBy-max) ───────────────────
    "q01_watermark" -> ((s, dir) =>
      Watermark.latestDates(T(s, dir, "lineitem"), "l_suppkey", "l_shipdate")
        .orderBy("l_suppkey")),

    // ── A2 (window form): argmax dedup via row_number ──────────────────
    "q02_dedup_window" -> ((s, dir) =>
      Dedup.argmaxWindow(
        T(s, dir, "events").withColumn("event_date", to_date(col("ts"))),
        Seq("user_id", "event_date"),
        Seq(col("value").desc, col("event_id")))
        .select("user_id", "event_date", "event_id", "value")
        .orderBy("user_id", "event_date")),

    // ── A2 (agg form): argmax dedup via max_by ─────────────────────────
    // Ordering key folds (linenumber, partkey, quantity) into one exact
    // BIGINT so ties in the key imply identical output values — max_by
    // tie-breaking is nondeterministic in both engines (SURVEY §7.4).
    // Strides: linenumber ≤ 7 rides at 1e15, partkey at 1e3 — injective
    // while partkey < 1e12 (TPC-H partkey = 200k·SF, so good past SF 1M)
    // and the max key 7e15+1e15 stays far under 2^63 for ANSI mode.
    "q03_dedup_maxby" -> ((s, dir) => {
      val ordKey = col("l_linenumber").cast(LongType) * lit(1000000000000000L) +
        col("l_partkey") * lit(1000L) + col("l_quantity").cast(LongType)
      Dedup.argmaxMaxBy(T(s, dir, "lineitem"), Seq("l_orderkey"),
        Seq("last_partkey" -> col("l_partkey"),
          "last_quantity" -> col("l_quantity")),
        ordKey)
        .orderBy("l_orderkey")
    }),

    // ── A3 + T1: distinct + sort ───────────────────────────────────────
    "q04_distinct" -> ((s, dir) =>
      T(s, dir, "events").select("event_type").distinct().orderBy("event_type")),

    // ── J4: star-schema join chain with broadcast dims ─────────────────
    "q05_star_join" -> ((s, dir) => {
      val li = T(s, dir, "lineitem"); val o = T(s, dir, "orders")
      val c = T(s, dir, "customer"); val n = T(s, dir, "nation")
      val r = T(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(Exact.revenueSum(col("l_extendedprice"), col("l_discount")).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name")
    }),

    // ── A1/A5 composite: TPC-H Q1-shaped pricing summary ───────────────
    "q06_agg_pricing" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"), // integral doubles: exact
          Exact.moneySum(col("l_extendedprice")).as("sum_base_price"),
          Exact.revenueSum(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", col("sum_qty") / col("count_order").cast(DoubleType))
        .orderBy("l_returnflag", "l_linestatus")),

    // ── J2 (semi): EXISTS rewrite ──────────────────────────────────────
    "q07_semi_join" -> ((s, dir) => {
      val o = T(s, dir, "orders")
      val li = T(s, dir, "lineitem").filter(col("l_shipdate") >= lit("2001-06-01"))
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
    }),

    // ── J2 (anti): NOT EXISTS rewrite ──────────────────────────────────
    "q08_anti_join" -> ((s, dir) => {
      val c = T(s, dir, "customer"); val o = T(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    // ── O10: last-writer-wins upsert (anti ∪ updates) ──────────────────
    "q09_upsert" -> ((s, dir) => {
      val li = T(s, dir, "lineitem")
      def slice(pred: Column, src: String) = li.filter(pred)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
          lit(src).as("src"))
      val target = slice(col("l_shipdate") < lit("1998-01-01"), "tgt")
      val updates = slice(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1999-01-01"), "upd")
      Merge.upsert(target, updates, Seq("l_orderkey", "l_linenumber"))
        .groupBy("src")
        .agg(count(lit(1)).as("n_rows"),
          Exact.moneySum(col("l_extendedprice")).as("total_price"))
        .orderBy("src")
    }),

    // ── O11: recency-guarded merge (flagship pipeline, aggregated) ─────
    "q10_recency_merge" -> ((s, dir) =>
      mergedEvents(s, dir)
        .groupBy("event_date")
        .agg(count(lit(1)).as("n_rows"),
          Exact.moneySum(col("value")).as("total_value"))
        .orderBy("event_date")),

    // ── U1: union-all of page fetches ──────────────────────────────────
    "q11_union" -> ((s, dir) => {
      val e = T(s, dir, "events").select("event_id", "event_type", "value")
      e.filter(col("event_type") === "click")
        .unionByName(e.filter(col("event_type") === "purchase"))
        .orderBy("event_id")
    }),

    // ── P1–P7: scalar transform pipeline ───────────────────────────────
    "q12_transforms" -> ((s, dir) =>
      T(s, dir, "events").select(
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd").as("day_str"),
        concat_ws("::", col("user_id"), col("event_type")).as("ckey"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k_val"),
        regexp_replace(col("event_type"), "'", "''").as("escaped"),
        upper(col("event_type")).as("etype_uc"))
        .orderBy("event_id")),

    // ── P9/P10: watermark windows w/ epoch default + date arithmetic ───
    "q13_watermark_windows" -> ((s, dir) =>
      Watermark.syncWindows(
        Watermark.latestDates(T(s, dir, "lineitem"), "l_suppkey", "l_shipdate"),
        T(s, dir, "supplier").select(col("s_suppkey").as("l_suppkey")),
        "l_suppkey", lookbackDays = 7, freshnessDays = 1,
        asOf = lit("1998-12-01"))
        .orderBy("l_suppkey")),

    // ── W1: lag window — day-over-day delta ────────────────────────────
    "q14_window_lag" -> ((s, dir) => {
      val daily = T(s, dir, "events")
        .groupBy(col("user_id"), to_date(col("ts")).as("event_date"))
        .agg(Exact.moneySum(col("value")).as("daily"))
      val w = Window.partitionBy("user_id").orderBy("event_date")
      daily.withColumn("prev_daily", lag("daily", 1).over(w))
        .withColumn("delta", col("daily") - col("prev_daily"))
        .orderBy("user_id", "event_date")
    }),

    // ── T2 + window rank: top-k per group ──────────────────────────────
    "q15_topk_per_user" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id"))
      T(s, dir, "events")
        .withColumn("rn", row_number().over(w).cast(LongType)) // BIGINT: dtype parity with DuckDB's row_number
        .filter(col("rn") <= 3)
        .select("user_id", "rn", "event_id", "value")
        .orderBy("user_id", "rn")
    }),

    // ── [ext] rollup: hierarchical totals ──────────────────────────────
    "q16_rollup" -> ((s, dir) =>
      T(s, dir, "events")
        .withColumn("event_date", date_format(col("ts"), "yyyy-MM-dd"))
        .rollup(col("event_type"), col("event_date"))
        .agg(count(lit(1)).as("n"), Exact.moneySum(col("value")).as("total_value"))
        .select(
          coalesce(col("event_type"), lit("<all>")).as("event_type"),
          coalesce(col("event_date"), lit("<all>")).as("event_date"),
          col("n"), col("total_value"))
        .orderBy("event_type", "event_date")),

    // ── distinct aggregate ─────────────────────────────────────────────
    "q17_distinct_agg" -> ((s, dir) =>
      T(s, dir, "events").groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")),

    // ── [ext] approx distinct (HLL) — oracle-checkable form: the HLL
    // estimate itself is engine-private (Spark's HLL++ vs DuckDB's HLL
    // disagree by design), so the query emits the exact distinct count
    // plus a sanity BOUND on the estimate: the invariant both engines
    // can agree on bit-for-bit. The bound is 20% — 4× the default rsd,
    // NOT the rsd itself: rsd 0.05 is one standard deviation, so a
    // healthy sketch lands outside 5% on roughly a third of counters;
    // 20% is ~4σ (spurious-failure odds negligible) while a BROKEN
    // sketch (off by 2×+) still flips approx_ok and fails the hash. ────
    "q18_approx_distinct" -> ((s, dir) =>
      T(s, dir, "events").groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"),
          approx_count_distinct(col("user_id")).as("approx"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("approx") - col("n_exact")).cast(DoubleType) <=
            col("n_exact").cast(DoubleType) * 0.20).as("approx_ok"))
        .orderBy("event_type")),

    // ── [ext] set ops ──────────────────────────────────────────────────
    "q19_intersect" -> ((s, dir) => {
      val e = T(s, dir, "events")
      def day(d: String) = e.filter(to_date(col("ts")) === lit(d)).select("user_id")
      day("2024-01-05").intersect(day("2024-01-06")).orderBy("user_id")
    }),
    "q20_except" -> ((s, dir) => {
      val e = T(s, dir, "events")
      def day(d: String) = e.filter(to_date(col("ts")) === lit(d)).select("user_id")
      day("2024-01-05").except(day("2024-01-06")).orderBy("user_id")
    }),

    // ── [north star] exact dedup by content hash ───────────────────────
    "q21_dedup_exact" -> ((s, dir) =>
      Dedup.exactByContent(T(s, dir, "documents"), "text", "doc_id")
        .orderBy("content_hash")),
    "q22_dedup_keep_first" -> ((s, dir) =>
      T(s, dir, "documents").groupBy("text")
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id").orderBy("doc_id")),

    // ── [north star] MinHash LSH near-dup over 3-word shingles ─────────
    // The production pipeline hashes shingles with xxhash64 (engine-
    // private — no DuckDB twin), so it is NOT a driver query: TextSpec
    // pins its verified pair set equal to q55's sha-derived variant on
    // fixtures, and q55 is the oracle-checked form of the same pipeline.
    // Same policy for the xxhash SimHash forms (q57/q58 carry the oracle)
    // and the trained-codebook IVF (q56 carries it).

    // ── [north star] MinHash LSH with cross-engine hashes (oracled) ────
    // same pipeline with sha-derived shingle hashes and raw-value
    // band keys, so the DuckDB oracle replays every stage bit-for-bit
    "q55_minhash_verifiable" -> ((s, dir) =>
      TextDedup.minhashNearDupsVerifiable(T(s, dir, "documents"), "doc_id", "text",
        threshold = 0.5, shingleLen = 3)
        .orderBy("id_a", "id_b")),

    // ── [north star] content-blocked n-gram Jaccard near-dup ──────────
    // (count band ∧ minhash band blocking — candidates ∝ matches, not
    // band size²; exact token-set Jaccard verify; the oracle replays the
    // sha-derived minhash band keys bit-for-bit)
    "q24_jaccard_pairs" -> ((s, dir) =>
      TextDedup.jaccardNearDupsBlocked(T(s, dir, "documents"), "doc_id", "text",
        threshold = 0.6, bandWidth = 8)
        .orderBy("id_a", "id_b")),

    // ── [north star] exact-mode bucketed Jaccard (bounded-mask bitset) ─
    // (exhaustive within count bands — the small-corpus exact mode; the
    // 16 KiB hashed-slot bitmask is a lossless prefilter, so results are
    // identical to the plain array-intersect formulation)
    "q144_jaccard_bitset_exact" -> ((s, dir) =>
      TextDedup.jaccardNearDupsBitset(T(s, dir, "documents"), "doc_id", "text",
        threshold = 0.6, bandWidth = 8)
        .orderBy("id_a", "id_b")),

    // ── [north star] text quality scoring ──────────────────────────────
    "q26_text_quality" -> ((s, dir) => {
      val txt = col("text")
      T(s, dir, "documents").select(
        col("doc_id"), col("n_chars"),
        TextOps.tokenCount(txt).as("n_tokens"),
        TextOps.distinctTokenCount(txt).as("n_distinct"),
        TextOps.avgTokenLen(txt).as("avg_token_len"),
        TextOps.stopwordRatio(txt).as("stop_ratio"),
        TextOps.qualityScore(txt).as("quality"))
        .orderBy("doc_id")
    }),

    // ── [north star] language ID heuristic (rows-only; profile-based) ──
    "q27_langid" -> ((s, dir) =>
      T(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        TextOps.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),

    // ── [north star] token counting (whitespace + BPE-ish regex) ───────
    "q28_token_counts" -> ((s, dir) =>
      T(s, dir, "documents").select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_ws_tokens"),
        size(TextOps.regexTokens(col("text"))).cast(LongType).as("n_regex_tokens"))
        .orderBy("doc_id")),

    // ── [north star] rolling-hash document fingerprint ─────────────────
    "q29_fingerprint" -> ((s, dir) =>
      T(s, dir, "documents").select(
        col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    // ── [north star] brute-force cosine top-k (query = vec 0) ──────────
    "q30_cosine_topk" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .withColumn("sim", VectorOps.cosine(col("embedding"), col("qv")))
        .select(col("vec_id"), col("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
    }),

    // ── [north star] ANN via random-hyperplane LSH (rows-only) ─────────
    "q31_ann_lsh" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      Similarity.lshTopK(e, "vec_id", "embedding", dim = 64, query = qv,
        k = 10, nPlanes = 8)
    }),

    // ── [north star] SQL-surface cosine top-k via registered native fn ─
    // (same answer as q30, expressed in SQL through the
    // SparkSessionExtensions function-registration path)
    "q45_sql_cosine" -> ((s, dir) => {
      GraftExtensions.register(s)
      T(s, dir, "embeddings").createOrReplaceTempView("embeddings_v")
      s.sql(
        """SELECT vec_id, cosine_sim(embedding, qv) AS sim
          |FROM embeddings_v,
          |     (SELECT embedding AS qv FROM embeddings_v WHERE vec_id = 0)
          |WHERE vec_id <> 0
          |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)
    }),

    // ── [north star] embedding near-dup pairs, label-blocked ───────────
    "q32_neardup_embeddings" -> ((s, dir) =>
      Similarity.blockedNearDups(T(s, dir, "embeddings"), "vec_id",
        "embedding", "label", threshold = 0.35)
        .orderBy("id_a", "id_b")),

    // ── [north star] multimodal: blob column + typed metadata join ─────
    "q33_multimodal_meta" -> ((s, dir) =>
      T(s, dir, "documents")
        .join(T(s, dir, "embeddings"),
          col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("label"),
          length(col("text").cast("binary")).cast(LongType).as("blob_bytes"),
          substring(col("text"), 1, 16).as("head16"), col("lang"))
        .orderBy("doc_id")),

    // ── [north star] partition-batched media decode stub (rows-only) ───
    "q34_mm_decode" -> ((s, dir) =>
      Multimodal.decodeFeatures(s, Multimodal.asMedia(T(s, dir, "documents")))
        .toDF().orderBy("doc_id")),

    // ── [north star] multimodal: frame sampling over media blobs ───────
    "q44_mm_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(s, Multimodal.asMedia(T(s, dir, "documents")))
        .toDF()
        .select(col("doc_id"), col("frame_no"), col("offset").as("byte_off"),
          length(col("frame_bytes")).cast(LongType).as("n_bytes"))
        .orderBy("doc_id", "frame_no")),

    // ── [ext] Structured Streaming: tumbling daily aggregate ───────────
    "q35_stream_daily" -> ((s, dir) =>
      graft.streaming.EventStream.dailyTotals(s, dir)),

    // ── [ext] as-of join: latest prior click per purchase, via window ──
    // (SURVEY §2.4 "range/as-of variant on events"; single shuffle on
    // user_id — the union+window form of an as-of join, no theta join)
    "q36_asof_join" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      T(s, dir, "events")
        .withColumn("prev_click_ts",
          max(when(col("event_type") === "click", col("ts"))).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
          date_format(col("prev_click_ts"), "yyyy-MM-dd HH:mm:ss").as("prev_click_s"))
        .orderBy("event_id")
    }),

    // ── [ext] range frame: events per user in the preceding hour ───────
    "q37_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").cast(LongType)) // epoch seconds
        .rangeBetween(-3600, -1)
      T(s, dir, "events")
        .withColumn("n_prev_hour", count(lit(1)).over(w))
        .select("event_id", "user_id", "n_prev_hour")
        .orderBy("event_id")
    }),

    // ── S4/K3/K4: schema-enforced CSV sink + source round-trip ─────────
    // (per-group CSV spill via partitionBy — the reference's per-symbol
    // CSV staging, spark_deltalake_sync.py:244-274 — then the declared-
    // schema glob re-read, deltalake_sync.py:229; aggregate must match
    // the parquet-native oracle exactly: the round-trip is lossless)
    "q38_csv_roundtrip" -> ((s, dir) => {
      val tmp = TempWork.fresh("csv")
      T(s, dir, "events").select("event_id", "user_id", "value", "event_type")
        .write.mode("overwrite").partitionBy("event_type")
        .option("header", "true").csv(tmp)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("value", DoubleType), StructField("event_type", StringType)))
      s.read.schema(schema).option("header", "true").csv(tmp)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), Exact.moneySum(col("value")).as("total_value"))
        .orderBy("event_type")
    }),

    // ── S5: CSV glob scan with schema inference (the reference's
    // inferSchema read, spark_deltalake_sync.py:293). The engine
    // standardizes on declared schemas (SURVEY §7.4.2: inference is a
    // correctness hazard — int-vs-long promotion depends on the values
    // seen), so the inferred read is cast to the canonical types right
    // after the scan; the aggregate must still hash-match the
    // parquet-native oracle, proving the inferred round-trip lossless.
    // At scale, inference costs one extra pass over the staged files —
    // acceptable for a staging load, never for the fact path (S4/S6
    // remain the production scans). ────────────────────────────────────
    "q103_csv_infer" -> ((s, dir) => {
      val tmp = TempWork.fresh("csv_infer")
      T(s, dir, "events").select("event_id", "user_id", "value", "event_type")
        .write.mode("overwrite").option("header", "true").csv(tmp)
      s.read.option("header", "true").option("inferSchema", "true").csv(tmp)
        .select(col("event_id").cast(LongType), col("user_id").cast(LongType),
          col("value").cast(DoubleType), col("event_type"))
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"),
          Exact.moneySum(col("value")).as("total_value"))
        .orderBy("event_type")
    }),

    // ── S9: parameterized SQL (the reference's Jinja-templated .sql
    // files, src/utils/misc.py:11-54 → Spark named-parameter API) ──────
    "q39_sql_params" -> ((s, dir) => {
      T(s, dir, "events").createOrReplaceTempView("events_v")
      s.sql(
        """SELECT event_type, count(*) AS n,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
          |FROM events_v WHERE event_type <> :skip AND value >= :minv
          |GROUP BY event_type ORDER BY event_type""".stripMargin,
        Map("skip" -> "view", "minv" -> 10))
    }),

    // ── [ext] stateful streaming: watermark state in mapGroupsWithState ─
    "q41_stream_stateful" -> ((s, dir) =>
      graft.streaming.EventStream.statefulWatermarks(s, dir)),

    // ── [ext] skew-salted two-stage aggregation ────────────────────────
    // (event_type: 5 hot keys over the whole table — the shape where a
    // plain groupBy funnels each key into one reducer)
    "q42_salted_agg" -> ((s, dir) =>
      graft.ops.Skew.saltedSumCount(T(s, dir, "events"), Seq("event_type"),
        col("value"), nSalts = 16)
        .orderBy("event_type")),

    // ── [ext] skew-salted replicate join ───────────────────────────────
    // (the join-side twin of q42: the whole fact table joins a per-type
    // dim on a 5-value key — unsalted, each key's volume lands on one
    // reducer of the shuffled join; salting the fact key and replicating
    // the dim ×16 spreads it. Dim midpoint = (min+max)/2: one add + one
    // halving, IEEE-exact cross-engine, unlike an avg over doubles)
    "q145_skew_salted_join" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      val dim = ev.groupBy("event_type")
        .agg(((min(col("value")) + max(col("value"))) / 2).as("mid_v"))
      graft.ops.Skew.saltedReplicateJoin(
        ev.select("event_id", "event_type", "value"), dim, "event_type",
        saltCols = Seq(col("event_type"), col("event_id")), nSalts = 16)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") > col("mid_v"), 1L).otherwise(0L)).as("n_above"))
        .orderBy("event_type")
    }),

    // ── J4 composite: TPC-H Q3-shaped shipping-priority top-k ──────────
    // (selective dim filters pushed to both scans; broadcast of the
    // filtered small sides; top-10 via TakeOrderedAndProject)
    "q53_shipping_priority" -> ((s, dir) => {
      val c = T(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = T(s, dir, "orders").filter(col("o_orderdate") < lit("1995-03-15"))
      val l = T(s, dir, "lineitem").filter(col("l_shipdate") > lit("1995-03-15"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_orderpriority"))
        .agg(Exact.revenueSum(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // ── A-family: HAVING — groups filtered on their aggregate ──────────
    "q54_having" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_items"),
          Exact.moneySum(col("l_extendedprice")).as("total"))
        .filter(col("n_items") >= 5)
        .orderBy("l_orderkey")),

    // ── [ext] ranking-window variety: ntile / percent_rank / cume_dist ─
    "q49_window_variety" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("value"), col("event_id"))
      T(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          ntile(4).over(w).cast(LongType).as("quartile"), // BIGINT: dtype parity with DuckDB
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("event_id")
    }),

    // ── [ext] pivot: event types to columns via conditional aggregation ─
    "q50_pivot" -> ((s, dir) =>
      T(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "purchase", "view"))
        .agg(Exact.moneySum(col("value")))
        .na.fill(0.0, Seq("click", "purchase", "view"))
        .orderBy("user_id")),

    // ── typed JSON parse (from_json with schema; P-family on props) ────
    "q51_from_json" -> ((s, dir) =>
      T(s, dir, "events")
        .withColumn("p", from_json(col("props"), StructType(Seq(
          StructField("k", LongType)))))
        .groupBy(col("event_type"))
        .agg(sum(col("p.k")).as("sum_k"), count(col("p.k")).as("n_k"))
        .orderBy("event_type")),

    // ── [ext] scalar subquery: orders above a global exact-avg bar ─────
    "q46_scalar_subquery" -> ((s, dir) => {
      val o = T(s, dir, "orders")
      val bar = o.agg((Exact.moneyAvg(col("o_totalprice")) * lit(1.5)).as("bar"))
      o.join(broadcast(bar)) // 1-row scalar: broadcast cross join
        .filter(col("o_totalprice") > col("bar"))
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // ── [ext] grouping sets: two independent rollup axes in one pass ───
    "q47_grouping_sets" -> ((s, dir) =>
      T(s, dir, "events")
        .withColumn("event_date", date_format(col("ts"), "yyyy-MM-dd"))
        .groupingSets(Seq(Seq(col("event_type")), Seq(col("event_date"))),
          col("event_type"), col("event_date"))
        .agg(count(lit(1)).as("n"), Exact.moneySum(col("value")).as("total_value"))
        .select(
          coalesce(col("event_type"), lit("<all>")).as("event_type"),
          coalesce(col("event_date"), lit("<all>")).as("event_date"),
          col("n"), col("total_value"))
        .orderBy("event_type", "event_date")),

    // ── [ext] exact interpolated percentiles per group ─────────────────
    "q48_percentiles" -> ((s, dir) =>
      T(s, dir, "events").groupBy("event_type")
        .agg(expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.9)").as("p90"))
        .orderBy("event_type")),

    // ── [ext] cube: all grouping-set combinations ──────────────────────
    "q40_cube" -> ((s, dir) =>
      T(s, dir, "events")
        .withColumn("event_date", date_format(col("ts"), "yyyy-MM-dd"))
        .cube(col("event_type"), col("event_date"))
        .agg(count(lit(1)).as("n"), Exact.moneySum(col("value")).as("total_value"))
        .select(
          coalesce(col("event_type"), lit("<all>")).as("event_type"),
          coalesce(col("event_date"), lit("<all>")).as("event_date"),
          col("n"), col("total_value"))
        .orderBy("event_type", "event_date")),

    // ── [north star] IVF ANN, oracle-checkable twin of q43 ─────────────
    // (deterministic centroid lattice instead of the trained codebook —
    // identical plan: narrow argmax-dot cell assignment, probe filter,
    // local top-k; see Similarity.ivfTopKVerifiable)
    "q56_ivf_verifiable" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      Similarity.ivfTopKVerifiable(e.filter(col("vec_id") =!= 0), "vec_id",
        "embedding", query = qv, k = 10)
    }),

    // ── [north star] SimHash, oracle-checkable twin of q25 ─────────────
    // (sha-derived 60-bit token hashes instead of xxhash64; same native
    // one-loop voting expression, zero shuffle)
    "q57_simhash_verifiable" -> ((s, dir) =>
      TextDedup.simhashDocsVerifiable(T(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // ── [north star] SimHash near-dup pairs, oracled twin of q52 ───────
    "q58_simhash_pairs_verifiable" -> ((s, dir) =>
      TextDedup.simhashNearDupsVerifiable(T(s, dir, "documents"), "doc_id",
        "text", maxHamming = 3)
        .orderBy("id_a", "id_b")),

    // ── [ext] KMV distinct sketch — the oracle-checkable counterpart of
    // q18's HLL (O(k) state per group, exactly reproducible in ANSI SQL;
    // see functions.KMinValues) ────────────────────────────────────────
    "q59_kmv_distinct" -> ((s, dir) => {
      val k = 16
      T(s, dir, "events").groupBy("event_type")
        .agg(graft.functions.KMinValues(
            graft.ops.Sampling.shaHash60(col("user_id")), k).as("kmv"),
          countDistinct(col("user_id")).as("n_exact"))
        .select(col("event_type"),
          when(size(col("kmv")) < k, size(col("kmv")).cast(DoubleType))
            .otherwise(lit((k - 1).toDouble * math.pow(2, 60)) /
              element_at(col("kmv"), k).cast(DoubleType)).as("est_distinct"),
          element_at(col("kmv"), least(size(col("kmv")), lit(k))).as("kth_min"),
          col("n_exact"))
        .orderBy("event_type")
    }),

    // ── [north star] sessionization (gaps-and-islands; single shuffle) ─
    "q60_sessionize" -> ((s, dir) =>
      graft.operators.Sessions.sessionize(T(s, dir, "events"), "user_id",
        "ts", "event_id", "value", gapUs = 43200000000L) // 12h
        .orderBy("user_id", "session_id")),

    // ── [north star] sessionization via built-in session_window ────────
    "q61_session_window" -> ((s, dir) =>
      graft.operators.Sessions.sessionWindows(T(s, dir, "events"), "user_id",
        "ts", "value", gap = "12 hours")
        .orderBy("user_id", "session_start_us")),

    // ── [ext] interval self-join: order bursts per customer ────────────
    // (the scalable range-join shape: equi key bounds the quadratic, the
    // range predicate only filters within the key group)
    "q62_interval_join" -> ((s, dir) => {
      val o = T(s, dir, "orders").select(col("o_custkey"),
        col("o_orderkey"), to_date(col("o_orderdate")).as("od"))
      val a = o.select(col("o_custkey"), col("o_orderkey").as("k_a"),
        col("od").as("d_a"))
      val b = o.select(col("o_custkey"), col("o_orderkey").as("k_b"),
        col("od").as("d_b"))
      val gap = abs(datediff(col("d_b"), col("d_a")))
      a.join(b, Seq("o_custkey"))
        .filter(col("k_a") < col("k_b") && gap <= 3)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_pairs"),
          min(gap).cast(LongType).as("min_gap_days"))
        .orderBy("o_custkey")
    }),

    // ── [north star] deterministic stratified sampling ─────────────────
    // (hash-threshold coin per row — reproducible across engines,
    // partitionings, and reruns, unlike df.sample; see ops.Sampling)
    "q63_stratified_sample" -> ((s, dir) => {
      val rate = when(col("event_type") === "purchase", lit(100L))
        .when(col("event_type") === "click", lit(25L))
        .otherwise(lit(10L))
      graft.ops.Sampling.stratifiedSample(T(s, dir, "events"),
          col("event_id"), rate)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_sampled"),
          Exact.moneySum(col("value")).as("total_value"))
        .orderBy("event_type")
    }),

    // ── [north star] benchmark decontamination (n-gram overlap) ────────
    // (training docs sharing any 4-word shingle with the eval set src0;
    // the eval side's distinct shingles broadcast — no corpus shuffle)
    "q65_decontaminate" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      TextDedup.decontaminate(
        d.filter(col("source") =!= "src0"),
        d.filter(col("source") === "src0"),
        "doc_id", "text", shingleLen = 4)
        .orderBy("doc_id")
    }),

    // ── [north star] global token top-k (vocabulary head) ─────────────
    // (explode → partial-agg wordcount → TakeOrderedAndProject)
    "q66_token_topk" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(20)),

    // ── [north star] near-dup cluster formation (connected components) ─
    // (simhash pairs → min-label propagation → cluster sizes; the oracle
    // replays the closure as a DuckDB recursive CTE)
    "q67_neardup_clusters" -> ((s, dir) => {
      val pairs = TextDedup.simhashNearDupsVerifiable(
        T(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
      graft.operators.Components.connectedComponents(pairs, "id_a", "id_b")
        .groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
        .orderBy("cluster_id")
    }),

    // ── [north star] deterministic per-group corpus cap ────────────────
    // (keep ≤5 docs per language, chosen by content-stable hash order —
    // the corpus-balancing step of a training-data mix. One shuffle on
    // the group key; for heavily skewed groups the two-phase form —
    // per-partition pre-cap, then the window — bounds task memory.)
    "q68_per_group_cap" -> ((s, dir) => {
      val w = Window.partitionBy("lang")
        .orderBy(graft.ops.Sampling.shaHash60(col("doc_id")), col("doc_id"))
      T(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    }),

    // ── [north star] multimodal: nearest-neighbor resize stub ──────────
    // (oracle note: like q34, the DuckDB side reads ord(text[i]) — code
    // points by character index — while the engine samples UTF-8 bytes;
    // equal only because the driver's documents fixture is pure ASCII)
    "q70_mm_resize" -> ((s, dir) =>
      Multimodal.resizeStub(s, Multimodal.asMedia(T(s, dir, "documents")))
        .toDF()
        .orderBy("doc_id")),

    // ── [ext] SCD2 history from a change log (K8's audit-column story
    // kept fully addressable; incremental merge form spec'd equivalent) ─
    "q69_scd2_history" -> ((s, dir) =>
      Merge.scd2FromLog(
        T(s, dir, "events").select("user_id", "event_id", "value", "ts"),
        Seq("user_id"), "ts", "event_id")
        .select(col("user_id"), col("event_id"), col("value"),
          col("valid_from_us"), col("valid_to_us"), col("is_current"))
        .orderBy("user_id", "valid_from_us", "event_id")),

    // ── [ext] bloom-filter semi-join pruning (runtime-filter shape) ────
    // (bloom prefilter at the fact scan + exact semi join; result is
    // provably identical to the plain semi join — see ops.RuntimeFilter)
    "q64_bloom_semijoin" -> ((s, dir) => {
      val urgent = T(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      graft.ops.RuntimeFilter.bloomSemiJoin(
          T(s, dir, "lineitem").select("l_orderkey", "l_returnflag", "l_extendedprice"),
          urgent, "l_orderkey", "o_orderkey", expectedItems = 131072L)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          Exact.moneySum(col("l_extendedprice")).as("total"))
        .orderBy("l_returnflag")
    }),

    // ── [ext] unpivot / melt: wide per-flag sums → long (measure, total) ─
    // (schema-reshaping for sink-side EAV layouts; Dataset.unpivot is the
    // built-in generator — no UDTF needed)
    "q71_unpivot" -> ((s, dir) => {
      val agg = T(s, dir, "lineitem").groupBy("l_returnflag").agg(
        Exact.moneySum(col("l_quantity")).as("quantity"),
        Exact.moneySum(col("l_extendedprice")).as("extendedprice"),
        Exact.moneySum(col("l_discount")).as("discount"),
        Exact.moneySum(col("l_tax")).as("tax"))
      agg.unpivot(Array(col("l_returnflag")),
          Array(col("quantity"), col("extendedprice"), col("discount"), col("tax")),
          "measure", "total")
        .orderBy("l_returnflag", "measure")
    }),

    // ── [ext] correlated EXISTS / NOT EXISTS (rewritten by Catalyst to
    // semi/anti joins — the declarative form of q07/q08) ────────────────
    "q72_exists_subquery" -> ((s, dir) => {
      T(s, dir, "customer").createOrReplaceTempView("customer_v")
      T(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT c_custkey, c_name FROM customer_v c
          |WHERE EXISTS (SELECT 1 FROM orders_v o
          |              WHERE o.o_custkey = c.c_custkey
          |                AND o.o_orderpriority = '1-URGENT'
          |                AND o.o_totalprice > 150000)
          |  AND NOT EXISTS (SELECT 1 FROM orders_v o2
          |                  WHERE o2.o_custkey = c.c_custkey
          |                    AND o2.o_orderstatus = 'F'
          |                    AND o2.o_totalprice > 300000)
          |ORDER BY c_custkey""".stripMargin)
    }),

    // ── [ext] positional explode (UDTF shape): token stream with offsets ─
    "q73_posexplode" -> ((s, dir) =>
      T(s, dir, "documents").filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))))
        .select(col("doc_id"), col("pos"), col("col").as("tok"))
        .orderBy("doc_id", "pos")),

    // ── J4 at full TPC-H Q5 shape: 6-way join, broadcast dims, decimal
    // revenue; supplier and customer constrained to the same nation ─────
    "q74_local_supplier_volume" -> ((s, dir) => {
      val c = T(s, dir, "customer"); val o = T(s, dir, "orders")
      val l = T(s, dir, "lineitem"); val su = T(s, dir, "supplier")
      val n = T(s, dir, "nation"); val r = T(s, dir, "region")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .join(su, col("s_suppkey") === col("l_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .join(broadcast(n), col("n_nationkey") === col("s_nationkey"))
        .join(broadcast(r.filter(col("r_name") === "ASIA")),
          col("r_regionkey") === col("n_regionkey"))
        .groupBy("n_name")
        .agg(Exact.revenueSum(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // ── [ext] TPC-H Q17 shape: per-key scalar aggregate feeding a filter
    // on the same table (avg quantity per part; quantities are exact
    // small integers, so the double avg is order-independent) ───────────
    "q75_small_qty_revenue" -> ((s, dir) => {
      val l = T(s, dir, "lineitem")
      val avgQ = l.groupBy(col("l_partkey").as("ap_partkey"))
        .agg((avg(col("l_quantity")) * 0.2).as("qbar"))
      l.join(T(s, dir, "part"), col("p_partkey") === col("l_partkey"))
        .filter(col("p_brand") === "Brand#1")
        .join(avgQ, col("ap_partkey") === col("p_partkey"))
        .filter(col("l_quantity") < col("qbar"))
        .agg((Exact.moneySum(col("l_extendedprice")) / 7.0).as("avg_yearly"))
    }),

    // ── [ext] forward-fill (gap fill): last non-null carried forward per
    // key — last(ignoreNulls) over a running row frame ──────────────────
    "q76_forward_fill" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T(s, dir, "events")
        .withColumn("last_purchase_value",
          last(when(col("event_type") === "purchase", col("value")),
            ignoreNulls = true).over(w))
        .select(col("event_id"), col("user_id"), col("last_purchase_value"))
        .orderBy("event_id")
    }),

    // ── [ext] distribution ranks: ntile/percent_rank/cume_dist over a
    // global ordering (tie-broken to be total, so ranks are exact
    // rationals — identical doubles in any engine). Two-phase
    // range-partitioned ranking (operators.Ranking): no single-reducer
    // window anywhere in the plan — PlanShapeSpec asserts zero
    // `Exchange SinglePartition`. ────────────────────────────────────────
    "q77_rank_quartiles" -> ((s, dir) => {
      val per = T(s, dir, "events").groupBy("user_id")
        .agg(Exact.moneySum(col("value")).as("total"), count(lit(1)).as("n"))
      val ranked = Ranking.withGlobalRank(per, "__rk", "__N",
        col("total").desc, col("user_id").asc)
      ranked.select(col("user_id"), col("total"), col("n"),
        Ranking.ntileOf(4, col("__rk"), col("__N")).as("quartile"),
        Ranking.percentRankOf(col("__rk"), col("__N")).as("pr"),
        Ranking.cumeDistOf(col("__rk"), col("__N")).as("cd"))
        .orderBy("user_id")
    }),

    // ── [ext] streaming cross-batch dedup (dropDuplicatesWithinWatermark)
    "q78_stream_dedup" -> ((s, dir) =>
      graft.streaming.EventStream.dedupedCounts(s, dir)),

    // ── [north star] n-gram frequency profile: top-5 bigrams per language
    "q79_bigram_topk" -> ((s, dir) => {
      val bg = T(s, dir, "documents")
        .select(col("lang"), TextOps.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(col("lang"),
          explode(transform(sequence(lit(1), size(col("tk")) - 1),
            i => concat_ws(" ", element_at(col("tk"), i),
              element_at(col("tk"), i + 1)))).as("bigram"))
      val counted = bg.groupBy("lang", "bigram").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("lang").orderBy(col("n").desc, col("bigram"))
      counted.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
        .select("lang", "bigram", "n", "rk").orderBy("lang", "rk")
    }),

    // ── [north star] fuzzy key matching: blocked levenshtein join with
    // PassJoin-style segment candidates (Li et al. segment pigeonhole:
    // ED ≤ 6 ⇒ at least one of 7 contiguous segments of one prefix
    // survives unedited, i.e. appears verbatim in the other prefix).
    // Candidates join build-side segments to probe-side substrings within
    // (lang, bkt), so the block key is (lang, bkt, gram) — content-
    // discriminating. Measured at sf0.1: 250,006 within-(lang,bkt) pairs
    // → 138,532 gram candidates, block cardinality 250 → ~10^5; same
    // result set (recall is exact, so the DuckDB oracle is unchanged).
    // Prefixes shorter than 24 chars fall back to a degenerate "" key
    // (recall-exact; none exist in the fixtures). ───────────────────────
    "q80_fuzzy_block_join" -> ((s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id"), col("lang"),
        substring(col("text"), 1, 24).as("pfx"),
        floor(col("n_chars") / 40).as("bkt"))
      // 7 fixed segments of the 24-char prefix (4,4,4,3,3,3,3): 6 edits
      // damage ≤ 6 of them — one always survives contiguously
      val segStarts = Seq((1, 4), (5, 4), (9, 4), (13, 3), (16, 3), (19, 3), (22, 3))
      val segs = d.select(col("doc_id"), col("lang"), col("bkt"),
        explode(when(length(col("pfx")) === 24,
          array(segStarts.map { case (p, l) => substring(col("pfx"), p, l) }: _*))
          .otherwise(array(lit("")))).as("g"))
      // probe side: every substring of the prefix at the segment lengths
      // (plus "" so short-prefix builds keep exact recall)
      val subExprs = (0 to 20).map(i => substring(col("pfx"), i + 1, 4)) ++
        (0 to 21).map(i => substring(col("pfx"), i + 1, 3)) :+ lit("")
      val subs = d.select(col("doc_id").as("doc_id_p"), col("lang"), col("bkt"),
        explode(array_distinct(array(subExprs: _*))).as("g"))
      val cand = segs.join(subs, Seq("lang", "bkt", "g"))
        .filter(col("doc_id") =!= col("doc_id_p"))
        .select(least(col("doc_id"), col("doc_id_p")).as("id_a"),
          greatest(col("doc_id"), col("doc_id_p")).as("id_b"))
        .distinct()
      cand
        .join(d.select(col("doc_id").as("id_a"), col("pfx").as("pfx_a")), Seq("id_a"))
        .join(d.select(col("doc_id").as("id_b"), col("pfx").as("pfx_b")), Seq("id_b"))
        // bounded form: banded DP costs O(threshold·n) per pair instead
        // of O(n²) and returns -1 above the bound — at corpus scale the
        // per-pair constant IS the join cost
        .withColumn("dist",
          levenshtein(col("pfx_a"), col("pfx_b"), 6).cast(LongType))
        .filter(col("dist") >= 0)
        .select("id_a", "id_b", "dist").orderBy("id_a", "id_b")
    }),

    // ── [north star] kNN join: per-query top-k over a broadcast query set
    "q81_knn_join" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
      e.filter(col("vec_id") >= 3).crossJoin(broadcast(q))
        .withColumn("cos", graft.functions.CosineSim(col("embedding"), col("qv")))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
        .select("q_id", "vec_id", "cos", "rk").orderBy("q_id", "rk")
    }),

    // ── [north star] hard-negative mining: contrastive-training triplets
    // (anchor, top-1 positive, top-5 margin-separated negatives — the
    // standard triplet-loss sampling rule). Single-pass form: the
    // positive for every candidate row is just `first(...)` over the
    // SAME (cos desc, vec_id) ordered window that ranks the candidates,
    // so ONE similarity scan and ONE q_id-hash exchange feed rank,
    // positive columns, and the post-margin-filter re-rank (a join-back
    // of a separately-computed positive set would rescan and recompute
    // the similarity — twice the dominant cost at corpus scale). Scale
    // shape = q81's kNN: base never shuffles on data size. ─────────────
    "q108_hard_negatives" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      val anchors = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
      e.filter(col("vec_id") >= 3).crossJoin(broadcast(anchors))
        .withColumn("cos", graft.functions.CosineSim(col("embedding"), col("qv")))
        .withColumn("rk", row_number().over(w))
        .withColumn("pos_id", first(col("vec_id")).over(w))
        .withColumn("pos_cos", first(col("cos")).over(w))
        .filter(col("rk") > 1 && col("cos") <= col("pos_cos") - lit(0.05))
        .withColumn("nrk", row_number().over(w)).filter(col("nrk") <= 5)
        .select(col("q_id"), col("pos_id"), col("pos_cos"),
          col("vec_id").as("neg_id"), col("cos").as("neg_cos"), col("nrk"))
        .orderBy("q_id", "nrk")
    }),

    // ── [ext] schema-evolution union: unionByName(allowMissingColumns)
    // (the reference's CSV-staging schema drift, handled relationally) ───
    "q82_union_by_name" -> ((s, dir) => {
      val ev = T(s, dir, "events").filter(col("event_id") < 2000)
      val v1 = ev.select(col("event_id"), col("user_id"), col("value"))
      val v2 = ev.filter(col("event_type") === "purchase")
        .select((col("event_id") + 1000000).as("event_id"),
          col("event_type"), col("user_id"))
      v1.unionByName(v2, allowMissingColumns = true)
        .select("event_id", "user_id", "value", "event_type")
        .orderBy("event_id")
    }),

    // ── [ext] stream-stream interval join (purchase→click attribution) ──
    "q84_stream_interval_join" -> ((s, dir) =>
      graft.streaming.EventStream.intervalJoined(s, dir)),

    // ── [ext] NATIVE as-of join: custom LogicalPlan + Strategy + exec ───
    // (plans.AsOfJoinPlan → sort-merge AsOfJoinExec: co-partition both
    // sides on the key, sort (key, ts), one merge pass — no union
    // materialization; q36 is the relational twin of this plan)
    "q85_asof_native" -> ((s, dir) => {
      val e = T(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      graft.operators.AsOf.asofBackward(purchases, clicks,
          Seq("user_id"), Seq("c_user"), "ts", "c_ts")
        .select(col("user_id"), col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
          date_format(col("c_ts"), "yyyy-MM-dd HH:mm:ss").as("prev_click_s"))
        .orderBy("event_id")
    }),

    // ── [north star] pattern mining: regexp_extract_all over documents ──
    "q83_regexp_extract_all" -> ((s, dir) => {
      val longs = regexp_extract_all(col("text"), lit("[a-z]{7,}"), lit(0))
      T(s, dir, "documents").select(col("doc_id"),
        size(longs).as("n_long"),
        // try_: ANSI element_at throws on the empty match list
        coalesce(try_element_at(longs, lit(1)), lit("")).as("first_long"))
        .orderBy("doc_id")
    }),

    // ── [ext] bucketed co-located join (physical-layout operator) ──────
    // Both sides written bucketBy(join key) + sortBy, so the sort-merge
    // join plans with NO Exchange and NO per-query Sort on either side
    // (BucketSpec asserts zero shuffles under the join): at 100 TB the
    // fact-table shuffle is paid once at ingest, then every join on the
    // key is movement-free. This is the engine form of the reference's
    // PARTITION BY date CLUSTER BY symbol layout
    // (src/db/bigquery/daily_stock_price.sql:16-17).
    "q86_bucketed_join" -> ((s, dir) => {
      // External tables at a fresh temp path: a managed table's location
      // can survive in spark-warehouse/ after the session (and its
      // in-memory catalog entry) is gone, and the next session's CREATE
      // then dies on "location already exists".
      val tmp = TempWork.fresh("bkt")
      T(s, dir, "lineitem").select("l_orderkey", "l_extendedprice")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$tmp/lineitem")
        .mode("overwrite").saveAsTable("graft_bkt_lineitem")
      T(s, dir, "orders").select("o_orderkey", "o_orderpriority")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$tmp/orders")
        .mode("overwrite").saveAsTable("graft_bkt_orders")
      s.table("graft_bkt_lineitem")
        // merge hint: keep the join on the bucketed sort-merge path (a
        // broadcast would also work at this SF but defeats the layout
        // demo and dies at 100 TB fact-to-fact sizes)
        .join(s.table("graft_bkt_orders").hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          Exact.moneySum(col("l_extendedprice")).as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // ── [ext] dynamic partition pruning over a partitioned layout ──────
    // Fact written partitionBy(event_type); the broadcast dim's filter
    // prunes fact PARTITIONS at runtime via the reused broadcast
    // (PruneSpec asserts dynamicpruningexpression in the scan). At
    // 100 TB: scan 3 of N partitions instead of the whole table.
    "q87_dpp_join" -> ((s, dir) => {
      val tmp = TempWork.fresh("dpp")
      T(s, dir, "events").select("event_id", "value", "event_type")
        .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
      val facts = s.read.parquet(tmp)
      // Dim must be a FILE-BACKED scan with a selective filter: a literal
      // Seq collapses to LocalTableScan at optimization time, and DPP's
      // hasSelectivePredicate then sees no Filter node → no pruning.
      val dim = T(s, dir, "events").select("event_type").distinct()
        .filter(col("event_type").isin("click", "purchase", "signup"))
        .withColumn("weight",
          when(col("event_type") === "purchase", 5)
            .when(col("event_type") === "signup", 3).otherwise(1))
      facts.join(broadcast(dim), Seq("event_type"))
        .groupBy("event_type", "weight")
        .agg(count(lit(1)).as("n"),
          Exact.moneySum(col("value") * col("weight")).as("weighted_value"))
        .orderBy("event_type")
    }),

    // ── [north star] embedding centroid pooling (avg per label/dim) ────
    // posexplode → two-stage hash agg (partial map-side combine both
    // stages); intermediate is labels×dim rows regardless of corpus
    // size, so the reduction is fully distributed.
    "q88_embed_centroids" -> ((s, dir) =>
      T(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("i", "v")))
        .groupBy("label", "i").agg(avg("v").as("c"))
        .groupBy("label").agg(
          count(lit(1)).as("dim"),
          round(sqrt(sum(col("c") * col("c"))), 3).as("centroid_norm"))
        .orderBy("label")),

    // ── [north star] int8 scalar quantization round-trip error ─────────
    // Per-vector symmetric int8 quantization (scale = max|v|/127) — the
    // storage/bandwidth lever for billion-vector ANN (4× smaller, SIMD
    // int8 dot products); reported as per-label reconstruction error in
    // LSB units so the DuckDB oracle replays it exactly.
    "q89_vec_quantize" -> ((s, dir) =>
      T(s, dir, "embeddings")
        .withColumn("emb", transform(col("embedding"), v => v.cast(DoubleType)))
        .withColumn("scale",
          greatest(array_max(transform(col("emb"), v => abs(v))), lit(1e-12))
            / lit(127.0))
        .withColumn("max_err", array_max(transform(col("emb"),
          v => abs(v - round(v / col("scale")) * col("scale")))))
        .groupBy("label").agg(
          count(lit(1)).as("n"),
          round(avg(col("max_err") / col("scale")), 3).as("avg_err_lsb"))
        .orderBy("label")),

    // ── [north star] leakage-safe train/valid/test split ───────────────
    // Split assignment keyed on the near-dup CLUSTER, not the document:
    // all members of a near-dup cluster land in the same split, so no
    // eval example has a training-set near-duplicate (the train/test
    // contamination mode a per-doc random split cannot prevent).
    // Content-stable hash → reproducible across runs/engines/partitions.
    "q90_leakage_safe_split" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val pairs = TextDedup.simhashNearDupsVerifiable(
        docs, "doc_id", "text", maxHamming = 3)
      val comps = graft.operators.Components
        .connectedComponents(pairs, "id_a", "id_b")
      val bucket = pmod(graft.ops.Sampling.shaHash60(col("cluster_id")), lit(10L))
      docs.join(comps, docs("doc_id") === comps("id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
        .withColumn("split",
          when(bucket < 8, "train").when(bucket < 9, "valid").otherwise("test"))
        .select("doc_id", "cluster_id", "split")
        .orderBy("doc_id")
    }),

    // ── [ext] Z-order (Morton) clustering key — native expression ──────
    // z_value interleaves (day index, user id) into one sort key; sorting
    // the layout by it clusters BOTH dimensions, so min/max stats prune
    // files/row-groups for predicates on EITHER column (ZOrderSpec shows
    // the locality win vs a date-only sort) — the multi-dimensional form
    // of the reference's CLUSTER BY symbol. Here the key feeds a coarse
    // spatial-cell rollup so the oracle replays the exact bit math.
    "q91_zorder_cells" -> ((s, dir) => {
      val day = greatest(
        datediff(to_date(col("ts")), to_date(lit("2024-01-01"))), lit(0))
        .cast(LongType)
      T(s, dir, "events")
        .withColumn("z", graft.functions.ZValue(
          day, col("user_id").cast(LongType), 11))
        .withColumn("cell", shiftright(col("z"), 10))
        .groupBy("cell")
        .agg(count(lit(1)).as("n"), Exact.moneySum(col("value")).as("total_value"))
        .orderBy("cell")
    }),

    // ── [north star] token-id encoding (text → tensor prep) ────────────
    // Corpus-frequency vocabulary (top-K by frequency, rank = id, 0 =
    // UNK; K=16 here so the synthetic corpus' 31-token vocabulary
    // exercises the UNK path — production would use 50k+). The vocab is
    // a bounded global top-K (one map-side-combined agg, K-row sort) and
    // comes back to the driver as a plan PARAMETER — like a query vector
    // or centroid matrix — embedded as a map literal. The encode pass is
    // then pure per-row expression work inside the scan's codegen:
    // NO explode, NO shuffle, NO join of the fact table at any corpus
    // size (the naive explode → re-group → join-back plan shuffles
    // every token twice). Output is an exact integer fingerprint of each
    // doc's id sequence (Σ (pos+1)·id) so the oracle replays the full
    // encoding, not just counts.
    "q92_token_ids" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val vocabRows = docs
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok")).limit(16)
        .select("tok").collect().map(_.getString(0)) // bounded by K
      val vocabMap = map(vocabRows.zipWithIndex.flatMap {
        case (tok, i) => Seq(lit(tok), lit(i + 1))
      }.toIndexedSeq: _*)
      val tk = TextOps.tokens(col("text"))
      // ANSI: element_at throws on a missing map key — try_ probes it
      val idOf = (t: Column) =>
        coalesce(try_element_at(vocabMap, t), lit(0)).cast(LongType)
      docs.select(col("doc_id"),
          size(tk).cast(LongType).as("n_tokens"),
          size(filter(tk, t => idOf(t) === 0L)).cast(LongType).as("n_unk"),
          // sequence(1, 0) infers step -1 → [1, 0]; guard the empty doc
          when(size(tk) === 0, lit(0L)).otherwise(aggregate(
            zip_with(tk, sequence(lit(1L), size(tk).cast(LongType)),
              (t, pos) => pos * idOf(t)),
            lit(0L), (acc, x) => acc + x)).as("ids_fingerprint"))
        .orderBy("doc_id")
    }),

    // ── [ext] dynamic partition overwrite (partition-level upsert) ─────
    // The lakehouse write path for the reference's daily incremental
    // sync: re-extracted days replace ONLY their own date partitions —
    // untouched partitions are not rewritten (OverwriteSpec asserts
    // file identity), so the daily write cost scales with the delta,
    // not the table. Contrast with q09/q10's row-level join merges.
    "q93_dynamic_partition_overwrite" -> ((s, dir) => {
      val tmp = TempWork.fresh("dpo")
      val e = T(s, dir, "events")
        .withColumn("event_date", to_date(col("ts")))
        .select("event_id", "user_id", "value", "event_date")
      e.write.partitionBy("event_date").mode("overwrite").parquet(tmp)
      // the Jan 10–14 re-extract arrives with corrected (doubled) values
      e.filter(col("event_date").between("2024-01-10", "2024-01-14"))
        .withColumn("value", col("value") * 2)
        .write.partitionBy("event_date").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(tmp)
      s.read.parquet(tmp)
        .groupBy(date_format(col("event_date"), "yyyy-MM-dd").as("event_date_s"))
        .agg(count(lit(1)).as("n"), Exact.moneySum(col("value")).as("total_value"))
        .orderBy("event_date_s")
    }),

    // ── [ext] one-pass data-quality audit (the reference's test-layer
    // assertions as an engine operator: N constraints = N conditional
    // counts in ONE scan, not N scans; NULL predicate counts as fail) ──
    "q94_quality_audit" -> ((s, dir) =>
      graft.ops.Audit.audit(T(s, dir, "lineitem"), Seq(
        "l_quantity_le_25" -> (col("l_quantity") <= 25),
        "l_discount_le_5pct" -> col("l_discount").between(0, 0.05),
        "l_shipdate_not_null" -> col("l_shipdate").isNotNull,
        "l_extendedprice_positive" -> (col("l_extendedprice") > 0),
        "l_returnflag_domain" -> col("l_returnflag").isin("A", "N", "R")))),

    // ── [ext] stream-static broadcast enrichment (stateless lookup) ────
    "q95_stream_enrich" -> ((s, dir) =>
      graft.streaming.EventStream.enrichedTotals(s, dir)),

    // ── [north star] sequence packing: fixed token-budget packs per lang
    "q96_sequence_pack" -> ((s, dir) =>
      Corpus.packSequences(T(s, dir, "documents"), "doc_id", "text",
        groupCol = "lang", tokenBudget = 512)
        .orderBy("lang", "pack_id")),

    // ── [north star] context-window chunking (overlap = size - stride) ─
    "q97_chunk_windows" -> ((s, dir) =>
      Corpus.chunk(T(s, dir, "documents"), "doc_id", "text",
        size = 200, stride = 150)
        .orderBy("doc_id", "chunk_idx")),

    // ── [north star] PII redaction + audit counts. The fixture text is
    // PII-free, so a deterministic dirty column (email + numeric ref
    // derived from doc_id) is synthesized first; the oracle replays the
    // same construct → redact → count pipeline byte-for-byte ───────────
    "q98_pii_redact" -> ((s, dir) => {
      val dirty = T(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast(StringType), lit("@mail.example.com ref "),
          (col("doc_id") * 7919 + 1000000).cast(StringType)).as("dirty"))
      Corpus.redactPii(dirty, "doc_id", "dirty").orderBy("doc_id")
    }),

    // ── [north star] repetition quality gate (dup word/bigram fractions)
    "q99_repetition_filter" -> ((s, dir) =>
      Corpus.repetitionStats(T(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // ── [north star] incremental batch-vs-corpus dedup: the daily
    // re-extract guard on a corpus (batch = every 7th doc re-crawled,
    // every 3rd of those genuinely changed → only changed rows survive)
    "q100_incremental_dedup" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val batch = docs.filter(col("doc_id") % 7 === 0).select(
        (col("doc_id") + 1000000).as("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      Corpus.dedupAgainstCorpus(docs, batch, "doc_id", "text")
        .select("doc_id").orderBy("doc_id")
    }),

    // ── [north star] composed curation pipeline: repetition gate →
    // exact dedup → 4-gram decontamination vs the src0 eval set →
    // deterministic per-lang cap → per-lang kept-docs/kept-tokens summary
    "q101_curate_pipeline" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      Corpus.curate(d.filter(col("source") =!= "src0"), "doc_id", "text",
        groupCol = "lang", evalSet = d.filter(col("source") === "src0"),
        capPerGroup = 40).orderBy("lang")
    }),

    // ── [ext] streaming sessionization: session_window state merged
    // across micro-batches (events split by id parity → nearly every
    // session spans both batches); result ≡ the batch q61 aggregation
    "q102_stream_sessions" -> ((s, dir) =>
      graft.streaming.EventStream.sessionTotals(s, dir)),

    // ── [ext] streaming merge sink: foreachBatch + join-rewrite upsert
    // into a parquet destination with per-batchId commit markers (the
    // exactly-once "stream → MERGE INTO table" production pattern).
    // Each micro-batch folds associative partials (count/decimal-sum/
    // greatest) into the table, so the result is identical for any
    // batch split and a DuckDB batch oracle checks it bit-for-bit. ─────
    "q107_stream_merge_sink" -> ((s, dir) =>
      graft.streaming.EventStream.mergedUserTotals(s, dir)),

    // ── [north star] inverted index: token → document-frequency +
    // bounded posting list (the 10 smallest doc_ids). The IR backbone
    // for exact-phrase lookup and dedup tooling over a corpus. The
    // aggregation STATE is bounded before buffering: collect_list over
    // when(rn<=10, doc_id) skips the null it yields past rank 10, so a
    // head token's aggregator holds 10 ids + a count — a plain
    // collect-then-slice would buffer EVERY posting of "the". All rows
    // still flow through (df counts the full posting set, so rank
    // pruning of ROWS is impossible by construction); the per-partition
    // sort feeding the window is the index build's inherent O(n log n).
    // The aggregate runs on the window's token exchange — no shuffle of
    // its own. min_df=25 prunes the tail at the aggregate; postings are
    // emitted comma-joined so the oracle compares exactly. Full posting
    // lists at 100 TB would instead partition the index by
    // (token, doc-range) — the cap is the state-bounding choice. ───────
    "q109_inverted_index" -> ((s, dir) => {
      val toks = T(s, dir, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
        .distinct() // document frequency counts each doc once
      val wTok = Window.partitionBy("tok").orderBy("doc_id")
      toks.withColumn("rn", row_number().over(wTok))
        .groupBy("tok")
        .agg(count(lit(1)).as("df"),
          concat_ws(",", transform(
            array_sort(collect_list(when(col("rn") <= 10, col("doc_id")))),
            _.cast(StringType))).as("postings"))
        .filter(col("df") >= 25)
        .orderBy("tok")
    }),

    // ── [north star] BM25 ranked retrieval over the corpus (k1=1.2,
    // b=0.75; idf as the (N-df+0.5)/(df+0.5) RATIO, not its log — log is
    // not correctly-rounded by IEEE so engines may differ in the last
    // ulp, while +,-,*,/ are exact-rounded and reproduce bit-for-bit;
    // the ratio keeps per-term monotonicity, documented deviation).
    // Zero-shuffle tf: per-term counts via size(filter(tokens)) inside
    // the scan projection — no explode, no (doc,term) exchange. All
    // corpus statistics (N, Σdl, per-term df) come from ONE global
    // partial-aggregate row broadcast back to the scan; per-term scores
    // add in fixed syntactic order so double addition is deterministic.
    // Top-20 via TakeOrderedAndProject. ────────────────────────────────
    "q110_bm25_topk" -> ((s, dir) =>
      bm25Scored(s, dir, Seq("join", "stream", "window"))
        .filter(col("score") > 0)
        .select(col("doc_id"), col("score"),
          col("tf_join").cast(LongType), col("tf_stream").cast(LongType),
          col("tf_window").cast(LongType))
        .orderBy(col("score").desc, col("doc_id")).limit(20)),

    // ── [ext] snapshot diff: keyed reconciliation of two table versions
    // (the "what changed since yesterday" audit every sync pipeline
    // runs). One full-outer join on the key; row status from null-side
    // tests plus a value compare; unchanged rows — the overwhelming
    // majority at scale — are filtered out BEFORE the output sort, so
    // the result is proportional to the churn, not the table. Snapshots
    // here are deterministic slices of the events fixture (B drops some
    // of A's rows, adds others, and rewrites every 11th value). ────────
    "q111_snapshot_diff" -> ((s, dir) => {
      val e = T(s, dir, "events").select("event_id", "event_type", "value")
      val snapA = e.filter(col("event_id") % 7 =!= 1)
        .select(col("event_id"), col("event_type").as("type_a"),
          col("value").as("value_a"))
      val snapB = e.filter(col("event_id") % 5 =!= 2)
        .select(col("event_id"), col("event_type").as("type_b"),
          when(col("event_id") % 11 === 0, col("value") + lit(1.0))
            .otherwise(col("value")).as("value_b"))
      snapA.join(snapB, Seq("event_id"), "full_outer")
        .withColumn("status",
          when(col("type_b").isNull, lit("removed"))
            .when(col("type_a").isNull, lit("added"))
            .when(col("value_a") =!= col("value_b"), lit("changed"))
            .otherwise(lit("unchanged")))
        .filter(col("status") =!= "unchanged")
        .select("event_id", "status", "value_a", "value_b")
        .orderBy("event_id")
    }),

    // ── [ext] CDC apply: fold a change log (insert/update/delete ops)
    // into final table state — last op per key wins, and a trailing
    // DELETE erases the key (the semantics plain upsert can't express).
    // One shuffle: per-key argmax window ordered by (ts, event_id), then
    // the delete filter. The reference's event_type stands in for the
    // op column: click→I, view→U, purchase→D. ─────────────────────────
    "q112_cdc_apply" -> ((s, dir) => {
      val log = T(s, dir, "events").select(col("user_id"),
        col("ts"), col("event_id"), col("value"),
        when(col("event_type") === "click", lit("I"))
          .when(col("event_type") === "view", lit("U"))
          .otherwise(lit("D")).as("op"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      log.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .filter(col("op") =!= "D")
        .select(col("user_id"), col("op"), col("value"))
        .orderBy("user_id")
    }),

    // ── [north star] deterministic corpus shuffle: the global training
    // order comes from a seeded content-stable hash, positioned by the
    // scale-safe two-phase Ranking (range-partition on the hash → local
    // row_number + broadcast offsets; no single-reducer window).
    // Reruns, repartitions, and engine versions all produce the
    // identical order — the property a resumable 100 TB training run
    // needs from its shuffle; shard = pos mod 8 gives the balanced
    // shard assignment for the data loader. ───────────────────────────
    "q104_corpus_shuffle" -> ((s, dir) => {
      val seeded = T(s, dir, "documents").select(col("doc_id"),
        graft.ops.Sampling.shaHash60(
          concat(col("doc_id").cast(StringType), lit(":42"))).as("shuffle_key"))
      Ranking.withGlobalRank(seeded, "pos", "__N",
          col("shuffle_key").asc, col("doc_id").asc)
        .select(col("doc_id"), col("shuffle_key"), col("pos"),
          pmod(col("pos") - 1, lit(8L)).cast(IntegerType).as("shard"))
        .orderBy("doc_id")
    }),

    // ── [north star] source-mixing audit: per-source target sampling
    // rates (plan parameters) applied as a deterministic hash-threshold
    // keep-predicate, reported as achieved-vs-target mix in ONE scan —
    // conditional aggregation, not filter+join, so the nightly
    // "is the mix drifting" check costs one map-side pass plus a
    // group-by-source shuffle of |sources| rows. src0 is the eval
    // set: rate 0, never trained on. ──────────────────────────────────
    "q105_source_mixing" -> ((s, dir) => {
      val rate = when(col("source") === "src0", lit(0L))
        .when(col("source") === "src1", lit(100L))
        .when(col("source") === "src2", lit(50L))
        .otherwise(lit(20L))
      val keep =
        pmod(graft.ops.Sampling.shaHash60(col("doc_id")), lit(100L)) < rate
      T(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(keep, lit(1L)).otherwise(lit(0L))).as("n_kept"),
          sum(when(keep, col("n_chars").cast(LongType)).otherwise(lit(0L)))
            .as("kept_chars"),
          max(rate).as("target_pct"))
        .orderBy("source")
    }),

    // ── [north star] global quality gate: keep EXACTLY the top quarter
    // of the corpus by quality score — an exact global quantile via the
    // two-phase Ranking, so the cut is reproducible document-for-
    // document (audited corpus releases). When exactness isn't
    // required, the cheap path is an approx_percentile threshold
    // broadcast against the scan; this is the exact form. ─────────────
    "q106_quality_gate" -> ((s, dir) => {
      val scored = T(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextOps.qualityScore(col("text")).as("quality"))
      Ranking.withGlobalRank(scored, "rk", "__N",
          col("quality").desc, col("doc_id").asc)
        .filter(col("rk") * lit(4L) <= col("__N"))
        .select("doc_id", "lang", "quality", "rk")
        .orderBy("doc_id")
    }),

    // ── [ext] numeric column profiling: the "ANALYZE TABLE" pass every
    // ingest runs before trusting a new drop. ONE aggregation computes
    // (non-null count, exact distinct count, min, max) for every column;
    // the per-column rows come from `stack` over that single row, so the
    // table is scanned once no matter how many columns are profiled.
    // The multi-count-distinct plans through Spark's Expand (input ×
    // #columns before partial aggregation) — the exact form; a 100 TB
    // profile would swap count_distinct for approx_count_distinct and
    // keep the identical shape. ─────────────────────────────────────────
    "q114_profile" -> ((s, dir) => {
      val pcols = Seq("event_id", "user_id", "value")
      val aggs = count(lit(1)).as("n_rows") +: pcols.flatMap(c => Seq(
        count(col(c)).as(s"nn_$c"),
        count_distinct(col(c)).as(s"nd_$c"),
        min(col(c)).cast(DoubleType).as(s"mn_$c"),
        max(col(c)).cast(DoubleType).as(s"mx_$c")))
      val stackArgs = pcols.map(c =>
        s"'$c', n_rows - nn_$c, nd_$c, mn_$c, mx_$c").mkString(", ")
      // Probed (round 14): the Expand+partial-agg runs on the
      // fixture's single scan split (430 of ~760 job-ms in one task),
      // but a repartition fan-out measured WORSE (1.13s vs 0.81s —
      // the extra exchange of 1M rows costs more than the single-task
      // expand saves; the distinct aggregates shuffle everything
      // anyway). Floor at this fixture shape; at corpus scale the
      // scan arrives already wide.
      T(s, dir, "events").agg(aggs.head, aggs.tail: _*)
        .selectExpr(s"stack(${pcols.size}, $stackArgs) AS " +
          "(column_name, n_nulls, n_distinct, min_v, max_v)")
        .orderBy("column_name")
    }),

    // ── [ext] per-group outlier detection: events whose value sits more
    // than 3σ from their user's mean. Mean and variance come from
    // DECIMAL-exact Σv and Σv² window aggregates over ONE exchange on
    // user_id (no agg+join-back second shuffle), converted to double
    // only at the final mean/var arithmetic — the identical IEEE
    // expression shape on both engines, so the 3σ cut is bit-exact and
    // independent of shuffle layout. ───────────────────────────────────
    "q115_outliers" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
      val vdec = col("value").cast(DecimalType(18, 2))
      val nD = col("cnt").cast(DoubleType)
      val mean = col("s1").cast(DoubleType) / nD
      val varE = col("s2").cast(DoubleType) / nD - mean * mean
      val dev = col("value") - mean
      T(s, dir, "events")
        .withColumn("s1", sum(vdec).over(w))
        .withColumn("s2", sum((vdec * vdec).cast(DecimalType(38, 4))).over(w))
        .withColumn("cnt", count(lit(1)).over(w))
        .filter(col("cnt") >= 20 && dev * dev > lit(9.0) * varE)
        .select(col("event_id"), col("user_id"), col("value"),
          mean.as("grp_mean"), varE.as("grp_var"))
        .orderBy("event_id")
    }),

    // ── [ext] triangle counting on the co-purchase graph (parts that
    // share an urgent order). Degree-ordered edge orientation (Cohen
    // 2009) — see operators/Graph.scala for why the naive triangle join
    // is quadratic in hub degree and this one is not. Output: top-20
    // parts by triangle participation. Integer counts → exact on any
    // engine. ──────────────────────────────────────────────────────────
    "q118_triangles" -> ((s, dir) => {
      val edges = urgentEdges(s, dir)._1
      graft.operators.Graph.triangleParticipation(edges)
        .orderBy(col("n_tri").desc, col("vertex"))
        .limit(20)
        .select(col("vertex").as("part"), col("n_tri"))
    }),

    // ── [ext] time-grid resample + linear interpolation: per-user daily
    // purchase series gap-filled onto a dense date grid (the feature-
    // engineering staple). Per-day argmax pick, grid via sequence()
    // (DuckDB: generate_series), then interpolation from the last/next
    // observed day with forward/back-fill at the edges — all windows
    // share the ONE user_id exchange, and the interpolation arithmetic
    // (integer day deltas, exact-rounded double ops in identical shape)
    // reproduces bit-for-bit cross-engine. ─────────────────────────────
    "q119_resample" -> ((s, dir) => {
      val perDay = Dedup.argmaxWindow(
        T(s, dir, "events").filter(col("event_type") === "purchase")
          .withColumn("d", to_date(col("ts"))),
        Seq("user_id", "d"), Seq(col("ts").desc, col("event_id").desc))
        .select(col("user_id"), col("d"), col("value"))
      val grid = perDay.groupBy("user_id")
        .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"))).as("d"))
      val wAll = Window.partitionBy("user_id").orderBy("d")
      val wPrev = wAll.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = wAll.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val filled = grid.join(perDay, Seq("user_id", "d"), "left")
        .withColumn("pv", last(col("value"), ignoreNulls = true).over(wPrev))
        .withColumn("pd", last(when(col("value").isNotNull, col("d")),
          ignoreNulls = true).over(wPrev))
        .withColumn("nv", first(col("value"), ignoreNulls = true).over(wNext))
        .withColumn("nd", first(when(col("value").isNotNull, col("d")),
          ignoreNulls = true).over(wNext))
      val frac = datediff(col("d"), col("pd")).cast(DoubleType) /
        datediff(col("nd"), col("pd")).cast(DoubleType)
      filled.select(col("user_id"), col("d"),
        when(col("value").isNotNull, col("value"))
          .when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .otherwise(col("pv") + (col("nv") - col("pv")) * frac)
          .as("v_filled"),
        col("value").isNotNull.as("observed"))
        .orderBy("user_id", "d")
    }),

    // ── [north star] hybrid retrieval: reciprocal-rank fusion (Cormack
    // et al., SIGIR'09) of the BM25 lexical ranking (q110) and the
    // embedding-cosine ranking (q30) — the standard RAG retrieval stack.
    // Each modality contributes its top-100 CANDIDATES (TakeOrdered, a
    // plan parameter); ranks are assigned by a window over those ≤100
    // rows — bounded-k, NOT a corpus-wide single-reducer sort — and
    // rrf = Σ 1/(60+rank) adds the two modality terms in fixed order, so
    // the fused scores are exact-rounded doubles on any engine. A doc
    // ranked by only one modality keeps the other term at 0 (full outer
    // join), standard RRF semantics. ───────────────────────────────────
    "q113_hybrid_rrf" -> ((s, dir) => {
      val bmTop = bm25Scored(s, dir, Seq("join", "stream", "window"))
        .filter(col("score") > 0)
        .orderBy(col("score").desc, col("doc_id")).limit(100)
      val bmR = bmTop.withColumn("r_bm", row_number()
          .over(Window.orderBy(col("score").desc, col("doc_id"))).cast(LongType))
        .select(col("doc_id").as("id"), col("r_bm"))
      val e = T(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      val cosTop = e.crossJoin(broadcast(qv)).filter(col("vec_id") =!= 0)
        .withColumn("sim", VectorOps.cosine(col("embedding"), col("qv")))
        .orderBy(col("sim").desc, col("vec_id")).limit(100)
      val cosR = cosTop.withColumn("r_cos", row_number()
          .over(Window.orderBy(col("sim").desc, col("vec_id"))).cast(LongType))
        .select(col("vec_id").as("id"), col("r_cos"))
      bmR.join(cosR, Seq("id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60.0) + col("r_bm").cast(DoubleType)), lit(0.0))
            + coalesce(lit(1.0) / (lit(60.0) + col("r_cos").cast(DoubleType)), lit(0.0)))
        .orderBy(col("rrf").desc, col("id")).limit(20)
        .select(col("id"), col("rrf"), col("r_bm"), col("r_cos"))
    }),

    // ── [north star] weighted systematic sampling: pick ~k documents
    // with probability proportional to length by walking the cumulative
    // weight axis in strides of total/k — the classic PPS design for
    // corpus subsampling. The cumulative weights come from the two-phase
    // Ranking.withPrefixSum (range partition → local running sums →
    // broadcast offsets; no single-reducer window), and selection is
    // pure INTEGER arithmetic (div), so the chosen set is bit-exact on
    // any engine and any partitioning — a reproducible sample manifest
    // at 100 TB. ───────────────────────────────────────────────────────
    "q116_weighted_sample" -> ((s, dir) => {
      val k = 100L
      val docs = T(s, dir, "documents")
        .select(col("doc_id"), col("n_chars").cast(LongType).as("w"))
      Ranking.withPrefixSum(docs, "cum", "__T", col("w"), col("doc_id").asc)
        .filter(expr(s"(cum div (__T div $k)) > ((cum - w) div (__T div $k))"))
        .select(col("doc_id"), col("w"), col("cum"))
        .orderBy("doc_id")
    }),

    // ── [ext] heavy hitters: top tokens via the SpaceSaving bounded-
    // state sketch (functions/SpaceSaving.scala) — O(m) aggregation
    // state instead of shuffling the full vocabulary. m=64 exceeds the
    // fixture vocabulary, so the sketch is provably exact here and a
    // plain GROUP BY oracle verifies it (the KMV q59 pattern); the
    // evicting regime's error bound is covered by SpaceSavingSpec. ─────
    "q117_heavy_hitters" -> ((s, dir) => {
      import graft.functions.SpaceSaving
      T(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .agg(SpaceSaving(col("tok"), 64).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.token").as("token"), col("e.cnt").as("n"),
          col("e.err").as("err_bound"))
        .orderBy(col("n").desc, col("token")).limit(10)
    }),

    // ── [ext] integer-exact Lloyd k-means over embeddings (SemDeDup's
    // clustering stage): vectors quantize to floor(v·1024) bigints once,
    // assignment is row-local codegen'd expression work against a k×dim
    // centroid plan parameter (zero joins/shuffles), each iteration pays
    // one ≤ k·dim-row centroid aggregate; every step — quantize, bigint
    // Σ(x−c)², floor(Σ/n) update, smallest-cid ties — replays in SQL ──
    "q148_kmeans" -> ((s, dir) => {
      val q = T(s, dir, "embeddings")
        .select(col("vec_id"),
          graft.operators.Clustering.quantize(col("embedding")).as("qv"))
      graft.operators.Clustering.kmeansAssign(q, "vec_id", k = 4, iters = 2)
        .select("vec_id", "cid")
        .orderBy("vec_id")
    }),

    // ── [ext] BPE merge learning: the tokenizer-training step q92/q140
    // take as given — per round ONE weighted pair-count aggregate whose
    // argmax returns to the driver as the next plan parameter; merge
    // application is a row-local fold (no join/shuffle/explode at rest);
    // corpus size enters only through the initial word-count ───────────
    "q150_bpe_merges" -> ((s, dir) =>
      graft.operators.Bpe.learnMerges(T(s, dir, "documents"), "text", nMerges = 3)
        .orderBy("step")),

    // ── [ext] KMV set algebra: pairwise audience overlap between event
    // types estimated from the 64-hash sketches ALONE (KMV is a lattice:
    // the k smallest of a union are drawn from the operands' k smallest,
    // so U_k comes from merging sketches, never raw data). Estimator:
    // Ĵ = |U_k ∩ A ∩ B| / |U_k| (Beyer et al., SIGMOD'07). The raw table
    // enters once — one groupBy for the 5 sketches; the pair join is
    // 5×5 sketch rows. Every step is deterministic set arithmetic, so
    // the estimate replays bit-for-bit. ────────────────────────────────
    "q152_kmv_jaccard" -> ((s, dir) => {
      val k = 64
      val sk = T(s, dir, "events").groupBy("event_type")
        .agg(graft.functions.KMinValues(
          graft.ops.Sampling.shaHash60(col("user_id")), k).as("kmv"))
      val a = sk.select(col("event_type").as("type_a"), col("kmv").as("sa"))
      val b = sk.select(col("event_type").as("type_b"), col("kmv").as("sb"))
      a.join(b, col("type_a") < col("type_b"))
        .withColumn("uk", slice(array_sort(array_union(col("sa"), col("sb"))),
          1, k))
        .select(col("type_a"), col("type_b"),
          size(col("uk")).cast("long").as("n_union_k"),
          size(array_intersect(col("uk"),
            array_intersect(col("sa"), col("sb")))).cast("long").as("n_both"),
          (size(array_intersect(col("uk"),
            array_intersect(col("sa"), col("sb")))).cast(DoubleType) /
            size(col("uk")).cast(DoubleType)).as("j_est"))
        .orderBy("type_a", "type_b")
    }),

    // ── [ext] streaming Count-Min: the q146 sketch inside a micro-batch
    // pipeline (parity-split stream, grid partials merged in the state
    // store); element-wise-add merge is order-free, so stream ≡ batch
    // bit-for-bit and the batch oracle checks a streaming pipeline ─────
    "q151_stream_countmin" -> ((s, dir) =>
      graft.streaming.EventStream.sketchTotals(s, dir)),

    // ── [north star] bloom-prefiltered decontamination: q65's semantics
    // on the huge-eval-set scale path — the bench shingle set folds into
    // a constant bloom sketch (KBs at any set size) instead of an exact
    // broadcast, might_contain drops clean shingles at the scan, exact
    // semi join confirms; result IDENTICAL to q65 (same oracle) ────────
    // ── [ext] grouped MAD robust outliers: median absolute deviation
    // per type via TWO passes of the exact two-phase quantile operator
    // (median, then median of |v − median|), robust z-cut at
    // 3·1.4826·MAD — the outlier gate that, unlike q115's 3σ, a few
    // extreme points cannot drag; rank-based medians are actual data
    // values, so the whole chain replays exactly ────────────────────────
    "q198_grouped_mad" -> ((s, dir) => {
      import s.implicits._
      // Structural fix over the round-13 shape: the per-group
      // medians/MADs are PLAN PARAMETERS (a handful of rows), so they
      // are collected and re-literalized instead of re-running the
      // lazy candidate pass once per downstream consumer (the med pass
      // ran twice, the dev derivation three times). Probed (round 14):
      // repartition/localCheckpoint fan-out experiments both measured
      // WORSE in paired windows — five short jobs at the fixture's
      // scan parallelism are the floor; the operator's own two-pass
      // scale shape is unchanged.
      val e = T(s, dir, "events")
        .select("event_type", "value", "event_id")
      val med = graft.operators.Quantiles.twoPassExact(
        e, "event_type", "value", "event_id", Seq(0.5), 50.0)
        .select(col("event_type"), col("n"), col("p50").as("median"))
        .collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      val medDf = med.toDF("event_type", "n", "median")
      val dev = e.join(broadcast(medDf.select("event_type", "median")),
        "event_type")
        .withColumn("adev", abs(col("value") - col("median")))
      val mad = graft.operators.Quantiles.twoPassExact(
        dev, "event_type", "adev", "event_id", Seq(0.5), 25.0)
        .select(col("event_type"), col("p50").as("mad"))
        .collect().toSeq
        .map(r => (r.getString(0), r.getDouble(1)))
      val madDf = mad.toDF("event_type", "mad")
      dev.join(broadcast(madDf), "event_type")
        .groupBy("event_type")
        .agg(max("median").as("median"), max("mad").as("mad"),
          sum(when(col("adev") > lit(3.0) * lit(1.4826) * col("mad"), 1L)
            .otherwise(0L)).as("n_outliers"))
        .join(broadcast(medDf.select(col("event_type"), col("n"))),
          "event_type")
        .select(col("event_type"), col("n"), col("median"), col("mad"),
          col("n_outliers"))
        .orderBy("event_type")
    }),

    // ── [north star] corpus report ("dataset nutrition label"): the
    // one-stop release summary a corpus ships with — volume, token
    // mass, mean length, exact-duplicate mass, repetition-gate failures,
    // language/source spread — as labeled metric rows; two scans: ONE
    // fused expression pass (volume + token mass + spread + the
    // repetition gate all ride the same tokenizer output — the
    // round-13 shape paid the tokenizer on two separate scans) plus
    // the content-hash dedup aggregate, which needs its own shuffle
    // but never tokenizes ───────────────────────────────────────────────
    "q196_corpus_report" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      // the fixture is ONE parquet file (one scan task): without an
      // explicit fan-out the tokenizer+bigram expression work — the
      // query's whole cost — serializes on a single core (StageProbe:
      // 584 of 886 job-ms in that one task). The repartition shuffles
      // only the raw docs (MBs) and buys 32-way expression parallelism;
      // at corpus scale the input is many files and the exchange is
      // already there.
      val fanned = d.repartition(s.sparkContext.defaultParallelism)
      val base = graft.operators.Corpus
        .repetitionAugmented(fanned, "text")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          sum(when(col("keep"), 0L).otherwise(1L)).as("n_rep_flagged"))
      val dup = d.groupBy(sha2(col("text"), 256).as("h"))
        .agg(count(lit(1)).as("c"))
        .agg(sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_docs"),
          sum(when(col("c") > 1, 1L).otherwise(0L)).as("dup_groups"))
      base.crossJoin(dup)
        .selectExpr("stack(8," +
          " 'n_docs', CAST(n_docs AS DOUBLE)," +
          " 'n_tokens', CAST(n_tokens AS DOUBLE)," +
          " 'mean_chars', CAST(n_chars AS DOUBLE) / CAST(n_docs AS DOUBLE)," +
          " 'n_langs', CAST(n_langs AS DOUBLE)," +
          " 'n_sources', CAST(n_sources AS DOUBLE)," +
          " 'rep_flagged', CAST(n_rep_flagged AS DOUBLE)," +
          " 'dup_docs', CAST(dup_docs AS DOUBLE)," +
          " 'dup_groups', CAST(dup_groups AS DOUBLE))" +
          " AS (metric, value)")
        .orderBy("metric")
    }),

    // ── [north star] cross-source duplication matrix: WHICH sources
    // share content — documents keyed by their 10-token head fingerprint
    // (boilerplate/template openings; full-text exact dups are q21's
    // key), groups expanded to ordered source pairs with shared-group
    // and doc-pair counts; the provenance diagnostic behind mixing
    // weights and dedup policy ──────────────────────────────────────────
    "q197_source_dup_matrix" -> ((s, dir) => {
      val head10 = sha2(concat_ws(" ",
        slice(graft.functions.TextOps.tokens(col("text")), 1, 10)), 256)
      val g = T(s, dir, "documents")
        .groupBy(head10.as("h"), col("source"))
        .agg(count(lit(1)).as("c"))
      g.alias("a").join(g.alias("b"), Seq("h"))
        .filter(col("a.source") <= col("b.source") &&
          (col("a.source") < col("b.source") || col("a.c") > 1))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("shared_groups"),
          // cross cell: a.c·b.c doc pairs; diagonal: C(c,2) true pairs
          sum(when(col("a.source") < col("b.source"),
            col("a.c") * col("b.c"))
            .otherwise(expr("(a.c * (a.c - 1)) div 2"))).as("dup_pairs"))
        .orderBy("src_a", "src_b")
    }),

    // ── [ext] Mann-Whitney U (nonparametric two-sample test): purchase
    // vs view value distributions — the rank-sum complement to q134's
    // t-test. Ranks come tie-corrected from the VALUE-COMPRESSED
    // relation (one row per distinct value with per-side counts), rank
    // positions from the two-phase prefix sum (no single-reducer
    // window), and every quantity stays integer: average ranks are
    // half-integers, so Σ 2·na·rank folds as bigints and U divides by
    // 2.0 exactly once at the end ───────────────────────────────────────
    "q194_mann_whitney" -> ((s, dir) => {
      val v = T(s, dir, "events")
        .filter(col("event_type").isin("purchase", "view"))
        .groupBy("value").agg(
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("na"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("nb"))
      val cnt = col("na") + col("nb")
      val ps = graft.operators.Ranking.withPrefixSum(
        v, "cum_t", "T", cnt, col("value").asc)
      // 2·R1 contribution per value group: 2·na·start + na·(cnt+1)
      val h = ps.select(col("na"), col("nb"),
        (lit(2L) * col("na") * (col("cum_t") - cnt) +
          col("na") * (cnt + 1)).as("hterm"))
      val a = h.agg(sum("na").as("n1"), sum("nb").as("n2"),
        sum("hterm").as("hsum"))
      val u2x = col("hsum") - col("n1") * (col("n1") + 1)
      a.select(col("n1"), col("n2"),
        (u2x.cast(DoubleType) / lit(2.0)).as("u"),
        (lit(1.0) - u2x.cast(DoubleType) /
          (col("n1") * col("n2")).cast(DoubleType)).as("rank_biserial"))
    }),

    // ── [ext] two-sample Kolmogorov–Smirnov drift statistic: max
    // |F̂_a − F̂_b| between purchase and view value distributions — the
    // distribution-drift gate a data pipeline runs between corpus
    // versions. Evaluated at value-group boundaries (tie-clean), CDFs as
    // integer cumulative counts from two prefix-sum passes, D's
    // numerator maximized in bigint cross-multiplied form — one double
    // division at the end ───────────────────────────────────────────────
    "q195_ks_drift" -> ((s, dir) => {
      val v = T(s, dir, "events")
        .filter(col("event_type").isin("purchase", "view"))
        .groupBy("value").agg(
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("na"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("nb"))
      val p1 = graft.operators.Ranking.withPrefixSum(
        v, "cum_a", "Ta", col("na"), col("value").asc)
      val p2 = graft.operators.Ranking.withPrefixSum(
        p1, "cum_t", "T", col("na") + col("nb"), col("value").asc)
      val n1 = col("Ta")
      val n2 = col("T") - col("Ta")
      val dnum = abs(col("cum_a") * n2 - (col("cum_t") - col("cum_a")) * n1)
      p2.agg(max(n1).as("n1"), max(n2).as("n2"), max(dnum).as("d_num"))
        .select(col("n1"), col("n2"), col("d_num"),
          (col("d_num").cast(DoubleType) /
            (col("n1") * col("n2")).cast(DoubleType)).as("d"))
    }),

    // ── [ext] FULL OUTER stream-stream join: completes the inner (q84) /
    // left-outer (q131) matrix — matched pairs plus watermark-proven
    // unmatched rows from BOTH sides; sentinel batches flush both tails ─
    "q192_stream_full_outer" -> ((s, dir) =>
      graft.streaming.EventStream.fullOuterJoined(s, dir)),

    // ── [ext] time-decayed scoring, EXACT: per-user half-life-decayed
    // value total — ages bucket into k = (max_day − day) div 7, per-(user,
    // k) DECIMAL-exact sums, weight 1/2^k an exact power-of-two double,
    // and the ≤ 41-element fold runs in k order — the leaderboard /
    // freshness-weighted aggregate with no order-dependent float sums ───
    "q193_decayed_score" -> ((s, dir) => {
      val e = T(s, dir, "events")
      val maxDay = e.agg(max(to_date(col("ts")))).head().getDate(0)
      val buckets = e.groupBy(col("user_id"),
          least(expr(s"datediff(DATE'$maxDay', to_date(ts)) div 7"),
            lit(40L)).as("k"))
        .agg(sum(col("value").cast(Exact.Money)).as("p"))
      buckets
        .withColumn("w", col("p").cast(DoubleType) /
          expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(k AS INT)) AS DOUBLE)"))
        .groupBy("user_id")
        .agg(aggregate(array_sort(collect_list(struct(col("k"), col("w")))),
          lit(0.0), (acc, x) => acc + x.getField("w")).as("decayed_score"))
        .orderBy("user_id")
    }),

    // ── [ext] ratio-to-report: each (type, day) cell's share of its
    // type's total and of the grand total — the BI contribution
    // primitive; DECIMAL-exact cell/total sums, shares as one double
    // division each, the grand total a broadcast one-row aggregate ──────
    "q189_ratio_to_report" -> ((s, dir) => {
      val daily = T(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast(Exact.Money)).as("tvd"))
      val byType = daily.groupBy("event_type")
        .agg(sum("tvd").as("type_total"))
      val grand = daily.agg(sum("tvd").as("grand_total"))
      daily.join(broadcast(byType), "event_type").crossJoin(broadcast(grand))
        .select(col("event_type"), col("day"),
          col("tvd").cast(DoubleType).as("tv"),
          (col("tvd").cast(DoubleType) / col("type_total").cast(DoubleType))
            .as("share_of_type"),
          (col("tvd").cast(DoubleType) / col("grand_total").cast(DoubleType))
            .as("share_of_total"))
        .orderBy("event_type", "day")
    }),

    // ── [ext] regex sequence matching (MATCH_RECOGNIZE-lite): per
    // (user, day) journeys reduced to an initials string under the
    // (ts, event_id) total order, then classified by pattern regexes —
    // "one or more views, then a click, ending in purchase" as
    // `^v+c.*p$` — the CEP-style declarative sequence query; one
    // user-day exchange, row-local regex ────────────────────────────────
    "q190_pattern_regex" -> ((s, dir) => {
      val paths = T(s, dir, "events")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"),
            col("event_type")))),
          x => substring(x.getField("event_type"), 1, 1)), "").as("sig"))
      paths.agg(count(lit(1)).as("n_journeys"),
          sum(when(col("sig").rlike("^v+c.*p$"), 1L).otherwise(0L))
            .as("view_click_purchase"),
          sum(when(col("sig").rlike("^s"), 1L).otherwise(0L))
            .as("signup_first"),
          sum(when(col("sig").rlike("p.*p"), 1L).otherwise(0L))
            .as("repeat_purchase"))
    }),

    // ── [ext] bucket-checksum diff (Merkle/rsync pattern for table
    // repair): both table versions fold into 64 order-free bucket
    // fingerprints (xor of row hashes, keyed by hash(event_id) mod 64);
    // only buckets whose checksums differ need re-sync — the diff COST
    // is 2×64 rows however large the table, and the rows-to-resync
    // count is the repair bill a 100 TB incremental sync would pay ──────
    "q191_bucket_checksum" -> ((s, dir) => {
      // rows hash over (event_id, value-in-cents) — integer rendering
      // only, so the fingerprint string is byte-identical cross-engine
      val v1 = T(s, dir, "events").select(col("event_id"),
        (col("value").cast(Exact.Money) * 100).cast(LongType).as("cents"))
      // v2: one user's values re-extracted (changed rows)
      val v2 = T(s, dir, "events").select(col("event_id"),
        (col("value").cast(Exact.Money) * 100).cast(LongType).as("cents"),
        col("user_id"))
        .withColumn("cents", when(col("user_id") === 7,
          col("cents") + 100L).otherwise(col("cents")))
        .drop("user_id")
      def sums(df: DataFrame, tag: String) = df
        .select(pmod(col("event_id"), lit(64)).as("bkt"),
          expr("CAST(conv(substring(sha2(concat_ws('|'," +
            " CAST(event_id AS STRING), CAST(cents AS STRING)), 256)," +
            " 1, 15), 16, 10) AS BIGINT)").as("h"))
        .groupBy("bkt").agg(expr("bit_xor(h)").as(s"fp_$tag"),
          count(lit(1)).as(s"n_$tag"))
      sums(v1, "a").join(sums(v2, "b"), "bkt")
        .filter(col("fp_a") =!= col("fp_b"))
        .select(col("bkt"), col("n_a").as("rows_to_resync"))
        .orderBy("bkt")
    }),

    // ── [ext] eager aggregation (custom optimizer Rule): per-order
    // min/max over lineitem ⋈ urgent orders — plans.EagerMinMaxAggregation
    // (Yan & Larson VLDB'95, restricted to duplication-insensitive
    // MIN/MAX where it is unconditionally sound) pushes the aggregate
    // BELOW the join, so the join input shrinks from |lineitem| to
    // |orderkeys| rows; PlanRuleSpec pins the rewrite + equivalence ─────
    "q188_eager_agg" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .join(T(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(min("l_extendedprice").as("min_price"),
          max("l_shipdate").as("max_ship"))
        .orderBy("l_orderkey")),

    // ── [ext] diversity-constrained top-k: best 20 documents by quality
    // with AT MOST 3 per source (the curation/recommendation diversity
    // rule): per-source rank window caps each source, then one
    // TakeOrderedAndProject takes the global k over the ≤ 3·|sources|
    // survivors — no global sort of the corpus anywhere ─────────────────
    "q185_diversified_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val q = graft.functions.TextOps.qualityScore(col("text"))
      val scored = T(s, dir, "documents")
        .select(col("doc_id"), col("source"), q.as("quality"))
      val perSrc = Window.partitionBy("source")
        .orderBy(col("quality").desc, col("doc_id"))
      scored.withColumn("src_rank", row_number().over(perSrc))
        .filter(col("src_rank") <= 3)
        .orderBy(col("quality").desc, col("doc_id")).limit(20)
        .select(col("doc_id"), col("source"), col("quality"),
          col("src_rank").cast(LongType).as("src_rank"))
    }),

    // ── [ext] quantile normalization: each doc's quality score mapped to
    // its within-source rank percentile (rank−1)/(n−1) — scores become
    // comparable ACROSS sources with different scales (the cross-source
    // calibration step before a global quality cut); integer rank
    // arithmetic, one source exchange shared by rank and count ──────────
    "q186_quantile_normalize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val q = graft.functions.TextOps.qualityScore(col("text"))
      val w = Window.partitionBy("source")
        .orderBy(col("quality"), col("doc_id"))
      T(s, dir, "documents")
        .select(col("doc_id"), col("source"), q.as("quality"))
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
        .select(col("doc_id"), col("source"), col("quality"),
          ((col("rk") - 1).cast(DoubleType) /
            (col("n") - 1).cast(DoubleType)).as("pct"))
        .orderBy("doc_id")
    }),

    // ── [ext] association rules (market-basket): part-pair support from
    // the urgent co-purchase relation, confidence c(ab)/c(a) and lift
    // N·c(ab)/(c(a)·c(b)) as exact integer ratios (no log-PMI — ln isn't
    // exact-rounded; lift carries the same signal), min-support pruned,
    // top rules by lift — Agrawal VLDB'94 reduced to two aggregates and
    // a broadcast item-count join ───────────────────────────────────────
    "q187_association_rules" -> ((s, dir) => {
      val urgent = T(s, dir, "lineitem")
        .join(T(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
          .select("o_orderkey"), col("o_orderkey") === col("l_orderkey"))
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val nBaskets = urgent.select("o").distinct().count()
      val item = urgent.groupBy("p").agg(count(lit(1)).as("c1"))
      val pair = urgent.alias("l").join(urgent.alias("r"), col("l.o") === col("r.o"))
        .filter(col("l.p") < col("r.p"))
        .groupBy(col("l.p").as("pa"), col("r.p").as("pb"))
        .agg(count(lit(1)).as("c2"))
        .filter(col("c2") >= 2)
      pair
        .join(broadcast(item.select(col("p").as("pa"), col("c1").as("ca"))), Seq("pa"))
        .join(broadcast(item.select(col("p").as("pb"), col("c1").as("cb"))), Seq("pb"))
        .select(col("pa"), col("pb"), col("c2").as("support"),
          (col("c2").cast(DoubleType) / col("ca").cast(DoubleType))
            .as("confidence"),
          ((lit(nBaskets) * col("c2")).cast(DoubleType) /
            (col("ca") * col("cb")).cast(DoubleType)).as("lift"))
        .orderBy(col("lift").desc, col("pa"), col("pb")).limit(25)
    }),

    // ── [ext] forget-cascade (right-to-be-forgotten): one user cohort
    // deleted across the referential chain customer → orders → lineitem
    // by anti/semi joins, with a per-table before/deleted/after audit —
    // the K6 full-delete generalized to FK cascades; each table is ONE
    // anti join on its own key, the work-list broadcasts ────────────────
    "q182_forget_cascade" -> ((s, dir) => {
      val cust = T(s, dir, "customer")
      val ords = T(s, dir, "orders")
      val li = T(s, dir, "lineitem")
      val forget = cust.filter(pmod(col("c_custkey"), lit(50)) === 0)
        .select(col("c_custkey"))
      val ordsDel = ords.join(broadcast(forget),
        col("o_custkey") === col("c_custkey"), "left_semi")
      def audit(tbl: String, before: DataFrame, deleted: DataFrame) =
        before.agg(count(lit(1)).as("n_before")).crossJoin(
          deleted.agg(count(lit(1)).as("n_deleted")))
          .select(lit(tbl).as("tbl"), col("n_before"), col("n_deleted"),
            (col("n_before") - col("n_deleted")).as("n_after"))
      audit("customer", cust,
          cust.join(broadcast(forget), Seq("c_custkey"), "left_semi"))
        .unionByName(audit("orders", ords, ordsDel))
        .unionByName(audit("lineitem", li,
          li.join(ordsDel.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left_semi")))
        .orderBy("tbl")
    }),

    // ── [north star] containment detection: Broder's asymmetric
    // |A∩B|/|A| ≥ 4/5 — the quote/subset near-dup that resemblance-
    // Jaccard (and hence minhash banding) structurally misses when sizes
    // differ; recall-exact rarest-shingle prefix blocking (q157's
    // principle adapted: contained side's prefix vs every doc's FULL
    // list), integer-rational gates, both directions verified ───────────
    "q183_containment" -> ((s, dir) =>
      TextDedup.containmentPairs(T(s, dir, "documents"), "doc_id", "text")
        .orderBy("id_a", "id_b")),

    // ── [ext] Pareto frontier (skyline): per type, the events not
    // dominated on (value, recency) — computed as a running-max window
    // under (value desc, ts desc, id) with a LOCAL per-salt frontier
    // pass first: dominance is transitive, so local survivors ⊇ the
    // global frontier and the exact global pass touches only them (the
    // scalable skyline shape; a plain global window would funnel each
    // type into one reducer) ────────────────────────────────────────────
    "q184_pareto_frontier" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = T(s, dir, "events")
        .select(col("event_type"), col("event_id"), col("value"),
          unix_micros(col("ts")).as("tus"))
      def frontier(df: DataFrame, parts: Column*): DataFrame = {
        val w = Window.partitionBy(parts: _*)
          .orderBy(col("value").desc, col("tus").desc, col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        df.withColumn("pm", max("tus").over(w))
          .filter(col("pm").isNull || col("pm") < col("tus")).drop("pm")
      }
      val local = frontier(e, col("event_type"),
        pmod(col("event_id"), lit(16)))
      frontier(local, col("event_type"))
        .orderBy("event_type", "event_id")
    }),

    // ── [north star] k-anonymity audit: group sizes over the quasi-
    // identifier tuple (lang, source, length bucket) — the re-
    // identification risk gate a training-data release runs after PII
    // redaction (q98): groups smaller than k are risk rows; ONE groupBy
    // + one tiny rollup, integer-exact shares ───────────────────────────
    "q179_k_anonymity" -> ((s, dir) => {
      val k = 5L
      val g = T(s, dir, "documents")
        .groupBy(col("lang"), col("source"),
          expr("n_chars div 100").as("len_bkt"))
        .agg(count(lit(1)).as("grp_n"))
      g.agg(count(lit(1)).as("n_groups"),
          sum(when(col("grp_n") < k, 1L).otherwise(0L)).as("risk_groups"),
          sum(when(col("grp_n") < k, col("grp_n")).otherwise(0L))
            .as("risk_rows"),
          min("grp_n").as("min_group"), sum("grp_n").as("n_rows"))
        .select(col("n_groups"), col("risk_groups"), col("risk_rows"),
          col("min_group"), col("n_rows"))
    }),

    // ── [ext] out-of-order rate: event-time quality diagnostics for
    // watermark tuning — inversions against the per-user running max ts
    // under arrival order (event_id), max lateness in micros; one user
    // exchange, integer-exact everywhere ────────────────────────────────
    "q180_out_of_order" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("event_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      T(s, dir, "events")
        .select(col("event_type"), col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tus"))
        .withColumn("prior_max", max("tus").over(w))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("tus") < col("prior_max"), 1L).otherwise(0L))
            .as("n_late"),
          max(when(col("tus") < col("prior_max"),
            col("prior_max") - col("tus"))).as("max_lateness_us"))
        .orderBy("event_type")
    }),

    // ── [ext] multi-touch attribution, integer-exact: each purchase
    // spreads its cents over the same user's clicks in the prior 24h by
    // floor division (credit = cents div n, remainder stays unattributed
    // — no float credit summation anywhere); equi-key (user) bounded-
    // range join + two aggregates, the q62 interval-join shape ──────────
    "q181_multi_touch" -> ((s, dir) => {
      val e = T(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          unix_micros(col("ts")).as("p_tus"),
          (col("value").cast(Exact.Money) * 100).cast(LongType).as("cents"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("c_id"),
          unix_micros(col("ts")).as("c_tus"))
      val touched = purchases.join(clicks, Seq("user_id"))
        .filter(col("c_tus") < col("p_tus") &&
          col("c_tus") >= col("p_tus") - lit(86400000000L))
      val credits = touched.groupBy("p_id", "cents")
        .agg(count(lit(1)).as("n_touch"))
        .select(col("p_id"), col("n_touch"),
          expr("cents div n_touch").as("credit_per_click"),
          (col("cents") - expr("(cents div n_touch) * n_touch"))
            .as("residual_cents"))
      credits.agg(count(lit(1)).as("n_attributed"),
          sum(col("credit_per_click") * col("n_touch")).as("attributed_cents"),
          sum("residual_cents").as("residual_cents"),
          sum("n_touch").as("n_touches"))
        .select(col("n_attributed"), col("attributed_cents"),
          col("residual_cents"), col("n_touches"))
    }),

    // ── [ext] bitmap-exact distinct rollup: per-(type, day, bucket)
    // user bitmaps (bitmap_construct_agg over 32768-bit buckets), OR-
    // merged per type and counted — EXACT distinct users from partials
    // that re-aggregate without ever revisiting raw rows (the exact twin
    // of q143's KMV lattice rollup; the daily bitmap table is what a
    // pipeline persists, |users|/8 bytes per group bounded) ─────────────
    "q177_bitmap_distinct" -> ((s, dir) => {
      val daily = T(s, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"),
          expr("bitmap_bucket_number(user_id)").as("bkt"),
          expr("bitmap_bit_position(user_id)").as("bitp"))
        .groupBy("event_type", "day", "bkt")
        .agg(expr("bitmap_construct_agg(bitp)").as("bm"))
      val perDay = daily.groupBy("event_type", "day")
        .agg(sum(expr("bitmap_count(bm)")).as("du"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum("du").as("sum_daily_distinct"))
      val total = daily.groupBy("event_type", "bkt")
        .agg(expr("bitmap_or_agg(bm)").as("bm"))
        .groupBy("event_type")
        .agg(sum(expr("bitmap_count(bm)")).as("distinct_users"))
      perDay.join(total, "event_type")
        .select(col("event_type"), col("n_days"), col("sum_daily_distinct"),
          col("distinct_users"))
        .orderBy("event_type")
    }),

    // ── [ext] seasonal baseline decomposition: daily revenue per type
    // split into trend (per-type mean) + day-of-week seasonal offset +
    // residual — the seasonality-adjusted anomaly baseline; every mean
    // is a DECIMAL-exact sum over one double division, the decomposition
    // a fixed IEEE expression, so it replays bit-for-bit; two broadcast-
    // sized stat tables join back onto the daily aggregate ──────────────
    "q178_seasonal_decompose" -> ((s, dir) => {
      val daily = T(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast(Exact.Money)).as("tvd"))
        .withColumn("dow", weekday(col("day")))
      val trend = daily.groupBy("event_type")
        .agg((sum("tvd").cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("m"))
      val seasonal = daily.groupBy("event_type", "dow")
        .agg((sum("tvd").cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("m_dow"))
      daily.join(broadcast(trend), "event_type")
        .join(broadcast(seasonal), Seq("event_type", "dow"))
        .select(col("event_type"), col("day"),
          col("tvd").cast(DoubleType).as("tv"), col("m").as("trend"),
          (col("m_dow") - col("m")).as("seasonal"),
          (col("tvd").cast(DoubleType) - col("m") -
            (col("m_dow") - col("m"))).as("residual"))
        .orderBy("event_type", "day")
    }),

    // ── [ext] VARIANT semi-structured extraction (Spark 4's open JSON
    // type): props parses ONCE into a binary variant, typed paths come
    // out with variant_get — the schema-on-read path for heterogeneous
    // event payloads (from_json q51 is the declared-schema twin) ────────
    "q175_variant_extract" -> ((s, dir) =>
      T(s, dir, "events").select(col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type")),

    // ── [ext] binned range join: same-day purchase pairs within ±0.5 in
    // value — NO equi key beyond the day, so the naive plan is a per-day
    // nested loop; binning by floor(value·2) and replicating one side to
    // its ±1 neighbor bins turns the inequality into an equi join on
    // (day, bin) that shuffles and AQE-balances like any other
    // (bin width = predicate radius ⟹ qualifying pairs differ by ≤ 1
    // bin, so the 3-way replicate loses nothing; exact |Δ| ≤ 0.5 verify
    // on the survivors) ─────────────────────────────────────────────────
    "q176_range_bin_join" -> ((s, dir) => {
      val p = T(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("event_id"), to_date(col("ts")).as("day"), col("value"),
          floor(col("value") * lit(2.0)).as("bin"))
      val probe = p.select(col("event_id").as("id_a"), col("day"),
          col("value").as("va"),
          explode(array(col("bin") - 1, col("bin"), col("bin") + 1)).as("bin"))
      probe.join(p.select(col("event_id").as("id_b"), col("day"),
          col("value").as("vb"), col("bin")), Seq("day", "bin"))
        .filter(col("id_a") < col("id_b") &&
          abs(col("va") - col("vb")) <= lit(0.5))
        .select(col("id_a"), col("id_b"), col("day"), col("va"), col("vb"))
        .orderBy("id_a", "id_b")
    }),

    // ── [ext] recursive CTE (Spark 4's WITH RECURSIVE executor): per-
    // order lineitem chains walked linenumber → linenumber+1 — LINEAR
    // recursion (each row ≤ 1 successor, depth ≤ max lines/order), so no
    // path explosion; path string and DECIMAL-exact running quantity
    // accumulate along the chain; the declarative twin of the q136-style
    // iterative driver loop, executed by UnionLoop instead ──────────────
    "q173_recursive_chain" -> ((s, dir) => {
      // the fixture's l_linenumber is neither unique nor contiguous per
      // order — the chain key is a row_number under a total order (ties
      // only between fully identical rows, which are interchangeable).
      // The ranked relation (urgent orders' items) is checkpointed ONCE
      // before the loop: the recursive executor re-evaluates every
      // non-recursive relation it references per iteration, and
      // re-running the scan+window 13× dominated the query (12.8s → 2.9s
      // at sf0.1 after checkpoint + scoping).
      {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("l_orderkey")
          .orderBy("l_linenumber", "l_partkey", "l_quantity")
        T(s, dir, "lineitem")
          .join(T(s, dir, "orders")
            .filter(col("o_orderpriority") === "1-URGENT")
            .select("o_orderkey"),
            col("l_orderkey") === col("o_orderkey"))
          .withColumn("rn", row_number().over(w))
          .select(col("l_orderkey"), col("rn"), col("l_partkey"),
            col("l_quantity"))
          .localCheckpoint(true)
          .createOrReplaceTempView("b")
      }
      s.sql(
        """WITH RECURSIVE chain AS (
          |  SELECT l_orderkey, rn AS depth,
          |         CAST(l_partkey AS STRING) AS path,
          |         CAST(l_quantity AS DECIMAL(18,2)) AS qty
          |  FROM b WHERE rn = 1
          |  UNION ALL
          |  SELECT b.l_orderkey, b.rn,
          |         concat(c.path, '>', CAST(b.l_partkey AS STRING)),
          |         CAST(c.qty + CAST(b.l_quantity AS DECIMAL(18,2))
          |           AS DECIMAL(18,2))
          |  FROM chain c JOIN b ON b.l_orderkey = c.l_orderkey
          |   AND b.rn = c.depth + 1)
          |SELECT l_orderkey, CAST(depth AS BIGINT) AS depth, path,
          |  CAST(qty AS DOUBLE) AS qty
          |FROM chain ORDER BY l_orderkey, depth""".stripMargin)
    }),

    // ── [ext] LATERAL correlated subquery: per-customer top-2 orders by
    // totalprice as a declarative LATERAL ... ORDER BY ... LIMIT — the
    // SQL surface for correlated top-k; Catalyst decorrelates it into
    // the same windowed-rank join the DataFrame form plans ──────────────
    "q174_lateral_topk" -> ((s, dir) => {
      T(s, dir, "orders").createOrReplaceTempView("ord_lat")
      s.sql(
        """SELECT c.o_custkey AS o_custkey, t.o_orderkey, t.o_totalprice
          |FROM (SELECT DISTINCT o_custkey FROM ord_lat) c,
          |LATERAL (SELECT o_orderkey, o_totalprice FROM ord_lat
          |         WHERE ord_lat.o_custkey = c.o_custkey
          |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
          |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin)
    }),

    // ── [north star] length-bucketed batch assembly: the dynamic-padding
    // efficiency step of training-batch production — docs land in
    // power-of-two padding buckets, a content-stable sha-60 order packs
    // each bucket into fixed-size batches, and the per-batch padding
    // waste (Σ bucket − n_tokens) is the metric the bucketing exists to
    // minimize. Per-bucket positions come from ONE two-phase global rank
    // ordered by (bucket, hash) re-based by a broadcast of ≤ 7 bucket
    // minima — no per-bucket single-reducer window at any corpus size ───
    "q170_length_batching" -> ((s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id"),
        size(graft.functions.TextOps.tokens(col("text"))).cast(LongType).as("n"))
      val bucket = when(col("n") <= 16, 16L).when(col("n") <= 32, 32L)
        .when(col("n") <= 64, 64L).when(col("n") <= 128, 128L)
        .when(col("n") <= 256, 256L).when(col("n") <= 512, 512L)
        .otherwise(1024L)
      val h = conv(substring(sha2(
        concat(lit("batch:"), col("doc_id").cast(StringType)), 256),
        1, 15), 16, 10).cast(LongType)
      val withB = d.withColumn("bucket", bucket).withColumn("h", h)
      val ranked = graft.operators.Ranking.withGlobalRank(
        withB, "rk", "n_total", col("bucket"), col("h"), col("doc_id"))
      val starts = ranked.groupBy("bucket").agg(min(col("rk")).as("start"))
      ranked.join(broadcast(starts), "bucket")
        .withColumn("batch_id", expr("(rk - start) div 8"))
        .groupBy("bucket", "batch_id")
        .agg(count(lit(1)).as("n_seqs"), sum("n").as("sum_tokens"),
          sum(col("bucket") - col("n")).as("padding_waste"),
          expr("bit_xor(doc_id)").as("fp"))
        .orderBy("bucket", "batch_id")
    }),

    // ── [north star] weak-supervision agreement audit: three labeling
    // functions (Snorkel-style programmatic labeling) evaluated in ONE
    // scan, pairwise observed agreement + Cohen's κ from the count
    // moments in fixed IEEE shape — the diagnostic that tells you which
    // labelers disagree before you train on their votes ─────────────────
    "q171_weak_labels" -> ((s, dir) => {
      val tk = graft.functions.TextOps.tokens(col("text"))
      val stopC = size(filter(tk, t =>
        graft.functions.TextOps.StopWords.map(lit(_) === t).reduce(_ || _)))
      val d = T(s, dir, "documents").select(
        (size(filter(tk, t => t === lit("the"))) > 0).cast("int").as("v1"),
        (size(tk) > 50).cast("int").as("v2"),
        ((stopC * 5) > size(tk)).cast("int").as("v3"))
      val a = d.agg(count(lit(1)).as("n"),
        sum("v1").as("s1"), sum("v2").as("s2"), sum("v3").as("s3"),
        sum((col("v1") === col("v2")).cast("long")).as("a12"),
        sum((col("v1") === col("v3")).cast("long")).as("a13"),
        sum((col("v2") === col("v3")).cast("long")).as("a23"))
      def po(axy: String) = col(axy).cast(DoubleType) / col("n").cast(DoubleType)
      def rate(sx: String) = col(sx).cast(DoubleType) / col("n").cast(DoubleType)
      def kap(axy: String, sx: String, sy: String) = {
        val pe = rate(sx) * rate(sy) +
          (lit(1.0) - rate(sx)) * (lit(1.0) - rate(sy))
        (po(axy) - pe) / (lit(1.0) - pe)
      }
      a.select(col("n"), po("a12").as("po12"), kap("a12", "s1", "s2").as("k12"),
          po("a13").as("po13"), kap("a13", "s1", "s3").as("k13"),
          po("a23").as("po23"), kap("a23", "s2", "s3").as("k23"))
        .selectExpr("stack(3, 'lf1~lf2', n, po12, k12," +
          " 'lf1~lf3', n, po13, k13, 'lf2~lf3', n, po23, k23)" +
          " AS (pair, n, p_o, kappa)")
        .orderBy("pair")
    }),

    // ── [ext] SFT chat-format assembly: documents → alternating
    // user/assistant turns as an array<struct<role, content>> built
    // row-locally (the chat-template step of instruction-tuning data),
    // then flattened back and audited per (lang, role) with an
    // order-free xor content fingerprint — nested construction, explode,
    // and byte-exact flattening in one pipeline ─────────────────────────
    "q172_chat_assembly" -> ((s, dir) => {
      val turns = T(s, dir, "documents").select(col("lang"), posexplode(expr(
        "filter(transform(sequence(0, 2), i -> struct(" +
          "CASE WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END AS role," +
          " substring(text, 1 + i * 160, 160) AS content))," +
          " t -> length(t.content) > 0)")))
      turns.select(col("lang"), col("col.role").as("role"),
          col("col.content").as("content"))
        .groupBy("lang", "role")
        .agg(count(lit(1)).as("n_turns"),
          sum(length(col("content"))).as("total_chars"),
          expr("bit_xor(CAST(conv(substring(sha2(content, 256), 1, 15)," +
            " 16, 10) AS BIGINT))").as("fp"))
        .orderBy("lang", "role")
    }),

    // ── [ext] JSONL staged interchange: the dominant LLM-corpus wire
    // format (one JSON object per line) as a source/sink pair — per-source
    // partitioned write, declared-schema glob re-read (no inference on
    // the fact path, the S4 discipline); the xor-of-sha60 content
    // fingerprint proves the text round-trips byte-for-byte through JSON
    // escaping, not just that counts survive ────────────────────────────
    "q168_jsonl_stage" -> ((s, dir) => {
      val tmp = TempWork.fresh("jsonl")
      T(s, dir, "documents").select("doc_id", "text", "lang", "source")
        .write.mode("overwrite").partitionBy("source").json(tmp)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType)))
      s.read.schema(schema).json(tmp)
        .groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          expr("bit_xor(CAST(conv(substring(sha2(text, 256), 1, 15), 16, 10)" +
            " AS BIGINT))").as("fp"),
          sum(length(col("text"))).as("n_chars"))
        .orderBy("lang")
    }),

    // ── [ext] ORC columnar round-trip: the second columnar lake format
    // next to parquet (K3/S6 in ORC dress) — written sorted by the filter
    // column so ORC's stripe min/max indexes can skip, re-read with a
    // pushed-down predicate (PushedFilters visible in the scan), same
    // aggregate contract as the parquet-native oracle ───────────────────
    "q169_orc_roundtrip" -> ((s, dir) => {
      val tmp = TempWork.fresh("orc")
      T(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .sortWithinPartitions("event_type")
        .write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
        .filter(col("event_type") === "purchase" && col("value") > 100.0)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), Exact.moneySum(col("value")).as("total"))
        .orderBy("user_id")
    }),

    // ── [north star] bigram LM quality score: the CCNet model-based
    // quality gate with a corpus-learned bigram MLE — mean conditional
    // probability per doc (exact int/int divisions, position-ordered
    // fold) so the model AND the scoring replay bit-for-bit; count
    // exchange + model join + one doc-key fold exchange ─────────────────
    "q166_bigram_lm_score" -> ((s, dir) =>
      graft.operators.Corpus.bigramLmScore(
        T(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // ── [ext] per-dimension feature standardization: the embedding
    // whitening/scaling pass before ANN or training — moments over
    // floor(v·1024) bigints (q148's quantization) so Σ/Σ² are exact and
    // order-free; 64 stat rows broadcast back onto the exploded scan,
    // z = (q − mean)/std in identical IEEE shape on both engines ────────
    "q167_embed_standardize" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(expr(
          "transform(CAST(embedding AS ARRAY<DOUBLE>)," +
            " x -> CAST(floor(x * 1024) AS BIGINT))")))
        .select(col("vec_id"), col("pos").cast(LongType).as("d"),
          col("col").as("q"))
      val mean = col("sq").cast(DoubleType) / col("n").cast(DoubleType)
      val stats = e.groupBy("d").agg(count(lit(1)).as("n"),
          sum("q").as("sq"), sum(col("q") * col("q")).as("sqq"))
        .select(col("d"), mean.as("mean"),
          sqrt(col("sqq").cast(DoubleType) / col("n").cast(DoubleType) -
            mean * mean).as("std"))
      e.join(broadcast(stats), "d")
        .select(col("vec_id"), col("d"),
          ((col("q").cast(DoubleType) - col("mean")) / col("std")).as("z"))
        .orderBy("vec_id", "d")
    }),

    // ── [ext] streaming ListState sequence detection: per-user
    // view→click→purchase funnel completion with the trailing event-type
    // buffer in transformWithState's ListState (the ordered-buffer state
    // primitive; ValueState = q141, MapState = q156) — time-split landing
    // makes sequences genuinely span micro-batches; ≡ the batch lag()
    // window scan under any event-time-respecting batching ──────────────
    "q165_liststate_pattern" -> ((s, dir) =>
      graft.streaming.EventStream.seqPatternMatches(s, dir)),

    // ── [ext] deterministic random walks: the DeepWalk/node2vec corpus
    // generator (Perozzi KDD'14) over the urgent co-purchase graph —
    // the "random" draw is a sha-60 hash argmin, so the walk corpus is a
    // bit-reproducible function of the graph on any engine/partitioning;
    // per step: one frontier⋈edges equi-join + one walk-keyed min_by ───
    "q164_random_walks" -> ((s, dir) => {
      val edges = urgentEdges(s, dir)._1
      val seeds = edges.select(col("a").as("v"))
        .unionAll(edges.select(col("b").as("v"))).distinct()
        .filter(col("v") < 10).select(col("v").as("walk_id"), col("v"))
      graft.operators.Graph.deterministicWalks(edges, seeds, steps = 4)
        .orderBy("walk_id", "step")
    }),

    "q163_decontaminate_bloom" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      TextDedup.decontaminateBloom(
        d.filter(col("source") =!= "src0"),
        d.filter(col("source") === "src0"),
        "doc_id", "text", shingleLen = 4)
        .orderBy("doc_id")
    }),

    // ── [ext] tick→bar OHLC resampling: the reference's
    // daily_stock_price grain (open/high/low/close per key per day,
    // src/db/postgres/daily_stock_price.sql:5-18) recomputed from the
    // raw tick stream — first/last by (ts, event_id) via min_by/max_by
    // over a struct key, so ONE map-side-combinable aggregate builds the
    // whole bar (no first/last window pass over the day's ticks) ───────
    "q162_ohlc_bars" -> ((s, dir) =>
      T(s, dir, "events").groupBy(col("user_id"),
          to_date(col("ts")).as("day"))
        .agg(
          min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
          count(lit(1)).as("n_ticks"),
          Exact.moneySum(col("value")).as("volume"))
        .orderBy("user_id", "day")),

    // ── [north star] hashing-trick classifier gate: fastText-shape
    // linear quality scorer — tokens hash into 64 weight slots (no
    // vocabulary, no OOV), score = ordered Σ w[slot(token)] in ONE fused
    // codegen loop at the scan; zero shuffle, the model-scored
    // quality-gate scan a 100 TB curation pass runs ─────────────────────
    "q161_feature_hash_gate" -> ((s, dir) =>
      T(s, dir, "documents").select(
        col("doc_id"),
        graft.functions.FeatureHashScore(col("text")).as("score"),
        (graft.functions.FeatureHashScore(col("text")) > 0.0).as("keep"))
        .orderBy("doc_id")),

    // ── [ext] custom native UDTF (Catalyst Generator): per-doc distinct
    // token profile (token, first_pos, n) computed with per-row local
    // state inside the scan — ZERO shuffle, vs the explode+groupBy form
    // that shuffles every token occurrence; SQL-registered `token_stats`,
    // invoked through the same analyzer path as explode ────────────────
    "q160_token_stats_udtf" -> ((s, dir) => {
      GraftExtensions.register(s)
      T(s, dir, "documents")
        .selectExpr("doc_id", "token_stats(text) AS (token, first_pos, n)")
        .orderBy("doc_id", "first_pos")
    }),

    // ── [north star] incremental near-dup maintenance: today's batch
    // against the PERSISTED minhash signature table (written at "ingest",
    // read back from parquet) — corpus text is never re-read, the stored
    // 8-byte shingle hashes serve the exact verify, candidates ∝ the
    // batch's near-dup mass ─────────────────────────────────────────────
    "q159_incremental_minhash" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      val tmp = TempWork.fresh("sigtab")
      TextDedup.minhashSigTable(corpus, "doc_id", "text")
        .write.mode("overwrite").parquet(tmp)
      TextDedup.minhashIncremental(s.read.parquet(tmp), batch,
        "doc_id", "text", threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),

    // ── [north star] temperature-scaled source mixing: sample ∝ n^(1/2)
    // (rare sources upsampled, head capped — the α-sampling rule of
    // multi-source LM training) via deterministic hash thresholds; the
    // count table is a bounded plan parameter, the apply pass ONE
    // conditional-aggregation scan ──────────────────────────────────────
    "q158_temperature_mix" -> ((s, dir) =>
      graft.ops.Sampling.temperatureMix(T(s, dir, "documents"),
        "source", "doc_id", budgetFrac = 0.5)
        .orderBy("source")),

    // ── [north star] prefix-filtered set-similarity join (PPJoin family):
    // the RECALL-EXACT Jaccard self-join — df-ordered token prefixes as
    // block keys (any pair at J ≥ t provably shares a prefix token),
    // length + positional filters, exact sorted-merge verify. On Zipfian
    // vocabulary (real corpora) prefix blocks track token rarity and
    // candidates ∝ near-dup mass; THIS fixture is the documented worst
    // case — a ~31-token template vocabulary makes every "rare" token
    // common, blocks go dense, and the Σ|block|² enumeration costs ~12 s
    // at sf0.1 (the price of guaranteed recall here; q24/q55's banded
    // paths are the dense-corpus production route) ─────────────────────
    "q157_prefix_filter_join" -> ((s, dir) =>
      TextDedup.prefixFilterNearDups(T(s, dir, "documents"), "doc_id", "text",
        threshold = 0.8)
        .orderBy("id_a", "id_b")),

    // ── [ext] streaming MapState milestones: per-user per-type counters
    // in transformWithState's MapState (the keyed-dictionary state shape;
    // q141 covers ValueState) emitting each power-of-2 count threshold in
    // the micro-batch where it's first crossed — thresholds cross exactly
    // once and counts are order-free, so the emitted set is identical
    // under any batch split and the batch oracle checks it ─────────────
    "q156_stream_milestones" -> ((s, dir) =>
      graft.streaming.EventStream.typeMilestones(s, dir)),

    // ── [ext] two-pass exact quantiles: histogram-locate then in-bin
    // refine — the no-global-sort exact median/p90 (`operators.Quantiles`;
    // the bounded (group × bin) histogram is a plan parameter, pass 2
    // sorts only candidate-bin rows per (group, p) partition) ──────────
    "q155_twopass_quantiles" -> ((s, dir) =>
      graft.operators.Quantiles.twoPassExact(
        T(s, dir, "events"), "event_type", "value", "event_id",
        ps = Seq(0.5, 0.9), binWidth = 50.0)
        .orderBy("event_type")),

    // ── [north star] JL random-projection ANN: Achlioptas ±1 sign
    // projection (sha-60-derived, `functions.JlProject`, fused codegen
    // loop) reduces 64-dim floats to 16 doubles row-locally; the top-50
    // shortlist by PROJECTED cosine is then re-ranked by exact cosine —
    // the reduce-then-verify ANN shape where the 100 TB scan reads and
    // multiplies 4× less, and exact similarity touches only candidates ─
    "q154_jl_ann" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      val projected = e.select(col("vec_id"), col("embedding"),
        graft.functions.JlProject(col("embedding"), 16).as("p"))
      val q = projected.filter(col("vec_id") === 0)
        .select(col("p").as("pq"), col("embedding").as("qv"))
      val cand = projected.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("psim", VectorOps.cosine(col("p"), col("pq")))
        .orderBy(col("psim").desc, col("vec_id"))
        .limit(50)
      cand.withColumn("sim", VectorOps.cosine(col("embedding"), col("qv")))
        .select(col("vec_id"), col("psim"), col("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
    }),

    // ── [north star] window-level exact-substring dedup (Lee et al.
    // 2021): 10-token spans appearing verbatim in ≥2 docs, rolled up to
    // per-doc shared-span fractions — the span-level companion to q21's
    // whole-doc exact dedup. Distributed form of the paper's suffix
    // array: distinct sha-60 window hashes in the scan, one 16-byte-row
    // exchange on the hash, one on the doc key; text never shuffles ────
    "q153_substring_dedup" -> ((s, dir) =>
      TextDedup.substringDupStats(T(s, dir, "documents"), "doc_id", "text",
        window = 10)
        .orderBy("doc_id")),

    // ── [ext] SemDeDup end-to-end: the q148 learned clusters become
    // the near-dup blocking (Σ cluster² pairs ≪ N², and clusters are
    // semantically coherent so near-dup recall survives the blocking),
    // then exact cosine verifies within each block ──────────────────────
    "q149_semdedup_pairs" -> ((s, dir) => {
      // embedding rides through kmeansAssign so cid lands as a scan-level
      // expression column — no assignments-back self-join on vec_id
      val q = T(s, dir, "embeddings").select(col("vec_id"), col("embedding"),
        graft.operators.Clustering.quantize(col("embedding")).as("qv"))
      val assigned = graft.operators.Clustering
        .kmeansAssign(q, "vec_id", k = 4, iters = 2).drop("qv")
      Similarity.blockedNearDups(assigned, "vec_id",
        "embedding", "cid", threshold = 0.35)
        .withColumnRenamed("block", "cid")
        .orderBy("id_a", "id_b")
    }),

    // ── [ext] bottom-k sample quantiles: per-type uniform row sample
    // (k smallest by sha-60 of the unique event id — the deterministic,
    // mergeable, partition-independent stand-in for df.sample(seed),
    // whose output depends on partition layout) → lower-interpolation
    // quartiles of the sampled values. State ≤ k pairs per group; the
    // sample — and thus every estimate — replays in SQL as a
    // row_number-over-hash prefix. ─────────────────────────────────────
    "q147_sample_quantiles" -> ((s, dir) => {
      import graft.functions.BottomKSample
      val n1 = col("n_sample") - 1
      T(s, dir, "events")
        .select(col("event_type"), col("value").cast("double").as("value"),
          graft.ops.Sampling.shaHash60(col("event_id")).as("h"))
        .groupBy("event_type")
        .agg(BottomKSample(col("h"), col("value"), 256).as("smp"))
        .select(col("event_type"),
          size(col("smp")).cast("long").as("n_sample"),
          array_sort(transform(col("smp"), x => x.getField("v"))).as("vs"))
        .select(col("event_type"), col("n_sample"),
          element_at(col("vs"), (floor(n1 / 4.0) + 1).cast("int")).as("q25"),
          element_at(col("vs"), (floor(n1 / 2.0) + 1).cast("int")).as("q50"),
          element_at(col("vs"), (floor(n1 * 3 / 4.0) + 1).cast("int")).as("q75"))
        .orderBy("event_type")
    }),

    // ── [ext] Count-Min frequency sketch: per-lang 4×256 counter grid
    // over token sha-60 hashes — bounded point-query frequency state
    // (8 KiB/group at ANY key cardinality); cells replay in SQL as
    // grouped counts of the permuted hash mod width. Output = the
    // nonzero cells, i.e. the sketch a pipeline would persist. ─────────
    "q146_countmin" -> ((s, dir) => {
      import graft.functions.CountMin
      val d = 4; val w = 256
      T(s, dir, "documents")
        .select(col("lang"),
          explode(TextDedup.shaTokenHashes(col("text"))).as("h"))
        .groupBy("lang")
        .agg(CountMin(col("h"), d, w).as("grid"))
        .select(col("lang"), posexplode(col("grid")).as(Seq("pos", "cnt")))
        .filter(col("cnt") > 0)
        .select(col("lang"),
          (col("pos") / w).cast("long").as("i"),
          pmod(col("pos"), lit(w)).cast("long").as("j"),
          col("cnt"))
        .orderBy("lang", "i", "j")
    }),

    // ── [ext] funnel analysis: view → click-after-view →
    // purchase-after-click per user, in ONE user_id exchange — the
    // stage thresholds are windowed conditional mins over the same
    // partitioning (no join chain, no second shuffle), and the final
    // stage counts are a 3-row stack over one global aggregate.
    // Ordered-sequence semantics: each stage's timestamp must strictly
    // follow the previous stage's. ─────────────────────────────────────
    "q120_funnel" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
      val staged = T(s, dir, "events")
        .withColumn("t1", min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("t2", min(when(col("event_type") === "click" &&
          col("ts") > col("t1"), col("ts"))).over(w))
        .withColumn("t3", min(when(col("event_type") === "purchase" &&
          col("ts") > col("t2"), col("ts"))).over(w))
      staged.agg(
        count_distinct(when(col("t1").isNotNull, col("user_id"))).as("n1"),
        count_distinct(when(col("t2").isNotNull, col("user_id"))).as("n2"),
        count_distinct(when(col("t3").isNotNull, col("user_id"))).as("n3"))
        .selectExpr("stack(3, 'view', n1, 'view>click', n2, " +
          "'view>click>purchase', n3) AS (stage, n_users)")
        .orderBy("stage")
    }),

    // ── [ext] cohort retention: users grouped by first-seen date, and
    // for offsets 0..7 the count still active N days later — the
    // product-analytics staple. Cohort assignment is one user_id agg;
    // the activity join shuffles (user, date) pairs already distinct-
    // compressed (days-per-user, not events-per-user); output is
    // |cohorts| × 8 rows. Integer counts → exact. ──────────────────────
    "q121_retention" -> ((s, dir) => {
      val byDay = T(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val cohort = byDay.groupBy("user_id").agg(min(col("d")).as("c0"))
      byDay.join(cohort, Seq("user_id"))
        .withColumn("day_offset", datediff(col("d"), col("c0")))
        .filter(col("day_offset") <= 7)
        .groupBy(col("c0").as("cohort_date"), col("day_offset"))
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy("cohort_date", "day_offset")
    }),

    // ── [ext] grouped Pearson correlation from DECIMAL-exact moment
    // sums: r = (n·Σxy − Σx·Σy) / (√(n·Σxx − Σx²) · √(n·Σyy − Σy²)).
    // All five sums are exact decimals (2-dp inputs → 4-dp products), so
    // the only floating-point steps are the final casts and arithmetic —
    // identical IEEE shape on both engines (sqrt IS exact-rounded,
    // unlike log/pow), hence bit-exact r per group from ONE map-side-
    // combined groupBy. The built-in corr() aggregates doubles in
    // shuffle order and is NOT reproducible across engines — that's the
    // point of the decimal-moments form. ───────────────────────────────
    "q122_grouped_corr" -> ((s, dir) => {
      val x = col("l_quantity").cast(DecimalType(18, 2))
      val y = col("l_extendedprice").cast(DecimalType(18, 2))
      val g = T(s, dir, "lineitem").groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum((x * x).cast(DecimalType(38, 4))).as("sxx"),
        sum((y * y).cast(DecimalType(38, 4))).as("syy"),
        sum((x * y).cast(DecimalType(38, 4))).as("sxy"))
      val nD = col("n").cast(DoubleType)
      val (sx, sy) = (col("sx").cast(DoubleType), col("sy").cast(DoubleType))
      val (sxx, syy, sxy) = (col("sxx").cast(DoubleType),
        col("syy").cast(DoubleType), col("sxy").cast(DoubleType))
      g.select(col("l_returnflag"), col("n"),
        ((nD * sxy - sx * sy) /
          (sqrt(nD * sxx - sx * sx) * sqrt(nD * syy - sy * sy)))
          .as("corr_qty_price"))
        .orderBy("l_returnflag")
    }),

    // ── [ext] streaming hopping windows (see EventStream.hoppingTotals):
    // overlapping 2-day/1-day-slide totals, stream ≡ batch ─────────────
    "q123_stream_hopping" -> ((s, dir) =>
      graft.streaming.EventStream.hoppingTotals(s, dir)),

    // ── [ext] equi-width histogram: per-type value distribution in ONE
    // conditional-aggregation pass — bin = floor(value/50), integer bin
    // ids from exact-rounded division so the binning replays identically
    // on any engine. The shuffle carries (type, bin) partial counts, not
    // rows: the standard distribution-drift monitor at any scale. ──────
    "q124_histogram" -> ((s, dir) =>
      T(s, dir, "events")
        .groupBy(col("event_type"),
          floor(col("value") / lit(50.0)).cast(IntegerType).as("bin"))
        .agg(count(lit(1)).as("n"),
          Exact.moneySum(col("value")).as("bin_value"))
        .withColumn("bin_lo", (col("bin") * 50).cast(DoubleType))
        .orderBy("event_type", "bin")),

    // ── [ext] sequence gap detection (data-quality: lost records in an
    // id-keyed extract): gaps-and-islands over the surviving ids with
    // ONE two-phase global Ranking (no single-reducer window). The
    // islands carry their own RANK interval out of the groupBy —
    // row_number is dense, so consecutive islands are ADJACENT in rank
    // space (next.rn_lo = this.rn_hi + 1) — and consecutive islands
    // pair by an equi-join on that, making the second global ranking
    // pass the old shape paid provably redundant (probed round 15:
    // it was half the query's job count). Every 97th id is dropped to
    // simulate loss; output = the missing ranges. ──────────────────────
    "q125_gap_detect" -> ((s, dir) => {
      val ids = T(s, dir, "events")
        .filter(pmod(col("event_id"), lit(97L)) =!= 0)
        .select("event_id").distinct()
      val islands = Ranking.withGlobalRank(ids, "rn", "__N", col("event_id").asc)
        .withColumn("grp", col("event_id") - col("rn"))
        .groupBy("grp")
        .agg(min("event_id").as("lo"), max("event_id").as("hi"),
          min("rn").as("rn_lo"), max("rn").as("rn_hi"))
        .localCheckpoint(true) // two join consumers, one derivation
      islands.alias("a")
        .join(islands.alias("b"), col("b.rn_lo") === col("a.rn_hi") + 1)
        .select((col("a.hi") + 1).as("gap_start"), (col("b.lo") - 1).as("gap_end"))
        .orderBy("gap_start")
    }),

    // ── [ext] Markov transition matrix: event_type → next-event_type
    // counts and probabilities per user sequence. One exchange on
    // user_id for the lead(); the (prev, next) aggregate carries
    // map-side-combined counts (≤ |types|² rows), and the per-prev
    // probability window runs over that aggregate, not the events. p is
    // one bigint/bigint division — identical IEEE double both engines. ──
    "q126_transition_matrix" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val pairs = T(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("prev_type"))
        .withColumn("next_type", lead(col("prev_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
      val counts = pairs.groupBy("prev_type", "next_type")
        .agg(count(lit(1)).as("n"))
      counts
        .withColumn("p", col("n").cast(DoubleType) /
          sum(col("n")).over(Window.partitionBy("prev_type")).cast(DoubleType))
        .orderBy("prev_type", "next_type")
    }),

    // ── [ext] journey mining: the ordered event_type path per
    // (user, day), then the top-20 most common paths. The ordered
    // concat is array_sort(collect_list(struct(ts, event_id, type))) —
    // tie-broken, so the path string is deterministic under any
    // partitioning; the path aggregate shuffles one string per
    // user-day (map-side combined), never raw events twice. ────────────
    "q127_journey_paths" -> ((s, dir) => {
      val paths = T(s, dir, "events")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"),
            col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      paths.groupBy("path").agg(count(lit(1)).as("n_journeys"))
        .orderBy(col("n_journeys").desc, col("path"))
        .limit(20)
    }),

    // ── [north star] PQ-coded ANN (IVFADC scan stage): base vectors
    // stored as 8 centroid codes (8 bytes vs 256 — what a 100 TB index
    // scans); per-query asymmetric distances are literal-table lookups
    // on the code column. See Similarity.pqAdcTopK for the scale shape;
    // queries = vec_id<3 collected as plan parameters (q81 pattern). ───
    "q128_pq_adc" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 3)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).toSeq
      Similarity.pqAdcTopK(e.filter(col("vec_id") >= 3), "vec_id",
          "embedding", qs, k = 5)
        .select("q_id", "vec_id", "adc", "rk")
        .orderBy("q_id", "rk")
    }),

    // ── [ext] rolling 7-day active users: activity compressed to
    // distinct (user, day) FIRST (the shuffle carries user-days, never
    // events), then each user-day is assigned to the 7 window-end days
    // it supports — a row-local sequence explode — and the per-day
    // distinct count runs over that. Window-end days clipped to days
    // that actually occur (broadcast day list). The scalable form of a
    // sliding countDistinct, which no window frame can express. ────────
    "q129_rolling_active" -> ((s, dir) => {
      val ud = T(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val days = ud.select(col("d").as("day")).distinct()
      ud.select(col("user_id"),
          explode(sequence(col("d"), date_add(col("d"), 6))).as("day"))
        .join(broadcast(days), Seq("day"))
        .groupBy("day")
        .agg(countDistinct(col("user_id")).as("active_7d"))
        .orderBy("day")
    }),

    // ── [ext] per-user EWMA (α = 0.2) over daily spend: the ordered
    // fold runs inside ONE map-side-combinable aggregate per user —
    // array_sort(collect_list(struct)) makes the sequence deterministic
    // under any partitioning, and the fold shape ((acc·0.8) + (x·0.2))
    // replays identically through DuckDB's list_reduce. State per user
    // = days, not events (daily totals pre-aggregated exactly). ────────
    "q130_ewma" -> ((s, dir) => {
      val daily = T(s, dir, "events")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(Exact.moneySum(col("value")).as("v"))
      daily.groupBy("user_id")
        .agg(count(lit(1)).as("n_days"),
          aggregate(
            transform(array_sort(collect_list(struct(col("day"), col("v")))),
              x => x.getField("v")),
            lit(0.0),
            (acc, x) => (acc * lit(0.8)) + (x * lit(0.2))).as("ewma"))
        .orderBy("user_id")
    }),

    // ── [ext] LEFT OUTER stream-stream join (see
    // EventStream.leftOuterJoined): clicks with their next-hour
    // purchases or watermark-proven NULLs — outer emission requires the
    // end-of-stream sentinel flush the operator documents. ─────────────
    "q131_stream_left_join" -> ((s, dir) =>
      graft.streaming.EventStream.leftOuterJoined(s, dir)),

    // ── [ext] per-group top-k as a bounded-state aggregate
    // (functions.TopKByScore): map-side partials keep ≤ k pairs per
    // group per task, so the exchange carries k·tasks rows, not the
    // groups' full contents — the scale twin of the q15/q68 window form
    // exactly as q59 (KMV) is to q18 (HLL). ────────────────────────────
    "q132_topk_agg" -> ((s, dir) =>
      T(s, dir, "events")
        .groupBy("event_type")
        .agg(graft.functions.TopKByScore(col("value"), col("event_id"), 3)
          .as("top"))
        .select(col("event_type"), posexplode(col("top")))
        .select(col("event_type"), (col("pos") + 1).cast(IntegerType).as("rk"),
          col("col.score").as("value"), col("col.id").as("event_id"))
        .orderBy("event_type", "rk")),

    // ── [ext] PageRank in fixed-point integer arithmetic (see
    // Graph.pageRankFixedPoint) over the urgent-order co-purchase graph
    // (q118's edge set, bidirected): 3 iterations of join + bigint sum,
    // bit-reproducible on any engine because no float ever accumulates.
    "q133_pagerank" -> ((s, dir) => {
      val edges = urgentEdges(s, dir)._1
      graft.operators.Graph.pageRankFixedPoint(edges, iters = 3)
        .orderBy(col("rank").desc, col("v"))
        .limit(20)
        .select(col("v").as("part"), col("rank").as("rank_fp"))
    }),

    // ── [ext] Welch's t-test: each event_type's value distribution vs
    // the 'view' baseline — the A/B-test primitive. Means/variances come
    // from the same DECIMAL-exact moment sums as q122 (n, Σx, Σx²) in
    // ONE map-side-combined pass over events; the t statistic is then
    // fixed-shape double arithmetic over the 5-row aggregate, identical
    // on any engine (built-in var_samp is shuffle-order-dependent). ────
    "q134_welch_ttest" -> ((s, dir) => {
      val x = col("value").cast(DecimalType(18, 2))
      val agg = T(s, dir, "events").groupBy("event_type").agg(
        count(lit(1)).as("n"), sum(x).as("s"),
        sum((x * x).cast(DecimalType(38, 4))).as("ss"))
      val a = agg.filter(col("event_type") =!= "view")
        .select(col("event_type").as("grp"), col("n").as("n1"),
          col("s").as("s1"), col("ss").as("ss1"))
      val b = agg.filter(col("event_type") === "view")
        .select(col("n").as("n2"), col("s").as("s2"), col("ss").as("ss2"))
      val (n1, n2) = (col("n1").cast(DoubleType), col("n2").cast(DoubleType))
      val (s1, s2) = (col("s1").cast(DoubleType), col("s2").cast(DoubleType))
      val (ss1, ss2) = (col("ss1").cast(DoubleType), col("ss2").cast(DoubleType))
      val m1 = s1 / n1
      val m2 = s2 / n2
      val v1 = (ss1 - ((s1 * s1) / n1)) / (n1 - lit(1.0))
      val v2 = (ss2 - ((s2 * s2) / n2)) / (n2 - lit(1.0))
      a.crossJoin(b)
        .select(col("grp"), col("n1"), col("n2"),
          ((m1 - m2) / sqrt((v1 / n1) + (v2 / n2))).as("t_welch"))
        .orderBy("grp")
    }),

    // ── [ext] incremental aggregate maintenance: a delta batch folded
    // into an existing aggregate by MERGING PARTIALS (full-outer on the
    // group key, counts added, DECIMAL totals added exactly) — the
    // materialized-view refresh that never rescans the base fact table.
    // Exact because count and decimal-sum are associative; the oracle
    // recomputes from scratch and must agree bit-for-bit. ──────────────
    "q135_incremental_agg" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      def aggOf(df: DataFrame) = df
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(Exact.Money)).as("tv"))
      val base = aggOf(ev.filter(pmod(col("event_id"), lit(10L)) =!= 0))
      val delta = aggOf(ev.filter(pmod(col("event_id"), lit(10L)) === 0))
      base.select(col("user_id"), col("day"), col("n").as("n_b"), col("tv").as("tv_b"))
        .join(delta.select(col("user_id"), col("day"), col("n").as("n_d"),
          col("tv").as("tv_d")), Seq("user_id", "day"), "full_outer")
        .select(col("user_id"), col("day"),
          (coalesce(col("n_b"), lit(0L)) + coalesce(col("n_d"), lit(0L))).as("n"),
          (coalesce(col("tv_b"), lit(0).cast(Exact.Money)) +
            coalesce(col("tv_d"), lit(0).cast(Exact.Money)))
            .cast(DoubleType).as("total_value"))
        .orderBy("user_id", "day")
    }),

    // ── [ext] multi-source BFS (bounded hops): minimum hop count from a
    // seed set over the urgent co-purchase graph — per hop one frontier
    // ⋈ edges equi-join plus an anti join against the reached set; all
    // integer state, replayed as chained CTEs by the oracle. The
    // iterative-traversal primitive Components/PageRank don't cover
    // (hop DISTANCE, not membership or mass). ──────────────────────────
    "q136_bfs_hops" -> ((s, dir) => {
      val edges = urgentEdges(s, dir)._1
      val dirE = edges.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))
        .localCheckpoint(true)
      // level-synchronous BFS WITHOUT per-hop anti joins: frontier_h is
      // just the (distinct) neighbor set of frontier_{h-1}, levels are
      // unioned with their hop index, and ONE final min(hop) aggregate
      // recovers the BFS distance (a vertex first reachable at hop h
      // appears at every later level too — min collapses that). Per hop
      // this is one |E| equi-join + one distinct, the same linear shape
      // as the PageRank rounds; the anti-join variant pays a third
      // exchange per hop to keep frontiers minimal, which only wins
      // when the reached set is large relative to |V| — here it never
      // is before hop 3.
      var frontier = dirE.select(col("src").as("v")).distinct()
        .filter(col("v") < 10).localCheckpoint(false)
      var levels = frontier.select(col("v"), lit(0).as("hop"))
      (1 to 3).foreach { h =>
        // frontier ≤ |V| (part-dimension-sized here): broadcast it
        // explicitly so the |E| side is never shuffle-written per hop
        // (AQE's broadcast conversion materializes both sides first).
        // The LAST hop skips its distinct — nothing joins against it,
        // and the closing min(hop) aggregate dedups anyway.
        val nbrs = broadcast(frontier).join(dirE, col("v") === col("src"))
          .select(col("dst").as("v"))
        frontier =
          if (h < 3) nbrs.distinct().localCheckpoint(false) else nbrs
        levels = levels.unionAll(frontier.select(col("v"), lit(h).as("hop")))
      }
      levels.groupBy("v").agg(min(col("hop")).as("hop"))
        .orderBy("hop", "v")
    }),

    // ── [ext] grouped linear regression: slope/intercept/R² per group
    // from the same DECIMAL-exact moment sums as q122 — one pass, one
    // shuffle of six partials per group, fixed-shape double finish. ────
    "q137_group_regression" -> ((s, dir) => {
      val x = col("l_quantity").cast(DecimalType(18, 2))
      val y = col("l_extendedprice").cast(DecimalType(18, 2))
      val g = T(s, dir, "lineitem").groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum((x * x).cast(DecimalType(38, 4))).as("sxx"),
        sum((y * y).cast(DecimalType(38, 4))).as("syy"),
        sum((x * y).cast(DecimalType(38, 4))).as("sxy"))
      val nD = col("n").cast(DoubleType)
      val (sx, sy) = (col("sx").cast(DoubleType), col("sy").cast(DoubleType))
      val (sxx, syy, sxy) = (col("sxx").cast(DoubleType),
        col("syy").cast(DoubleType), col("sxy").cast(DoubleType))
      val slope = ((nD * sxy) - (sx * sy)) / ((nD * sxx) - (sx * sx))
      val icept = (sy - (slope * sx)) / nD
      val r = ((nD * sxy) - (sx * sy)) /
        (sqrt((nD * sxx) - (sx * sx)) * sqrt((nD * syy) - (sy * sy)))
      g.select(col("l_returnflag"), col("n"), slope.as("slope"),
          icept.as("intercept"), (r * r).as("r2"))
        .orderBy("l_returnflag")
    }),

    // ── [ext] CUSUM drift detection in closed form: S_i = P_i −
    // min(0, min_{j≤i} P_j) where P is the running sum of (daily_total −
    // k) — algebraically identical to the recursive
    // max(0, S_{i−1} + x − k) but expressible as two running windows
    // over ONE event_type exchange, with every accumulation in DECIMAL
    // (exact, order-free) and a single double cast at the end. No
    // per-group list materialization, no recursion: the per-key state a
    // streaming engine would carry, recovered with plain windows. ──────
    "q138_cusum" -> ((s, dir) => {
      val k = lit(2500).cast(Exact.Money)
      val w = Window.partitionBy("event_type").orderBy("day")
      T(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast(Exact.Money)).as("tv"))
        .withColumn("p", sum(col("tv") - k).over(w))
        .withColumn("cusum",
          (col("p") - least(lit(0).cast(DecimalType(38, 2)),
            min(col("p")).over(w))).cast(DoubleType))
        .select(col("event_type"), col("day"), col("cusum"))
        .orderBy("event_type", "day")
    }),

    // ── [north star] entity resolution end-to-end: q80's recall-exact
    // fuzzy candidates (PassJoin-blocked bounded levenshtein) fed into
    // connected components, every document mapped to the smallest id of
    // its match cluster (itself when unmatched) — the canonicalization
    // step of record linkage, composed entirely from library operators
    // (Similarity blocking ∘ Components), each keeping its standalone
    // shuffle shape. ───────────────────────────────────────────────────
    "q139_entity_resolution" -> ((s, dir) => {
      val pairs = queries("q80_fuzzy_block_join")(s, dir)
        .select("id_a", "id_b")
      val comp = graft.operators.Components
        .connectedComponents(pairs, "id_a", "id_b")
      T(s, dir, "documents").select(col("doc_id"))
        .join(comp, col("doc_id") === col("id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("canon_id"))
        .orderBy("doc_id")
    }),

    // ── [north star] tokenize → vocab-encode → pack: the full
    // training-batch production line in one plan. Docs tokenize and
    // encode row-locally (top-16 vocab + UNK as a plan-parameter map,
    // q92's scheme); the per-lang token stream gets global positions
    // from ONE prefix-sum window; block assignment (p div 128) is then
    // row-local and the per-block aggregate carries block stats, not
    // token rows, out of the shuffle. Two exchanges total for the whole
    // pipeline — tokenization cost scales in the scan, never the wire.
    "q140_tokenize_pack" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val vocabRows = docs
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok")).limit(16)
        .select("tok").collect().map(_.getString(0))
      val vocabMap = map(vocabRows.zipWithIndex.flatMap {
        case (tok, i) => Seq(lit(tok), lit(i + 1))
      }.toIndexedSeq: _*)
      val idOf = (t: Column) =>
        coalesce(try_element_at(vocabMap, t), lit(0)).cast(LongType)
      val wBefore = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val toks = docs
        .select(col("doc_id"), col("lang"), TextOps.tokens(col("text")).as("toks"))
        .withColumn("n_tokens", size(col("toks")).cast(LongType))
        .withColumn("before", coalesce(sum(col("n_tokens")).over(wBefore), lit(0L)))
      toks.select(col("doc_id"), col("lang"), col("before"),
          posexplode(col("toks")))
        .select(col("doc_id"), col("lang"),
          (col("before") + col("pos")).as("p"), idOf(col("col")).as("id"))
        .withColumn("block_id", expr("p div 128"))
        .withColumn("off", pmod(col("p"), lit(128L)))
        .groupBy("lang", "block_id")
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum((col("off") + 1) * col("id")).as("ids_fingerprint"),
          sum(when(col("id") === 0, 1L).otherwise(0L)).as("n_unk"))
        .orderBy("lang", "block_id")
    }),

    // ── [ext] transformWithState (Spark 4 arbitrary-state API, RocksDB
    // store): per-user record-breaking events via a ValueState high-water
    // mark crossing two time-split micro-batches — see
    // EventStream.recordBreakers. ──────────────────────────────────────
    "q141_stream_records" -> ((s, dir) =>
      graft.streaming.EventStream.recordBreakers(s, dir)),

    // ── [ext] typed Aggregator API: weighted mean via
    // Dataset[T].groupByKey + a case-class Aggregator — the typed twin
    // of the untyped TypedImperativeAggregates (KMV/SpaceSaving/TopK).
    // The lossy double→cents conversion happens in SQL-land BEFORE the
    // aggregator (one DECIMAL(18,2) cast, the engine-portable rounding);
    // the aggregator itself folds exact longs, so any partial/merge
    // order yields the same pair of integers and ONE final division. ───
    "q142_typed_wmean" -> ((s, dir) => {
      import s.implicits._
      val rows = T(s, dir, "events")
        .select(col("event_type"),
          (col("value").cast(Exact.Money) * 100).cast(LongType).as("cents"),
          (pmod(col("event_id"), lit(3L)) + 1).as("w"))
        .as[(String, Long, Long)]
      rows.groupByKey(_._1).agg(WMeanAgg.toColumn.name("wmean"))
        .toDF("event_type", "wmean")
        .orderBy("event_type")
    }),

    // ── [ext] sketch re-aggregation (the sketch-table pattern): daily
    // per-type KMV sketches — what a production pipeline PERSISTS — are
    // rolled up to per-type sketches by re-aggregating the partials
    // (explode + KMV again), never touching raw rows. Sound because KMV
    // is a lattice: every global k-minimum is a k-minimum of its own
    // day, and the TreeSet dedups values shared across days, so
    // KMV(∪ daily KMVs) = KMV(raw). The monthly-rollup-from-daily-
    // sketches shape: rollup input is days × k longs, not events. ──────
    "q143_sketch_rollup" -> ((s, dir) => {
      val k = 16
      val daily = T(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(graft.functions.KMinValues(
          graft.ops.Sampling.shaHash60(col("user_id")), k).as("kmv"))
      daily.select(col("event_type"), explode(col("kmv")).as("h"))
        .groupBy("event_type")
        .agg(graft.functions.KMinValues(col("h"), k).as("kmv"))
        .select(col("event_type"),
          size(col("kmv")).cast(LongType).as("k_size"),
          element_at(col("kmv"), least(size(col("kmv")), lit(k))).as("kth_min"),
          aggregate(col("kmv"), lit(0L), (acc, x) => acc + x).as("mins_sum"))
        .orderBy("event_type")
    }),

    // ── [north star] TF-IDF document similarity: sparse cosine over
    // 3-token shingle vectors, the retrieval-grade near-dup/similarity
    // score one notch finer than q24's Jaccard (it weighs RARE shared
    // content, not raw overlap). Integer-exact throughout: tf is a
    // count, idf is the quantized integer surrogate (n_docs·1000) DIV df
    // (no transcendental log — bit-identical on any engine), weights/
    // norms/dots are exact DECIMAL(38,0) sums (matching DuckDB's exact
    // HUGEINT accumulation — BIGINT would wrap at ~900 rare shingles
    // per doc at 100k-doc corpora); the only doubles are one
    // sqrt·sqrt product and one division per surviving pair. Scale
    // shape: the pair join is blocked on the shingle itself with a df
    // cap (df·5 < corpus) that bounds per-shingle fan-out — candidate
    // mass is Σ df² over rare shingles, the same selectivity argument as
    // q24's banded blocking; df=1 shingles still count toward norms but
    // are skipped by the join (they cannot produce a pair). ───────────
    "q199_tfidf_docsim" -> ((s, dir) =>
      graft.operators.TfIdf.pairSims(T(s, dir, "documents"))
        .orderBy(col("sim").desc, col("doc_a"), col("doc_b"))
        .limit(20)),

    // ── [ext] label-propagation communities on the urgent co-purchase
    // part graph (q133's edge set): 3 synchronous min-tiebreak rounds
    // (operators/Graph.labelPropagation), then community sizes. The
    // per-round cost is one |E| equi-join + two aggregates — the same
    // linear iterative shape the README's graph probes show scaling
    // 12–16× in per-edge throughput from 1× to 100× edges. ────────────
    "q200_label_propagation" -> ((s, dir) => {
      val edges = urgentEdges(s, dir)._1
      graft.operators.Graph.labelPropagation(edges, rounds = 3)
        .groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("sz"))
        .orderBy(col("sz").desc, col("community"))
        .limit(20)
    }),

    // ── [ext] linear-interpolation gap fill: dense hourly grid per
    // event_type, empty hours filled between their nearest known
    // anchors (operators/Series.interpolateGaps) — the time-series
    // repair step before any resample/ACF runs; emits the gap rows with
    // both anchors so the fill is auditable. ──────────────────────────
    "q201_linear_interp" -> ((s, dir) =>
      graft.operators.Series.interpolateGaps(
        graft.operators.Series.hourlySeries(T(s, dir, "events")))
        .orderBy("event_type", "h")),

    // ── [ext] autocorrelation (lags 1–5) of the zero-filled hourly
    // event-count series per type: the seasonality detector behind
    // q178's day-of-week decomposition. Integer-exact raw moments →
    // fixed-shape Pearson r (operators/Series.autocorrelation). ───────
    "q202_acf" -> ((s, dir) =>
      graft.operators.Series.autocorrelation(s,
        graft.operators.Series.hourlySeries(T(s, dir, "events")),
        maxLag = 5)),

    // ── [ext] ordered-set aggregates per group: exact median (rank
    // ceil(n/2), the q155/q198 two-phase quantile operator — no global
    // sort) and MODE with deterministic smallest-value tie-break (one
    // (group, value) count + a max(struct) argmax — two map-side-
    // combined aggregates, never a per-group value sort). ─────────────
    "q203_mode_median" -> ((s, dir) => {
      val li = T(s, dir, "lineitem")
      val med = graft.operators.Quantiles.twoPassExact(
        li, "l_returnflag", "l_quantity", "l_orderkey", Seq(0.5), 10.0)
        .select(col("l_returnflag"), col("n"), col("p50").as("median_qty"))
      val mode = li.groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("c"))
        .groupBy("l_returnflag")
        .agg(max(struct(col("c").as("c"), (-col("l_quantity")).as("nv")))
          .as("m"))
        .select(col("l_returnflag"), (-col("m.nv")).as("mode_qty"),
          col("m.c").as("mode_n"))
      med.join(mode, "l_returnflag")
        .select(col("l_returnflag"), col("n"), col("median_qty"),
          col("mode_qty"), col("mode_n"))
        .orderBy("l_returnflag")
    }),

    // ── [ext] deterministic LISTAGG: per market segment, the top-5
    // customers by (acctbal DESC, name) joined into one string. The
    // per-group order is pinned by sorting (−acctbal, name) structs
    // INSIDE the aggregate (array_sort over collect_list) — a k-row
    // map-side-combinable list per group, not a global sort; string_agg
    // without an ORDER BY is shuffle-order garbage at scale. ──────────
    "q204_listagg" -> ((s, dir) => {
      val c = T(s, dir, "customer")
      c.groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_cust"),
          slice(array_sort(collect_list(struct(
            (-col("c_acctbal")).as("na"), col("c_name").as("nm")))),
            1, 5).as("t"))
        .select(col("segment"), col("n_cust"),
          concat_ws(",", transform(col("t"), x => x("nm"))).as("top_names"))
        .orderBy("segment")
    }),

    // ── [ext] Benford first-digit audit: observed leading-digit counts
    // of order totals vs the Benford expectation log10(1+1/d) — the
    // classic fabricated-data screen. Digit extraction is integer/string
    // (no transcendental log at query time: the nine Benford constants
    // are compile-time doubles embedded identically in both engines);
    // one groupBy(digit) + a broadcast of the 9-row expectation table.
    // Per-digit rows only — no cross-digit double sum, so exact. ──────
    "q205_benford" -> ((s, dir) => {
      val s2 = s; import s2.implicits._
      val exp9 = (1 to 9).map(d => (d, math.log10(1.0 + 1.0 / d)))
        .toDF("digit", "p_exp")
      val o = T(s, dir, "orders")
        .select(substring(col("o_totalprice").cast(LongType)
          .cast(StringType), 1, 1).cast(IntegerType).as("digit"))
      val tot = o.agg(count(lit(1)).as("n_total"))
      o.groupBy("digit").agg(count(lit(1)).as("n_obs"))
        .crossJoin(broadcast(tot))
        .join(broadcast(exp9), "digit")
        .select(col("digit"), col("n_obs"), col("n_total"),
          (col("n_total").cast(DoubleType) * col("p_exp")).as("n_exp"),
          (col("n_obs").cast(DoubleType) /
            (col("n_total").cast(DoubleType) * col("p_exp"))).as("excess"))
        .orderBy("digit")
    }),

    // ── [ext] chi-square contingency cells: market segment × order
    // priority independence audit. Expected counts from exact BIGINT
    // marginal products (rt·ct as int before the one double division);
    // per-cell (obs−exp)²/exp contributions emitted as rows — summing
    // 25 doubles in shuffle order would not replay, the cells do. ─────
    "q206_chi2_cells" -> ((s, dir) => {
      val j = T(s, dir, "orders").join(T(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"),
          col("o_orderpriority").as("priority"))
      val obs = j.groupBy("segment", "priority").agg(count(lit(1)).as("n_obs"))
      val rt = j.groupBy("segment").agg(count(lit(1)).as("rt"))
      val ct = j.groupBy("priority").agg(count(lit(1)).as("ct"))
      val tot = j.agg(count(lit(1)).as("n"))
      val e = obs.join(broadcast(rt), "segment")
        .join(broadcast(ct), "priority").crossJoin(broadcast(tot))
        .withColumn("n_exp", (col("rt") * col("ct")).cast(DoubleType) /
          col("n").cast(DoubleType))
      e.select(col("segment"), col("priority"), col("n_obs"), col("n_exp"),
        (((col("n_obs").cast(DoubleType) - col("n_exp")) *
          (col("n_obs").cast(DoubleType) - col("n_exp"))) / col("n_exp"))
          .as("chi2_cell"))
        .orderBy("segment", "priority")
    }),

    // ── [ext] robust means: 10% two-sided trimmed and winsorized mean
    // per group. Cut values come from the q155 two-phase exact-quantile
    // operator (NO per-group global sort — two bounded scans), then one
    // broadcast join applies the value-based trim/clamp and DECIMAL-
    // exact sums make the means replay bit-for-bit (a double sum would
    // be shuffle-order-dependent). ────────────────────────────────────
    "q207_trimmed_stats" -> ((s, dir) => {
      // Probed (round 14, StageProbe): three ~200ms stages at the
      // fixture's 3-row-group scan parallelism. Both re-shape
      // experiments measured WORSE in paired windows (repartition(32):
      // each job re-pays the exchange since reuse does not span jobs;
      // eager localCheckpoint: the materialization job costs more than
      // the three narrow rescans) — the 3-task scan is the floor at
      // this fixture size, so the working set stays a plain projection.
      val li = T(s, dir, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_orderkey")
      val cuts = graft.operators.Quantiles.twoPassExact(
        li, "l_returnflag", "l_extendedprice", "l_orderkey",
        Seq(0.1, 0.9), 1000.0)
      val x = col("l_extendedprice").cast(DecimalType(18, 2))
      // ONE scan computes BOTH robust means: the trim is a conditional
      // aggregate over the same broadcast-joined rows the winsor clamp
      // reads, so fusing them halves the lineitem passes (the round-13
      // shape aggregated each in its own scan and joined the results)
      val inCut = col("l_extendedprice") >= col("p10") &&
        col("l_extendedprice") <= col("p90")
      li.join(broadcast(cuts), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(when(inCut, 1L).otherwise(0L)).as("n_kept"),
          sum(when(inCut, x).otherwise(lit(null))).as("ts"),
          sum(least(greatest(col("l_extendedprice"), col("p10")),
            col("p90")).cast(DecimalType(18, 2))).as("ws"))
        .join(broadcast(cuts.select("l_returnflag", "p10", "p90")),
          "l_returnflag")
        .select(col("l_returnflag"), col("n"), col("n_kept"),
          col("p10"), col("p90"),
          (col("ts").cast(DoubleType) / col("n_kept").cast(DoubleType))
            .as("trimmed_mean"),
          (col("ws").cast(DoubleType) / col("n").cast(DoubleType))
            .as("winsor_mean"))
        .orderBy("l_returnflag")
    }),

    // ── [ext] sliding-window distinct count: trailing-7-day active
    // users per (event_type, day). COUNT(DISTINCT) is not a window
    // function in any engine; the scalable shape is the day-expansion
    // join — each event contributes to the ≤7 window-end days it covers
    // (a 7× row fan-out, constant, embarrassingly parallel) and one
    // exact distinct aggregate per (type, day). ───────────────────────
    "q208_sliding_distinct" -> ((s, dir) => {
      val e = T(s, dir, "events").select(col("event_type"),
        to_date(col("ts")).as("d"), col("user_id"))
      val span = e.agg(max(col("d")).as("dmax"))
      val off = s.range(0, 7).select(col("id").cast(IntegerType).as("o"))
      e.crossJoin(broadcast(off))
        .select(col("event_type"), col("user_id"),
          date_add(col("d"), col("o")).as("day"))
        .crossJoin(broadcast(span))
        .where(col("day") <= col("dmax"))
        .groupBy("event_type", "day")
        .agg(countDistinct(col("user_id")).as("n_users_7d"))
        .orderBy("event_type", "day")
    }),

    // ── [ext] sorted-neighborhood blocking (Hernández/Stolfo SIGMOD'95):
    // the third ER blocking family next to q80's PassJoin bands and
    // q139's key blocking — global sort on the blocking key, candidate
    // pairs = records within w=3 positions. The global rank is the
    // two-phase range-partitioned Ranking operator (no SinglePartition
    // exchange), and the neighbor pairing is an EQUI-join on rank+offset
    // (3 offsets broadcast) — no window over the whole table. ─────────
    "q209_sorted_neighborhood" -> ((s, dir) => {
      val ranked = graft.operators.Ranking.withGlobalRank(
        T(s, dir, "part").select("p_partkey", "p_name", "p_type"),
        "rk", "n_total", col("p_name"), col("p_partkey"))
      val a = ranked.select(col("rk"), col("p_name").as("name_a"),
        col("p_type").as("type_a"))
      val b = ranked.select(col("rk").as("rk_b"),
        col("p_name").as("name_b"), col("p_type").as("type_b"))
      val off = s.range(1, 4).select(col("id").as("off"))
      a.crossJoin(broadcast(off))
        .join(b, col("rk_b") === col("rk") + col("off"))
        .where(col("type_a") === col("type_b"))
        .groupBy(col("type_a").as("p_type"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("name_a") === col("name_b"), 1L).otherwise(0L))
            .as("n_same_name"))
        .orderBy("p_type")
    }),

    // ── [north star] n-gram novelty per source: of each doc's distinct
    // 5-gram shingles, the fraction this doc introduces to the corpus
    // (min-doc_id ownership) — low novelty = a source that mostly
    // repeats already-seen content, the aggregate complement of q197's
    // pairwise duplication matrix. One groupBy(gram) min + one join;
    // novelty is a single division of exact counts. ───────────────────
    "q210_ngram_novelty" -> ((s, dir) => {
      val ts = graft.functions.TextOps.tokens(col("text"))
      // Probe-driven shape (job-sum 2.26 s → the two 0.6 s single-task
      // explode stages gone): width pinned BEFORE the CPU-bound 5-gram
      // expansion (the small documents scan is one input split; AQE
      // never re-widens a map stage, so the ~200× row blow-up ran on a
      // single core — twice, once per branch of the groupBy-then-join
      // formulation). n_grams needs NO g-shuffle at all — it is a pure
      // map-side partial count by source; and first-seen ownership is
      // min_by per gram (hash aggregate — a window MIN would SORT the
      // gram strings), whose per-source counts join back on ≤|sources|
      // rows (broadcast).
      val sh = T(s, dir, "documents")
        .repartition(32)
        .select(col("doc_id"), col("source"), ts.as("ts"))
        .where(size(col("ts")) >= 5)
        .select(col("doc_id"), col("source"), explode(array_distinct(
          transform(sequence(lit(1), size(col("ts")) - 4), i =>
            concat_ws(" ", element_at(col("ts"), i),
              element_at(col("ts"), i + 1), element_at(col("ts"), i + 2),
              element_at(col("ts"), i + 3), element_at(col("ts"), i + 4)))))
          .as("g"))
      val nG = sh.groupBy("source").agg(count(lit(1)).as("n_grams"))
      // within one gram every doc contributes exactly one row
      // (array_distinct), so the min-doc row is unique — the owner's
      // source counts one first-seen row per gram
      val nF = sh.groupBy("g")
        .agg(min_by(col("source"), col("doc_id")).as("own_source"))
        .groupBy("own_source")
        .agg(count(lit(1)).as("n_first_seen"))
        .withColumnRenamed("own_source", "source")
      nG.join(nF, Seq("source"), "left")
        .select(col("source"), col("n_grams"),
          coalesce(col("n_first_seen"), lit(0L)).as("n_first_seen"),
          (coalesce(col("n_first_seen"), lit(0L)).cast(DoubleType) /
            col("n_grams").cast(DoubleType)).as("novelty"))
        .orderBy("source")
    }),

    // ── [north star] token burstiness (Church & Gale 1995): Fano factor
    // (variance/mean) of per-doc term frequency over the docs containing
    // each token — bursty tokens (content words) cluster, function words
    // don't; the classic keyword-vs-stopword separator that needs no
    // stopword list. Integer-exact moment sums per token, one double
    // division: fano = (df·Σtf² − (Σtf)²) / (df·Σtf). ─────────────────
    "q211_token_burstiness" -> ((s, dir) => {
      val tf = T(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.TextOps.tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      tf.groupBy("token")
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("stf"),
          sum(col("tf") * col("tf")).as("stf2"))
        .where(col("df") >= 20)
        .select(col("token"), col("df"), col("stf").as("tf_total"),
          ((col("df") * col("stf2") - col("stf") * col("stf"))
            .cast(DoubleType) /
            (col("df") * col("stf")).cast(DoubleType)).as("fano"))
        .orderBy(col("fano").desc, col("token"))
    }),

    // ── [ext] l-diversity audit: the sensitive-attribute complement of
    // q179's k-anonymity — per quasi-identifier group (nation, acctbal
    // k$-bucket), how many DISTINCT values of the sensitive attribute
    // (market segment) appear; groups with l < 3 let an attacker infer
    // the segment from the QI alone. Emits the l histogram. ───────────
    "q212_l_diversity" -> ((s, dir) => {
      val g = T(s, dir, "customer")
        .groupBy(col("c_nationkey"),
          floor(col("c_acctbal") / 1000.0).as("bal_bkt"))
        .agg(countDistinct(col("c_mktsegment")).as("l_div"),
          count(lit(1)).as("grp_n"))
      g.groupBy("l_div")
        .agg(count(lit(1)).as("n_groups"), sum(col("grp_n")).as("n_rows"),
          max(when(col("l_div") < 3, 1L).otherwise(0L)).as("at_risk"))
        .orderBy("l_div")
    }),

    // ── [ext] link prediction by common-neighbor Jaccard: for each
    // non-adjacent vertex pair of the urgent co-purchase graph sharing
    // ≥1 (capped) neighbor, |N(a)∩N(b)| / |N(a)∪N(b)|. Wedge generation
    // joins the directed edge list with itself on the MIDDLE vertex —
    // raw cost Σ deg(m)², which explodes on power-law hubs — so each
    // middle contributes at most its K=64 lowest-id neighbors (a
    // deterministic per-key top-K the oracle replays verbatim). Cost
    // drops to Σ min(deg,K)² — LINEAR in vertices at fixed K — while
    // the Jaccard denominator keeps TRUE degrees, making the score a
    // lower-bound estimate that only undercounts pairs whose shared
    // neighbors are all mega-hubs (which have near-zero Jaccard
    // anyway: a hub middle of degree d contributes ≤ 1 to c but d to
    // the union). Existing edges leave via one anti-join; degrees
    // arrive by broadcast. The hub-capped form is the standard
    // recommender prior at real graph scale. ──────────────────────────
    "q213_link_prediction" -> ((s, dir) => {
      // the session memo is already an eager localCheckpoint, so the
      // four consumers (both union branches, the degree agg, the
      // anti-join) read the materialized edge blocks directly
      val edges = urgentEdges(s, dir)._1
      val dirE = edges.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))
      // the degree aggregate is needed by the Jaccard denominator AND
      // by the hub cap's max-degree statistic — checkpoint it once so
      // the statistic is a max over |V| pinned rows, not a second
      // |E|-wide degree shuffle
      val deg = dirE.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
        .localCheckpoint(true)
      // Hub cap (adaptive): per middle vertex at most the 64 lowest-id
      // neighbors generate wedges — Σ min(deg,64)² instead of Σ deg².
      // Graph.cappedAdjacency skips the |E| window sort entirely when a
      // max-degree statistic shows no hub exceeds the cap (same rows
      // either way, so the always-capped oracle still matches). The
      // checkpoint pins the adjacency for both wedge sides.
      val capped = graft.operators.Graph.cappedAdjacency(dirE, 64,
          degrees = Some(deg))
        .localCheckpoint(false)
      val cn = capped.select(col("src").as("m"), col("dst").as("u"))
        .join(capped.select(col("src").as("m"), col("dst").as("v2")), "m")
        .where(col("u") < col("v2"))
        .groupBy(col("u"), col("v2")).agg(count(lit(1)).as("c"))
      val nonEdge = cn.join(edges,
        cn("u") === edges("a") && cn("v2") === edges("b"), "left_anti")
      nonEdge
        .join(broadcast(deg.select(col("v").as("u"), col("deg").as("du"))),
          "u")
        .join(broadcast(deg.select(col("v").as("v2"), col("deg").as("dv"))),
          "v2")
        .select(col("u").as("part_a"), col("v2").as("part_b"), col("c"),
          (col("c").cast(DoubleType) /
            (col("du") + col("dv") - col("c")).cast(DoubleType)).as("jac"))
        .orderBy(col("jac").desc, col("part_a"), col("part_b"))
        .limit(20)
    }),

    // ── [ext] keyed pseudonymization with referential integrity: stable
    // surrogate ids via salted SHA-256 (the 60-bit prefix — the same
    // cross-engine hash as q143's KMV), applied consistently to the
    // customer AND orders sides so joins still work on pseudonyms; the
    // per-segment XOR checksum (order-free, exact) and distinct counts
    // prove the mapping is total and 1:1 — the GDPR-grade export gate. ─
    "q214_pseudonymize" -> ((s, dir) => {
      val pid = graft.ops.Sampling.shaHash60(
        concat(lit("pid:"), col("c_custkey").cast(StringType)))
      val cust = T(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), pid.as("pid"))
      T(s, dir, "orders")
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("pid")).as("n_pseudonyms"),
          countDistinct(col("c_custkey")).as("n_customers"),
          expr("bit_xor(pid)").as("pid_checksum"))
        .orderBy("segment")
    }),

    // ── [ext] two-proportion z-test: purchase share of each arm's
    // events under the user_id-parity A/B split. Exact integer counts
    // (events, purchases per arm) → the pooled-variance z statistic as
    // fixed-shape double arithmetic; the one-row decision record of
    // every experiment readout. (Event-level, not user-level: per-user
    // conversion saturates to 1.0 on this fixture, zeroing the pooled
    // variance.) ──────────────────────────────────────────────────────
    "q215_two_proportion" -> ((s, dir) => {
      val a = T(s, dir, "events")
        .groupBy(pmod(col("user_id"), lit(2L)).as("arm"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("x"))
      val w = a.select(
        sum(when(col("arm") === 0, col("n"))).as("n0"),
        sum(when(col("arm") === 0, col("x"))).as("x0"),
        sum(when(col("arm") === 1, col("n"))).as("n1"),
        sum(when(col("arm") === 1, col("x"))).as("x1"))
      val (n0, x0) = (col("n0").cast(DoubleType), col("x0").cast(DoubleType))
      val (n1, x1) = (col("n1").cast(DoubleType), col("x1").cast(DoubleType))
      val pp = (x0 + x1) / (n0 + n1)
      w.select(col("n0"), col("x0"), col("n1"), col("x1"),
        (x0 / n0).as("p0"), (x1 / n1).as("p1"),
        (((x0 / n0) - (x1 / n1)) /
          sqrt((pp * (lit(1.0) - pp)) * ((lit(1.0) / n0) + (lit(1.0) / n1))))
          .as("z"))
    }),

    // ── [north star] per-source token-distribution drift: chi-square
    // cells of the source×token contingency vs the corpus-wide token
    // mix — the mix-shift monitor run before retraining on a refreshed
    // corpus (q195's KS covers numeric drift; this covers the
    // categorical token space). Exact BIGINT marginals; the BIGINT
    // product src_tot·tok_tot is exact well past this workload's scale
    // (switch the product to DOUBLE first at ≥2^63 token-instances). ──
    "q216_token_drift_cells" -> ((s, dir) => {
      val t = T(s, dir, "documents").select(col("source"),
        explode(graft.functions.TextOps.tokens(col("text"))).as("token"))
      val obs = t.groupBy("source", "token").agg(count(lit(1)).as("n_obs"))
      val st = t.groupBy("source").agg(count(lit(1)).as("src_tot"))
      val tt = t.groupBy("token").agg(count(lit(1)).as("tok_tot"))
      val g = t.agg(count(lit(1)).as("grand"))
      val e = obs.join(broadcast(st), "source").join(broadcast(tt), "token")
        .crossJoin(broadcast(g))
        .withColumn("n_exp",
          (col("src_tot") * col("tok_tot")).cast(DoubleType) /
            col("grand").cast(DoubleType))
      e.select(col("source"), col("token"), col("n_obs"), col("n_exp"),
        (((col("n_obs").cast(DoubleType) - col("n_exp")) *
          (col("n_obs").cast(DoubleType) - col("n_exp"))) / col("n_exp"))
          .as("chi2_cell"))
        .orderBy("source", "token")
    }),

    // ── [ext] equi-depth histogram: exact octile boundaries per
    // event_type from the q155 two-phase quantile operator (bounded
    // two-scan, no per-group sort). Octiles (eighths) are chosen
    // deliberately: 0.125 is exactly representable in binary, so
    // ceil(p·n) replays identically from a SQL decimal literal and a
    // Scala double — deciles (0.1, 0.3…) are NOT exactly representable
    // and can straddle an integer rank across engines. ────────────────
    "q217_equidepth_hist" -> ((s, dir) =>
      graft.operators.Quantiles.twoPassExact(
        T(s, dir, "events"), "event_type", "value", "event_id",
        octiles, 50.0)
        .orderBy("event_type")),

    // ── [ext] weighted median: per source, the token-count value at
    // which half the CHARACTER mass of the corpus lies below — the
    // size-weighted centre a plain median misses when long docs carry
    // the budget. Exact: integer cumulative weights over a per-source
    // ordered window, answer = min (value, doc) with 2·cum ≥ W.
    // Parallelism is per source here; for few-group/huge-group shapes
    // the q219 pattern (ONE global range-ranking with per-group offset
    // subtraction) applies identically. ───────────────────────────────
    "q218_weighted_median" -> ((s, dir) => {
      val d = T(s, dir, "documents").select(col("source"), col("doc_id"),
        graft.functions.TextOps.tokenCount(col("text")).as("nt"),
        col("n_chars").as("w"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("nt", "doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      val tot = d.groupBy("source").agg(sum(col("w")).as("w_total"))
      d.withColumn("cum", sum(col("w")).over(win))
        .join(broadcast(tot), "source")
        .where(col("cum") * 2 >= col("w_total"))
        .groupBy("source")
        .agg(max(col("w_total")).as("w_total"),
          min(struct(col("nt").as("nt"), col("doc_id").as("d"))).as("m"))
        .select(col("source"), col("w_total"), col("m.nt").as("wmedian_nt"))
        .orderBy("source")
    }),

    // ── [ext] Gini concentration of customer spend per market segment:
    // the inequality audit (is 1% of customers 90% of revenue?). The
    // rank-sum identity G = (2·Σi·xᵢ − (n+1)·Σx)/(n·Σx) needs
    // within-segment ranks of a TOTAL sort — computed with ONE global
    // range-partitioned Ranking over (segment, spend, custkey) and a
    // broadcast per-segment min-rank subtraction, so no per-segment
    // SinglePartition window exists even when one segment holds most
    // customers. DECIMAL-exact rank-weighted sums; one double divide. ─
    "q219_gini" -> ((s, dir) => {
      val spend = T(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("x"))
      val cust = T(s, dir, "customer")
        .join(spend, col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"), col("c_custkey"),
          col("x"))
      val ranked = graft.operators.Ranking.withGlobalRank(
        cust, "rk", "nt", col("segment"), col("x"), col("c_custkey"))
      val offs = ranked.groupBy("segment").agg(min(col("rk")).as("rk0"))
      val a = ranked.join(broadcast(offs), "segment")
        .withColumn("i", col("rk") - col("rk0") + 1L)
        .groupBy("segment")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("i") * col("x")).as("sixi"))
      a.select(col("segment"), col("n"),
        col("sx").cast(DoubleType).as("total_spend"),
        ((lit(2L) * col("sixi") - (col("n") + lit(1L)) * col("sx"))
          .cast(DoubleType) /
          (col("n") * col("sx")).cast(DoubleType)).as("gini"))
        .orderBy("segment")
    }),

    // ── [ext] streaming SpaceSaving heavy hitters (see EventStream
    // .spaceSavingTotals): bounded top-m state merged across micro-
    // batches by the mergeable-summaries rule; token domain < m keeps
    // every partial exact, so the batch GROUP BY oracle checks the
    // streamed merge path bit-for-bit. ────────────────────────────────
    "q220_stream_spacesaving" -> ((s, dir) =>
      graft.streaming.EventStream.spaceSavingTotals(s, dir)),

    // ── [north star] T5-style span-corruption statistics: deterministic
    // 15% token masking keyed on sha60(doc:pos) — the reproducible
    // mask every denoising-objective pipeline needs (re-running the job
    // yields the same spans, so targets match across shards/retries).
    // Span boundaries via one per-doc lag window; per-source aggregate
    // of exact counts. ────────────────────────────────────────────────
    "q221_span_corruption" -> ((s, dir) => {
      val tk = T(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          posexplode(graft.functions.TextOps.tokens(col("text")))
            .as(Seq("pos", "tok")))
      val masked = tk.withColumn("m",
        when(pmod(graft.ops.Sampling.shaHash60(
          concat(col("doc_id").cast(StringType), lit(":"),
            col("pos").cast(StringType))), lit(100L)) < 15, 1L)
          .otherwise(0L))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")
      val spans = masked.withColumn("pm",
          coalesce(lag(col("m"), 1).over(w), lit(0L)))
        .withColumn("start",
          when(col("m") === 1 && col("pm") === 0, 1L).otherwise(0L))
      spans.groupBy("source")
        .agg(count(lit(1)).as("n_tokens"), sum(col("m")).as("n_masked"),
          sum(col("start")).as("n_spans"))
        .select(col("source"), col("n_tokens"), col("n_masked"),
          col("n_spans"),
          (col("n_masked").cast(DoubleType) /
            col("n_tokens").cast(DoubleType)).as("mask_rate"),
          when(col("n_spans") > 0,
            col("n_masked").cast(DoubleType) /
              col("n_spans").cast(DoubleType)).as("mean_span_len"))
        .orderBy("source")
    }),

    // ── [north star] source-mix rebalance weights: per-source sampling
    // weight to reach a uniform target mix (weight = N/(S·n_s)) plus
    // the natural share — the importance-weighting companion to q158's
    // temperature mixing (that one materializes the sample; this one
    // emits the weights a trainer feeds to its sampler). ──────────────
    "q222_mix_rebalance" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      val per = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val tot = d.agg(count(lit(1)).as("n_total"),
        countDistinct(col("source")).as("n_sources"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"),
          (col("n_docs").cast(DoubleType) / col("n_total").cast(DoubleType))
            .as("natural_share"),
          (col("n_total").cast(DoubleType) /
            (col("n_sources") * col("n_docs")).cast(DoubleType))
            .as("weight"),
          when(col("n_docs") * col("n_sources") < col("n_total"), 1L)
            .otherwise(0L).as("upsampled"))
        .orderBy("source")
    }),

    // ── [north star] deterministic contrastive negative sampling: each
    // embedding takes up to 3 different-label negatives from its hash
    // ring successors — reproducible negatives without a shuffle-order
    // dependence (the ring is sha60-keyed), and NO cross join: one
    // global range Ranking + a 5-offset broadcast equi-join, the
    // scalable shape for billions of anchors. ─────────────────────────
    "q223_negative_sampling" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings").select(col("vec_id"), col("label"),
        graft.ops.Sampling.shaHash60(
          concat(lit("ring:"), col("vec_id").cast(StringType))).as("h"))
      val ranked = graft.operators.Ranking.withGlobalRank(
        emb, "rk", "n_all", col("h"), col("vec_id"))
      val cands = ranked.select(col("rk").as("crk"),
        col("vec_id").as("neg_id"), col("label").as("neg_label"))
      val off = s.range(1, 6).select(col("id").as("off"))
      val j = ranked.crossJoin(broadcast(off))
        .withColumn("crk",
          pmod(col("rk") + col("off") - 1, col("n_all")) + 1)
        .join(cands, "crk")
        .where(col("neg_label") =!= col("label"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy("off")
      j.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("vec_id"), col("off"), col("neg_id"))
        .orderBy("vec_id", "off")
    }),

    // ── [north star] train/eval n-gram overlap curve: for n = 1..5, the
    // fraction of the eval set's (src0, q65's convention) distinct
    // n-grams that also appear in the training split — the contamination
    // DEPTH profile behind q65/q163's binary gate (unigram overlap is
    // expected; 5-gram overlap is leakage). One distinct-shingle semi
    // join per n, all exact counts. ───────────────────────────────────
    "q224_overlap_curve" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      val ts = graft.functions.TextOps.tokens(col("text"))
      // ALL five gram sizes in one pass: each doc emits its (n, gram)
      // pairs for n = 1..5 from a single tokenization, so the curve
      // costs ONE distinct exchange per split and ONE semi join on the
      // composite (n, g) key — the per-n formulation re-scanned and
      // re-shuffled the corpus five times for the same rows (5 scans,
      // 10 distincts, 5 joins → 2 scans, 2 distincts, 1 join; at 100 TB
      // the n-loop shape is five passes over the corpus, this is one)
      def grams(df: DataFrame): DataFrame =
        df.select(ts.as("ts"))
          .select(explode(flatten(transform(sequence(lit(1), lit(5)), n =>
            when(size(col("ts")) >= n,
              transform(sequence(lit(1), size(col("ts")) - n + 1), i =>
                struct(n.cast(LongType).as("n"),
                  concat_ws(" ", slice(col("ts"), i, n)).as("g"))))
              .otherwise(
                array().cast("array<struct<n:bigint,g:string>>")))))
            .as("p"))
          .select(col("p.n").as("n"), col("p.g").as("g"))
          .distinct()
      val ev = grams(d.filter(col("source") === "src0"))
      val tr = grams(d.filter(col("source") =!= "src0"))
      // ev appears in both branches below — identical canonical plans,
      // so the distinct's exchange is computed once and reused
      val shared = ev.join(tr, Seq("n", "g"), "left_semi")
        .groupBy("n").agg(count(lit(1)).as("n_shared"))
      ev.groupBy("n").agg(count(lit(1)).as("n_eval"))
        .join(shared, Seq("n"), "left")
        .select(col("n"), col("n_eval"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          (coalesce(col("n_shared"), lit(0L)).cast(DoubleType) /
            col("n_eval").cast(DoubleType)).as("overlap"))
        .orderBy("n")
    }),

    // ── [north star] tokenizer fertility per language: subword tokens
    // (the BPE-ish regex segmentation) per whitespace word — the
    // standard multilingual-tokenizer health metric (fertility ≫ 1 for
    // a language means its text costs that many times more sequence
    // positions). Exact integer sums, one division. ───────────────────
    "q225_tokenizer_fertility" -> ((s, dir) => {
      val t = graft.functions.TextOps
      T(s, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(t.tokenCount(col("text"))).as("n_words"),
          sum(size(t.regexTokens(col("text"))).cast(LongType))
            .as("n_subwords"))
        .select(col("lang"), col("n_docs"), col("n_words"),
          col("n_subwords"),
          (col("n_subwords").cast(DoubleType) /
            col("n_words").cast(DoubleType)).as("fertility"))
        .orderBy("lang")
    }),

    // ── [ext] shard-assignment balance audit: docs hashed to 32 output
    // shards (the write-path layout of every distributed export);
    // per-shard doc and char mass plus the share of total — the skew
    // report that predicts straggler write tasks. ─────────────────────
    "q226_shard_balance" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      val shard = pmod(graft.ops.Sampling.shaHash60(
        concat(lit("shard:"), col("doc_id").cast(StringType))), lit(32L))
      val per = d.groupBy(shard.as("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      per.crossJoin(broadcast(d.agg(count(lit(1)).as("n_total"))))
        .select(col("shard"), col("n_docs"), col("n_chars"),
          (col("n_docs").cast(DoubleType) / col("n_total").cast(DoubleType))
            .as("share"))
        .orderBy("shard")
    }),

    // ── [ext] bag-semantic set operations: INTERSECT ALL / EXCEPT ALL
    // between the click and view user multisets (q19/q20 cover the
    // DISTINCT forms; the ALL forms preserve multiplicity — the
    // difference between "users who did both" and "how many repeat
    // visits survive"). ───────────────────────────────────────────────
    "q227_bag_setops" -> ((s, dir) => {
      val e = T(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click").select("user_id")
      val views = e.filter(col("event_type") === "view").select("user_id")
      clicks.agg(count(lit(1)).as("n_clicks"))
        .crossJoin(views.agg(count(lit(1)).as("n_views")))
        .crossJoin(clicks.intersectAll(views)
          .agg(count(lit(1)).as("n_intersect_all")))
        .crossJoin(clicks.exceptAll(views)
          .agg(count(lit(1)).as("n_except_all")))
    }),

    // ── [north star] ANN recall report: recall@10 of the q56 IVF index
    // (nprobe=2 of 8 cells) against the exact cosine top-10, per query —
    // the evaluation harness every approximate index ships with. Both
    // arms run DISTRIBUTED over one shared (query × candidate) cosine
    // relation: exact = rank ≤ 10, IVF = rank ≤ 10 within probed cells;
    // probes come from a per-query top-2 over the 8 plan-time centroid
    // dots. The whole report is one plan — no per-query driver loop. ──
    "q228_ann_recall" -> ((s, dir) => {
      val cents = graft.operators.Similarity.ivfLattice(8, 64)
      val e = T(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val cands = e.filter(col("vec_id") >= 10)
        .withColumn("cell",
          graft.functions.NearestCentroid(col("embedding"), cents)
            .cast("long"))
      val sims = cands.crossJoin(broadcast(qs))
        .select(col("qid"), col("vec_id"), col("cell"),
          graft.functions.VectorOps.cosine(col("embedding"), col("qv"))
            .as("sim"))
      val wq = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
      val ex = sims.withColumn("rn", row_number().over(wq))
        .where(col("rn") <= 10).select("qid", "vec_id")
      val dots = cents.zipWithIndex.map { case (c, p) =>
        struct(lit(p.toLong).as("cid"),
          aggregate(zip_with(col("qv").cast("array<double>"),
            array(c.map(lit): _*), (a, b) => a * b),
            lit(0.0), (acc, x) => acc + x).as("dq"))
      }
      val wp = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("dq").desc, col("cid"))
      val probes = qs
        .select(col("qid"), explode(array(dots: _*)).as("s"))
        .select(col("qid"), col("s.cid").as("cid"), col("s.dq").as("dq"))
        .withColumn("rn", row_number().over(wp)).where(col("rn") <= 2)
        .select(col("qid").as("pqid"), col("cid"))
      val iv = sims.join(probes,
          col("qid") === col("pqid") && col("cell") === col("cid"))
        .withColumn("rn", row_number().over(wq))
        .where(col("rn") <= 10)
        .select(col("qid").as("iqid"), col("vec_id").as("ivid"))
      val hits = ex.join(iv,
          col("qid") === col("iqid") && col("vec_id") === col("ivid"))
        .groupBy("qid").agg(count(lit(1)).as("n_hits"))
      qs.select("qid").join(hits, Seq("qid"), "left")
        .select(col("qid"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast(DoubleType) / lit(10.0))
            .as("recall_at_10"))
        .orderBy("qid")
    }),

    // ── [ext] one-way ANOVA F: does mean event value differ across the
    // five event types? Per-group DECIMAL-exact moments (n, Σx, Σx²) in
    // one conditional-aggregation pass, pivoted to a single row; the
    // cross-group reduction Σ S_g²/n_g is a FIXED-ORDER fold over the
    // known factor levels (a groupBy over doubles would re-associate in
    // shuffle order and not replay). Complements q134's pairwise Welch. ─
    "q229_anova_f" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val x = col("value").cast(DecimalType(18, 2))
      val xx = (x * x).cast(DecimalType(38, 4))
      val aggs = types.flatMap { t =>
        val is = col("event_type") === t
        Seq(sum(when(is, 1L).otherwise(0L)).as(s"n_$t"),
          sum(when(is, x)).as(s"s_$t"))
      } ++ Seq(count(lit(1)).as("n_tot"), sum(x).as("s_tot"),
        sum(xx).as("ss_tot"))
      val w = T(s, dir, "events").agg(aggs.head, aggs.tail: _*)
      val sumB = types.map { t =>
        (col(s"s_$t").cast(DoubleType) * col(s"s_$t").cast(DoubleType)) /
          col(s"n_$t").cast(DoubleType)
      }.reduce(_ + _)
      val nD = col("n_tot").cast(DoubleType)
      val sD = col("s_tot").cast(DoubleType)
      val ssD = col("ss_tot").cast(DoubleType)
      val k = lit(types.length.toDouble)
      val ssb = sumB - ((sD * sD) / nD)
      val ssw = ssD - sumB
      w.select(lit(types.length.toLong).as("k"), col("n_tot"),
        ssb.as("ss_between"), ssw.as("ss_within"),
        ((ssb / (k - lit(1.0))) / (ssw / (nD - k))).as("f_stat"))
    }),

    // ── [ext] Poisson bootstrap (the distributed bootstrap — per-row
    // independent weights instead of n-with-replacement draws, Chamandy
    // et al., Google 2012): 32 deterministic hash-keyed resamples of the
    // purchase-value mean in ONE pass (32× row fan-out against a
    // broadcast replicate index, map-side combined). Weights follow the
    // integer-quantized Poisson(1) pmf (37/37/18/6/2%), DECIMAL-exact
    // weighted sums; the resample spread IS the standard error. ───────
    "q230_poisson_bootstrap" -> ((s, dir) => {
      val reps = s.range(0, 32).select(col("id").as("r"))
      val h = pmod(graft.ops.Sampling.shaHash60(
        concat(lit("boot:"), col("r").cast(StringType), lit(":"),
          col("event_id").cast(StringType))), lit(100L))
      val wgt = when(h < 37, 0L).when(h < 74, 1L).when(h < 92, 2L)
        .when(h < 98, 3L).otherwise(4L)
      T(s, dir, "events").filter(col("event_type") === "purchase")
        .crossJoin(broadcast(reps))
        .withColumn("w", wgt)
        .groupBy("r")
        .agg(sum(col("w")).as("n_eff"),
          sum((col("w") * col("value").cast(DecimalType(18, 2)))
            .cast(DecimalType(38, 2))).as("tv"))
        .select(col("r"), col("n_eff"),
          (col("tv").cast(DoubleType) / col("n_eff").cast(DoubleType))
            .as("boot_mean"))
        .orderBy("r")
    }),

    // ── [ext] month-over-month growth: revenue per calendar month with
    // the growth rate vs the previous month. The scalable part is the
    // month aggregate (one exchange, DECIMAL-exact); the lag window then
    // runs over ~80 post-aggregate rows — a SinglePartition over the
    // AGGREGATE is the correct plan when the window input is bounded by
    // the calendar, not the data. ─────────────────────────────────────
    "q231_mom_growth" -> ((s, dir) => {
      val m = T(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("month")
      m.withColumn("prev", lag(col("rev"), 1).over(w))
        .select(col("month"), col("n_orders"),
          col("rev").cast(DoubleType).as("revenue"),
          ((col("rev").cast(DoubleType) - col("prev").cast(DoubleType)) /
            col("prev").cast(DoubleType)).as("mom_growth"))
        .orderBy("month")
    }),

    // ── [ext] top movers: parts whose revenue grew most from the
    // second-latest to the latest ship year. Year pivot by conditional
    // aggregation (no join between the two periods), growth from exact
    // DECIMAL revenue, top-20 under a total order. ────────────────────
    "q232_top_movers" -> ((s, dir) => {
      val li = T(s, dir, "lineitem")
      val rev = col("l_extendedprice").cast(graft.ops.Exact.Money) *
        (lit(BigDecimal("1.00")).cast(graft.ops.Exact.Rate) -
          col("l_discount").cast(graft.ops.Exact.Rate))
      val y1 = li.agg(max(year(col("l_shipdate"))).as("y1"))
      val per = li.crossJoin(broadcast(y1))
        .groupBy(col("l_partkey"))
        .agg(sum(when(year(col("l_shipdate")) === col("y1") - 1, rev))
          .as("rev0"),
          sum(when(year(col("l_shipdate")) === col("y1"), rev)).as("rev1"))
        .where(col("rev0").isNotNull && col("rev1").isNotNull &&
          col("rev0") > 0)
      per.select(col("l_partkey"), col("rev0").cast(DoubleType).as("rev_y0"),
          col("rev1").cast(DoubleType).as("rev_y1"),
          ((col("rev1").cast(DoubleType) - col("rev0").cast(DoubleType)) /
            col("rev0").cast(DoubleType)).as("growth"))
        .orderBy(col("growth").desc, col("l_partkey"))
        .limit(20)
    }),

    // ── [ext] HyperLogLog register table: the 64-bucket rank-of-first-
    // one registers (Flajolet 2007) materialized EXACTLY — bucket = top
    // 6 bits of the sha-60 hash, rho = leading-zero rank of the low 54
    // via minimal-width bin() string length (identical in both engines;
    // no float log2). Registers are max-mergeable: the '__all' rows
    // re-max the per-type rows, proving the rollup never revisits raw
    // data — the replayable register-level twin of q18's opaque HLL
    // binary (estimate = α·m²/Σ2^-M is one driver-side fold away). ────
    "q233_hll_registers" -> ((s, dir) => {
      val h = graft.ops.Sampling.shaHash60(col("user_id"))
      val b = T(s, dir, "events")
        .select(col("event_type"), h.as("h"))
        .select(col("event_type"), shiftright(col("h"), 54).as("bucket"),
          col("h").bitwiseAND(lit((1L << 54) - 1)).as("low"))
        .select(col("event_type"), col("bucket"),
          when(col("low") === 0, 55L)
            .otherwise(lit(55L) - length(bin(col("low"))).cast(LongType))
            .as("rho"))
      val per = b.groupBy("event_type", "bucket")
        .agg(max(col("rho")).as("register"))
      val all = per.groupBy("bucket")
        .agg(max(col("register")).as("register"))
        .select(lit("__all").as("event_type"), col("bucket"),
          col("register"))
      per.unionByName(all).orderBy("event_type", "bucket")
    }),

    // ── [north star] stratified k-fold assignment: deterministic
    // hash-keyed fold ids with the per-(label, fold) census — the
    // reproducible cross-validation split whose class balance is
    // auditable (share = fold's slice of its label). ──────────────────
    "q234_stratified_folds" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
        .select(col("label"), pmod(graft.ops.Sampling.shaHash60(
          concat(lit("fold:"), col("vec_id").cast(StringType))), lit(5L))
          .as("fold"))
      val per = e.groupBy("label", "fold").agg(count(lit(1)).as("n"))
      val tot = e.groupBy("label").agg(count(lit(1)).as("n_label"))
      per.join(broadcast(tot), "label")
        .select(col("label"), col("fold"), col("n"),
          (col("n").cast(DoubleType) / col("n_label").cast(DoubleType))
            .as("share"))
        .orderBy("label", "fold")
    }),

    // ── [ext] eventually-follows matrix: for each ordered event-type
    // pair, how many users did A (first) strictly before B (first) —
    // the process-mining relation q126's ADJACENT transitions cannot
    // see. First occurrences collapse the stream to ≤ |types| rows per
    // user before the pair self-join, so the join input is bounded by
    // users × 5, not events. ──────────────────────────────────────────
    "q235_eventually_follows" -> ((s, dir) => {
      val f = T(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(col("ts")).as("t0"))
      // User total stays INSIDE the lazy plan (one-row aggregate
      // broadcast-crossJoined, as q205/q208/q246 do) — no eager Spark
      // job at construction time, no stale literal (advice r8).
      val tot = f.agg(countDistinct(col("user_id")).as("n_total_users"))
      f.select(col("user_id"), col("event_type").as("t_from"),
          col("t0").as("ta"))
        .join(f.select(col("user_id"), col("event_type").as("t_to"),
          col("t0").as("tb")), "user_id")
        .where(col("t_from") =!= col("t_to") && col("ta") < col("tb"))
        .groupBy("t_from", "t_to").agg(count(lit(1)).as("n_users"))
        .crossJoin(broadcast(tot))
        .select(col("t_from"), col("t_to"), col("n_users"),
          (col("n_users").cast(DoubleType) /
            col("n_total_users").cast(DoubleType)).as("share"))
        .orderBy("t_from", "t_to")
    }),

    // ── [north star] corpus diversity indices per source: language
    // richness, Simpson index 1 − Σ(nᵢ/N)² (as the exact rational
    // (N²−Σnᵢ²)/N²), and Berger-Parker dominance max(nᵢ)/N — the
    // monoculture alarms of a corpus mix, all from one (source, lang)
    // count (Shannon entropy avoided: ln is not exactly rounded). ─────
    "q236_diversity_index" -> ((s, dir) => {
      val per = T(s, dir, "documents")
        .groupBy("source", "lang").agg(count(lit(1)).as("n"))
      per.groupBy("source")
        .agg(sum(col("n")).as("n_docs"), count(lit(1)).as("richness"),
          sum(col("n") * col("n")).as("s2"), max(col("n")).as("nmax"))
        .select(col("source"), col("n_docs"), col("richness"),
          ((col("n_docs") * col("n_docs") - col("s2")).cast(DoubleType) /
            (col("n_docs") * col("n_docs")).cast(DoubleType))
            .as("simpson"),
          (col("nmax").cast(DoubleType) / col("n_docs").cast(DoubleType))
            .as("berger_parker"))
        .orderBy("source")
    }),

    // ── [ext] typed cogroup: per-user activity diff between the first
    // and second half-month via `KeyValueGroupedDataset.cogroup` — the
    // typed two-sided custom-merge surface (groupByKey q142 covers the
    // one-sided Aggregator). Each side arrives grouped once; the merge
    // closure sees both iterators per key, including keys present on
    // only one side — the typed twin of a full-outer join + agg. ──────
    "q237_typed_cogroup" -> ((s, dir) => {
      val s2 = s; import s2.implicits._
      val ev = T(s, dir, "events")
        .select(col("user_id"), (dayofmonth(col("ts")) <= 15).as("h1"))
        .as[(Long, Boolean)]
      val a = ev.filter(_._2).groupByKey(_._1)
      val b = ev.filter(!_._2).groupByKey(_._1)
      a.cogroup(b) { (k, i1, i2) =>
        val n1 = i1.size.toLong; val n2 = i2.size.toLong
        Iterator((k, n1, n2, n2 - n1))
      }.toDF("user_id", "n_first", "n_second", "delta")
        .orderBy("user_id")
    }),

    // ── [ext] hierarchical percent-of-parent: region → nation revenue
    // with each nation's share of its region and of the total — the
    // drill-down contribution report over the two so-far-cold dimension
    // tables. DECIMAL-exact revenue; dims and the ≤|regions| totals
    // travel by broadcast. ────────────────────────────────────────────
    "q238_hierarchy_shares" -> ((s, dir) => {
      val rev = T(s, dir, "orders")
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
      val dims = T(s, dir, "nation")
        .join(broadcast(T(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
      val n = rev.join(broadcast(dims), col("c_nationkey") === col("n_nationkey"))
        .select(col("r_name").as("region"), col("n_name").as("nation"),
          col("rev"))
      val regTot = n.groupBy("region").agg(sum(col("rev")).as("reg_rev"))
      val tot = n.agg(sum(col("rev")).as("tot_rev"))
      n.join(broadcast(regTot), "region").crossJoin(broadcast(tot))
        .select(col("region"), col("nation"),
          col("rev").cast(DoubleType).as("revenue"),
          (col("rev").cast(DoubleType) / col("reg_rev").cast(DoubleType))
            .as("share_of_region"),
          (col("rev").cast(DoubleType) / col("tot_rev").cast(DoubleType))
            .as("share_of_total"))
        .orderBy("region", "nation")
    }),

    // ── [ext] conversion-latency quantiles: first view → first
    // subsequent purchase per user, exact p50/p90 of the latency in
    // micros via the two-phase quantile operator (hour-wide bins bound
    // pass 1; pass 2 sorts only candidate-bin rows). ──────────────────
    "q239_conversion_latency" -> ((s, dir) => {
      val e = T(s, dir, "events")
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("tv"))
      val lat = e.filter(col("event_type") === "purchase")
        .join(v, "user_id")
        .where(col("ts") > col("tv"))
        .groupBy(col("user_id"), col("tv")).agg(min(col("ts")).as("tp"))
        .select(col("user_id"),
          (unix_micros(col("tp")) - unix_micros(col("tv"))).as("lat_us"))
        .withColumn("g", lit("all"))
      graft.operators.Quantiles.twoPassExact(
        lat, "g", "lat_us", "user_id", Seq(0.5, 0.9), 3600000000.0)
        .select(col("n").as("n_converters"), col("p50").as("p50_us"),
          col("p90").as("p90_us"))
    }),

    // ── [ext] longest repeated-token run per doc (gaps-and-islands over
    // token positions): run boundaries from one per-doc lag window,
    // run_id = running sum of boundaries, lengths per (doc, run) — the
    // span-level repetition diagnostic under q99's ratio gates. Per-
    // source rollup with exact integer means. ─────────────────────────
    "q240_longest_run" -> ((s, dir) => {
      val tk = T(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          posexplode(graft.functions.TextOps.tokens(col("text")))
            .as(Seq("pos", "tok")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")
      val runs = tk
        .withColumn("chg",
          when(lag(col("tok"), 1).over(w).isNull ||
            lag(col("tok"), 1).over(w) =!= col("tok"), 1L).otherwise(0L))
        .withColumn("run_id", sum(col("chg")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)))
        .groupBy(col("doc_id"), col("source"), col("run_id"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("doc_id"), col("source"))
        .agg(max(col("len")).as("max_run"))
      runs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), max(col("max_run")).as("max_run"),
          sum(col("max_run")).as("sum_max_run"),
          sum(when(col("max_run") >= 3, 1L).otherwise(0L)).as("n_run3"))
        .select(col("source"), col("n_docs"), col("max_run"), col("n_run3"),
          (col("sum_max_run").cast(DoubleType) /
            col("n_docs").cast(DoubleType)).as("mean_max_run"))
        .orderBy("source")
    }),

    // ── [ext] empirical-Bayes shrinkage: per-part mean discount shrunk
    // toward the global mean with prior weight w=50 — the CTR/rate
    // smoothing that stops low-volume groups from topping rankings on
    // noise. smoothed = (Σx + w·μ)/(n + w), DECIMAL-exact sums, the μ
    // term in one fixed IEEE shape; top-20 smoothed vs raw exposes the
    // rank inversions the prior causes. ───────────────────────────────
    "q241_bayes_shrinkage" -> ((s, dir) => {
      val x = col("l_discount").cast(DecimalType(18, 2))
      val per = T(s, dir, "lineitem").groupBy("l_partkey")
        .agg(count(lit(1)).as("n"), sum(x).as("sx"))
      val g = per.agg(sum(col("n")).as("ng"), sum(col("sx")).as("sg"))
      val mu = col("sg").cast(DoubleType) / col("ng").cast(DoubleType)
      val w = lit(50.0)
      per.crossJoin(broadcast(g))
        .select(col("l_partkey"), col("n"),
          (col("sx").cast(DoubleType) / col("n").cast(DoubleType))
            .as("raw_mean"),
          ((col("sx").cast(DoubleType) + w * mu) /
            (col("n").cast(DoubleType) + w)).as("smoothed"))
        .orderBy(col("smoothed").desc, col("l_partkey"))
        .limit(20)
    }),

    // ── [ext] FK integrity audit: orphan counts for every foreign-key
    // edge of the star schema in one report — each edge is one LEFT
    // ANTI join against (broadcast-sized or shuffled) parent keys; the
    // referential health check run before any join-dependent pipeline. ─
    "q242_fk_integrity" -> ((s, dir) => {
      def edge(name: String, child: DataFrame, key: String,
               parent: DataFrame, pkey: String): DataFrame = {
        val n = child.agg(count(lit(1)).as("n_rows"))
        val orph = child.join(parent.select(col(pkey)),
            col(key) === col(pkey), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
        n.crossJoin(orph).select(lit(name).as("fk_edge"), col("n_rows"),
          col("n_orphans"))
      }
      val o = T(s, dir, "orders"); val c = T(s, dir, "customer")
      val li = T(s, dir, "lineitem"); val p = T(s, dir, "part")
      val su = T(s, dir, "supplier"); val na = T(s, dir, "nation")
      val re = T(s, dir, "region")
      Seq(
        edge("orders->customer", o, "o_custkey", c, "c_custkey"),
        edge("lineitem->orders", li, "l_orderkey", o, "o_orderkey"),
        edge("lineitem->part", li, "l_partkey", p, "p_partkey"),
        edge("lineitem->supplier", li, "l_suppkey", su, "s_suppkey"),
        edge("customer->nation", c, "c_nationkey", na, "n_nationkey"),
        edge("nation->region", na, "n_regionkey", re, "r_regionkey"))
        .reduce(_.unionAll(_))
        .orderBy("fk_edge")
    }),

    // ── [ext] data-contract audit: declarative expectations (non-null,
    // range, domain, positivity) evaluated as ONE conditional-
    // aggregation scan per table, emitted as (check, n_rows, n_violations)
    // rows — the schema-contract gate between pipeline stages. ────────
    "q243_data_contract" -> ((s, dir) => {
      def checks(df: DataFrame, rows: Seq[(String, Column)]): DataFrame = {
        val aggs = count(lit(1)).as("n_rows") +:
          rows.zipWithIndex.map { case ((_, bad), i) =>
            sum(when(bad, 1L).otherwise(0L)).as(s"v$i") }
        val a = df.agg(aggs.head, aggs.tail: _*)
        a.selectExpr(s"stack(${rows.length}, " + rows.zipWithIndex.map {
          case ((nm, _), i) => s"'$nm', n_rows, v$i" }.mkString(", ") +
          ") AS (check_name, n_rows, n_violations)")
      }
      val ev = checks(T(s, dir, "events"), Seq(
        ("events.user_id_nonnull", col("user_id").isNull),
        ("events.value_nonnegative", col("value") < 0),
        ("events.type_in_domain", !col("event_type").isin(
          "click", "error", "purchase", "signup", "view")),
        ("events.ts_in_2024", year(col("ts")) =!= 2024)))
      val or = checks(T(s, dir, "orders"), Seq(
        ("orders.totalprice_positive", col("o_totalprice") <= 0),
        ("orders.status_in_domain", !col("o_orderstatus").isin(
          "F", "O", "P"))))
      val li = checks(T(s, dir, "lineitem"), Seq(
        ("lineitem.qty_range_1_50",
          col("l_quantity") < 1 || col("l_quantity") > 50),
        ("lineitem.discount_rate",
          col("l_discount") < 0 || col("l_discount") > 1)))
      ev.unionAll(or).unionAll(li).orderBy("check_name")
    }),

    // ── [ext] primary-key uniqueness audit: per table, row count vs
    // distinct key count and the duplicated-key mass — the PK health
    // companion of q242's FK edges (one exact distinct per table). ────
    "q244_pk_audit" -> ((s, dir) => {
      def pk(name: String, df: DataFrame, cols: Seq[String]): DataFrame = {
        // ':' separator keeps the composite key injective and matches
        // the oracle's delimiter exactly (advice r8).
        val k = concat_ws(":", cols.map(col): _*)
        df.agg(count(lit(1)).as("n_rows"),
            countDistinct(k).as("n_distinct"))
          .select(lit(name).as("pk"), col("n_rows"), col("n_distinct"),
            (col("n_rows") - col("n_distinct")).as("n_dup_rows"))
      }
      Seq(
        pk("customer.c_custkey", T(s, dir, "customer"), Seq("c_custkey")),
        pk("orders.o_orderkey", T(s, dir, "orders"), Seq("o_orderkey")),
        pk("lineitem.(okey,line)", T(s, dir, "lineitem"),
          Seq("l_orderkey", "l_linenumber")),
        pk("part.p_partkey", T(s, dir, "part"), Seq("p_partkey")),
        pk("events.event_id", T(s, dir, "events"), Seq("event_id")),
        pk("documents.doc_id", T(s, dir, "documents"), Seq("doc_id")))
        .reduce(_.unionAll(_))
        .orderBy("pk")
    }),

    // ── [ext] FORWARD as-of join: each purchase matched to the NEXT
    // click at-or-after it — the q85 custom AsOfJoinExec reused on a
    // NEGATED micro timestamp (backward-on-(−t) ≡ forward-on-t), so one
    // physical operator serves both directions; the follow-up/reaction
    // lookup of attribution pipelines. ────────────────────────────────
    "q245_asof_forward" -> ((s, dir) => {
      val e = T(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"),
          (-unix_micros(col("ts"))).as("nts"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          (-unix_micros(col("ts"))).as("c_nts"))
      graft.operators.AsOf.asofBackward(purchases, clicks,
          Seq("user_id"), Seq("c_user"), "nts", "c_nts")
        .select(col("user_id"), col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
          date_format(col("c_ts"), "yyyy-MM-dd HH:mm:ss")
            .as("next_click_s"))
        .orderBy("event_id")
    }),

    // ── [ext] cumulative-uniques growth curve: first-seen day per user
    // collapses the stream to one row per user, daily new-user counts
    // roll up with a prefix sum over the ≤|days| aggregate — the
    // classic user-growth accounting without a giant distinct window. ─
    "q246_cumulative_uniques" -> ((s, dir) => {
      val first = T(s, dir, "events")
        .groupBy("user_id").agg(min(to_date(col("ts"))).as("day"))
      val daily = first.groupBy("day").agg(count(lit(1)).as("n_new"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("day")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      val tot = first.agg(count(lit(1)).as("n_total"))
      daily.withColumn("cum_users", sum(col("n_new")).over(w))
        .crossJoin(broadcast(tot))
        .select(col("day"), col("n_new"), col("cum_users"),
          (col("cum_users").cast(DoubleType) /
            col("n_total").cast(DoubleType)).as("frac_of_total"))
        .orderBy("day")
    }),

    // ── [ext] revenue bridge / growth accounting: the last two order
    // months per customer pivoted by conditional aggregation, each
    // customer classified new / churned / expanded / contracted / flat,
    // per-category customer counts and DECIMAL-exact revenue deltas —
    // the waterfall behind every "why did revenue move" review. ───────
    "q247_revenue_bridge" -> ((s, dir) => {
      val o = T(s, dir, "orders")
      val m1 = o.agg(max(date_trunc("month", col("o_orderdate"))).as("m1"))
      val mm = date_trunc("month", col("o_orderdate"))
      val x = col("o_totalprice").cast(DecimalType(18, 2))
      val per = o.crossJoin(broadcast(m1))
        .groupBy(col("o_custkey"))
        .agg(sum(when(mm === add_months(col("m1"), -1), x)).as("r0"),
          sum(when(mm === col("m1"), x)).as("r1"))
        .where(col("r0").isNotNull || col("r1").isNotNull)
      val cat = when(col("r0").isNull, "new")
        .when(col("r1").isNull, "churned")
        .when(col("r1") > col("r0"), "expanded")
        .when(col("r1") < col("r0"), "contracted")
        .otherwise("flat")
      per.groupBy(cat.as("category"))
        .agg(count(lit(1)).as("n_customers"),
          sum(coalesce(col("r0"), lit(BigDecimal(0)))).as("rev0"),
          sum(coalesce(col("r1"), lit(BigDecimal(0)))).as("rev1"))
        .select(col("category"), col("n_customers"),
          col("rev0").cast(DoubleType).as("rev_prev"),
          col("rev1").cast(DoubleType).as("rev_cur"),
          (col("rev1") - col("rev0")).cast(DoubleType).as("delta"))
        .orderBy("category")
    }),

    // ── [ext] cohort LTV matrix: customers grouped by first-order
    // month, revenue at each month age (integer year·12+month
    // arithmetic — replay-safe on any engine), cumulative via a
    // DECIMAL-exact window over the ≤|cohorts|·|ages| aggregate. ──────
    "q248_cohort_ltv" -> ((s, dir) => {
      val o = T(s, dir, "orders")
      val mi = (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast(LongType)
      val first = o.groupBy(col("o_custkey")).agg(min(mi).as("cohort"))
      val x = col("o_totalprice").cast(DecimalType(18, 2))
      val rev = o.join(first, "o_custkey")
        .groupBy(col("cohort"), (mi - col("cohort")).as("age"))
        .agg(count(lit(1)).as("n_orders"), sum(x).as("rev"))
        .where(col("age") <= 6)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cohort").orderBy("age")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      rev.withColumn("cum", sum(col("rev")).over(w))
        .select(col("cohort"), col("age"), col("n_orders"),
          col("rev").cast(DoubleType).as("revenue"),
          col("cum").cast(DoubleType).as("cum_revenue"))
        .orderBy("cohort", "age")
    }),

    // ── [ext] RFM segmentation: recency/frequency/monetary quintiles
    // per customer — each quintile from the two-phase global Ranking +
    // the arithmetic ntileOf (NO ntile() window over all customers),
    // rolled up to segment counts. The classic CRM cube, built scale-
    // safe three ranks at a time. ─────────────────────────────────────
    "q249_rfm" -> ((s, dir) => {
      val o = T(s, dir, "orders")
      val mx = o.agg(max(col("o_orderdate")).as("dmax"))
      val per = o.crossJoin(broadcast(mx))
        .groupBy(col("o_custkey"))
        .agg(min(datediff(col("dmax"), col("o_orderdate"))).as("recency"),
          count(lit(1)).as("frequency"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).as("monetary"))
      val R = graft.operators.Ranking
      def score(df: DataFrame, c: String, asc: Boolean, out: String) = {
        val ord = if (asc) col(c).asc else col(c).desc
        val ranked = R.withGlobalRank(df, "__rk", "__n", ord,
          col("o_custkey").asc)
        ranked.withColumn(out,
          R.ntileOf(5, col("__rk"), col("__n")).cast(LongType))
          .drop("__rk", "__n")
      }
      val scored = score(score(score(per, "recency", asc = true, "r_score"),
        "frequency", asc = false, "f_score"),
        "monetary", asc = false, "m_score")
      scored.groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("monetary")).cast(DoubleType).as("total_monetary"))
        .orderBy("r_score", "f_score", "m_score")
    }),

    // ── [ext] Hilbert-curve layout cells: q91's two-dimensional
    // clustering with the strictly-better-locality curve (adjacent curve
    // steps are adjacent grid cells — tighter per-file bounding boxes
    // than Z-order's quadrant jumps). functions.HilbertIndex is a native
    // codegen'd Expression; the oracle replays the rotate-and-accumulate
    // walk as 8 chained integer CTE steps. ────────────────────────────
    "q250_hilbert_cells" -> ((s, dir) => {
      // Clamp BOTH sides to the 2^8 grid: days past 255 (mid-September
      // on) would otherwise silently alias onto early-year cells via the
      // 8-bit mask inside HilbertIndex (advice r8).
      val day = least(greatest(
        datediff(to_date(col("ts")), to_date(lit("2024-01-01"))), lit(0)),
        lit(255)).cast(LongType)
      T(s, dir, "events")
        .withColumn("h", graft.functions.HilbertIndex(
          day, pmod(col("user_id"), lit(256L)), 8))
        .withColumn("cell", shiftright(col("h"), 8))
        .groupBy("cell")
        .agg(count(lit(1)).as("n"),
          Exact.moneySum(col("value")).as("total_value"))
        .orderBy("cell")
    }),

    // ── [ext] volume bars: event-count-free bars that close when the
    // per-type cumulative DECIMAL value crosses 500 — the activity-
    // uniform resampling finance uses next to q162's time bars. The
    // running total comes from the two-phase range-partitioned prefix
    // sum (cents-exact, no SinglePartition window); bar id is a floor
    // division of it, the per-bar aggregate is one exchange. ──────────
    "q251_volume_bars" -> ((s, dir) => {
      val e = T(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"), col("value"),
          (col("value").cast(DecimalType(18, 2)) * 100)
            .cast(LongType).as("cents"))
      val c = graft.operators.Ranking.withPrefixSum(
        e, "cum", "__T", col("cents"), col("ts").asc, col("event_id").asc)
      c.withColumn("bar", expr("(cum - 1) DIV 50000"))
        .groupBy("bar")
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("t_open"), max(col("ts")).as("t_close"),
          Exact.moneySum(col("value")).as("bar_value"))
        .orderBy("bar")
    }),

    // ── [ext] chained stateful streaming: interval join → tumbling-day
    // aggregate in one query (EventStream.joinedDailyTotals) — join
    // state and window state evicted independently under one propagated
    // watermark; append-mode result ≡ the batch join+group. ───────────
    "q252_stream_join_agg" -> ((s, dir) =>
      graft.streaming.EventStream.joinedDailyTotals(s, dir)),

    // ── [north star] k-NN classifier eval: leave-one-out accuracy of a
    // 5-NN cosine majority vote on a 100-vector probe set — the label-
    // quality / embedding-space health check (q228 evaluates the INDEX;
    // this evaluates the SPACE). Probes broadcast against one candidate
    // scan; votes resolve by (count DESC, label ASC) argmax; per-label
    // accuracy from exact counts. ─────────────────────────────────────
    "q253_knn_eval" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      val probes = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("label").as("qlabel"))
      val sims = e.crossJoin(broadcast(probes))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
          graft.functions.VectorOps.cosine(col("embedding"), col("qv"))
            .as("sim"))
      val wq = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
      val top = sims.withColumn("rn", row_number().over(wq))
        .where(col("rn") <= 5)
      val pred = top.groupBy("qid", "qlabel", "label")
        .agg(count(lit(1)).as("c"))
        .groupBy("qid", "qlabel")
        .agg(max(struct(col("c").as("c"), (-col("label")).as("nl")))
          .as("m"))
        .select(col("qid"), col("qlabel"), (-col("m.nl")).as("pred"))
      pred.groupBy(col("qlabel").as("label"))
        .agg(count(lit(1)).as("n_probes"),
          sum(when(col("pred") === col("qlabel"), 1L).otherwise(0L))
            .as("n_correct"))
        .select(col("label"), col("n_probes"), col("n_correct"),
          (col("n_correct").cast(DoubleType) /
            col("n_probes").cast(DoubleType)).as("accuracy"))
        .orderBy("label")
    }),

    // ── [ext] variance-ratio F test: each event type's value variance
    // vs the 'view' baseline — the equal-variance check run BEFORE
    // choosing q134's Welch vs pooled t. Same DECIMAL-exact moment
    // sums; sample variance and the F ratio in fixed IEEE shape. ──────
    "q254_var_f_test" -> ((s, dir) => {
      val x = col("value").cast(DecimalType(18, 2))
      val agg = T(s, dir, "events").groupBy("event_type").agg(
        count(lit(1)).as("n"), sum(x).as("sx"),
        sum((x * x).cast(DecimalType(38, 4))).as("sxx"))
      def varOf(n: Column, sx: Column, sxx: Column): Column = {
        val nD = n.cast(DoubleType)
        (sxx.cast(DoubleType) -
          ((sx.cast(DoubleType) * sx.cast(DoubleType)) / nD)) /
          (nD - lit(1.0))
      }
      val a = agg.filter(col("event_type") =!= "view")
        .select(col("event_type").as("grp"), col("n").as("n1"),
          col("sx").as("s1"), col("sxx").as("ss1"))
      val b = agg.filter(col("event_type") === "view")
        .select(col("n").as("n2"), col("sx").as("s2"),
          col("sxx").as("ss2"))
      a.crossJoin(broadcast(b))
        .select(col("grp"), col("n1"), col("n2"),
          varOf(col("n1"), col("s1"), col("ss1")).as("var1"),
          varOf(col("n2"), col("s2"), col("ss2")).as("var2"),
          (varOf(col("n1"), col("s1"), col("ss1")) /
            varOf(col("n2"), col("s2"), col("ss2"))).as("f_ratio"))
        .orderBy("grp")
    }),

    // ── [ext] Pareto 80/20 concentration: the minimum number of
    // customers whose (spend-descending) cumulative revenue reaches 80%
    // of the total — integer-cents prefix sum from the two-phase
    // range-partitioned operator, the cut found by one filtered min;
    // the single-number companion to q219's Gini. ─────────────────────
    "q255_pareto_8020" -> ((s, dir) => {
      val spend = T(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
          .cast(LongType).as("cents"))
      val c = graft.operators.Ranking.withPrefixSum(
        spend, "cum", "total_cents", col("cents"),
        col("cents").desc, col("o_custkey").asc)
      val n = spend.agg(count(lit(1)).as("n_cust"))
      // cum is nondecreasing along the spend-DESC order, so every row
      // from the 80% crossing onward satisfies the predicate: the
      // crossing rank k = n − hits + 1 — one filtered count, no sort
      // of the result
      c.where(col("cum") * 5 >= col("total_cents") * 4)
        .agg(count(lit(1)).as("__hits"),
          min(col("total_cents")).as("total_cents"))
        .crossJoin(broadcast(n))
        .select(col("n_cust"),
          (col("n_cust") - col("__hits") + 1L).as("n_top_customers"),
          ((col("n_cust") - col("__hits") + 1L).cast(DoubleType) /
            col("n_cust").cast(DoubleType)).as("top_frac"),
          col("total_cents"))
    }),

    // ── [ext] corrupt-record tolerant ingestion: a staged JSONL batch
    // with an injected malformed line read back in PERMISSIVE mode with
    // an explicit `_corrupt_record` column — the poison-pill discipline
    // of any at-scale ingest (one bad row must cost one row, not the
    // job). Oracle-checkable because the good rows are the documents
    // table and exactly one line is broken by construction. ───────────
    "q256_corrupt_records" -> ((s, dir) => {
      val work = graft.TempWork.fresh("corrupt_jsonl")
      val path = s"$work/docs.jsonl"
      val d = T(s, dir, "documents")
      val good = d.select(to_json(struct(col("doc_id"), col("lang"),
        col("n_chars"))).as("line"))
      val bad = s.range(1).select(
        lit("{\"doc_id\": 99999999, \"lang\": \"xx\", ").as("line"))
      good.unionAll(bad).coalesce(1)
        .write.mode("overwrite").text(path)
      val schema = "doc_id BIGINT, lang STRING, n_chars BIGINT, " +
        "_corrupt_record STRING"
      val back = s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
      back.agg(
        sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L))
          .as("n_good"),
        sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
          .as("n_bad"),
        sum(when(col("_corrupt_record").isNull, col("n_chars")))
          .as("n_chars_total"))
    }),

    // ── [ext] Spearman rank correlation: are frequent tokens also the
    // bursty ones? ρ = 1 − 6Σd²/(n(n²−1)) over the df-rank vs
    // Fano-rank of the vocabulary (q211's metrics) — the rank-
    // correlation primitive (monotone association, outlier-immune)
    // computed entirely from exact integer ranks; ranks are total
    // orders (tie-break on token), so the statistic replays exactly.
    // Vocabulary-sized input: the windows run on the model, not the
    // corpus. ─────────────────────────────────────────────────────────
    "q257_spearman" -> ((s, dir) => {
      val tf = T(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.TextOps.tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val m = tf.groupBy("token")
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("stf"),
          sum(col("tf") * col("tf")).as("stf2"))
        .withColumn("fano_num",
          col("df") * col("stf2") - col("stf") * col("stf"))
      // fano = fano_num / (df·stf): rank by the exact rational via
      // cross-multiplied comparison-free trick — order by the double is
      // fine HERE because both engines order the same doubles; use the
      // same fixed-shape double as q211 for the rank key
      val withF = m.withColumn("fano",
        col("fano_num").cast(DoubleType) /
          (col("df") * col("stf")).cast(DoubleType))
      val wd = org.apache.spark.sql.expressions.Window
        .orderBy(col("df").desc, col("token"))
      val wf = org.apache.spark.sql.expressions.Window
        .orderBy(col("fano").desc, col("token"))
      val ranked = withF
        .withColumn("r_df", row_number().over(wd).cast(LongType))
        .withColumn("r_fano", row_number().over(wf).cast(LongType))
      ranked
        .select(col("token"),
          ((col("r_df") - col("r_fano")) * (col("r_df") - col("r_fano")))
            .as("d2"))
        .agg(count(lit(1)).as("n"), sum(col("d2")).as("sd2"))
        .select(col("n"), col("sd2"),
          (lit(1.0) - (lit(6.0) * col("sd2").cast(DoubleType)) /
            (col("n") * (col("n") * col("n") - 1L)).cast(DoubleType))
            .as("spearman_rho"))
    }),

    // ── [ext] transaction-log time travel: orders lands in a REAL
    // graft.sources.TxnLog table in two commits (pre-1998 create, rest
    // appended), then version-1 and current snapshots are read back and
    // diffed per status — the Delta-style versioned-table story the
    // reference's spark_deltalake_sync relies on (snapshot isolation,
    // addressable history). Readers plan from the commit log's file
    // list, never a directory listing; the oracle replays both
    // snapshots as date predicates over the same rows. ────────────────
    "q258_time_travel" -> ((s, dir) => {
      val tbl = TempWork.fresh("q258_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
      val cut = to_date(lit("1998-01-01"))
      graft.sources.TxnLog.create(s, tbl, o.filter(col("o_orderdate") < cut))
      graft.sources.TxnLog.append(s, tbl, o.filter(col("o_orderdate") >= cut))
      val v1 = graft.sources.TxnLog.snapshot(s, tbl, Some(1L))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n_v1"))
      val v2 = graft.sources.TxnLog.snapshot(s, tbl)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_v2"),
          Exact.moneySum(col("o_totalprice")).as("total_price"))
      // append-only history: v2's statuses ⊇ v1's, so a left join +
      // coalesce gives the exact per-status version diff
      v2.join(v1, Seq("o_orderstatus"), "left")
        .select(col("o_orderstatus"),
          coalesce(col("n_v1"), lit(0L)).as("n_v1"), col("n_v2"),
          (col("n_v2") - coalesce(col("n_v1"), lit(0L))).as("n_added"),
          col("total_price"))
        .orderBy("o_orderstatus")
    }),

    // ── [ext] JDBC warehouse round-trip: the nation dimension is bulk-
    // loaded into an embedded Derby database via executor-side
    // df.write.jdbc, read BACK as a 4-slice partitioned parallel JDBC
    // scan (one range predicate per task — the distributed-pull shape
    // of a production warehouse read), and joined against the parquet
    // customer fact — the reference's Postgres destination
    // (postgres_sync.py:36-86) with the driver-side tuple loops
    // replaced by set-based parallel I/O. The oracle never sees Derby:
    // a lossless round-trip is exactly what makes the plain-SQL replay
    // match. ──────────────────────────────────────────────────────────
    "q259_jdbc_roundtrip" -> ((s, dir) => {
      val url = s"jdbc:derby:${TempWork.fresh("q259_derby")}/db;create=true"
      graft.ops.JdbcSync.overwrite(
        T(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey"),
        url, "nation", varcharCols = Map("n_name" -> 64))
      val dim = graft.ops.JdbcSync.read(s, url, "nation",
        "n_nationkey", 0L, 25L, 4)
      T(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"),
          Exact.moneySum(col("c_acctbal")).as("total_acctbal"))
        .join(broadcast(dim), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("n_customers"),
          col("total_acctbal"))
        .orderBy("nation")
    }),

    // ── [ext] expected calibration error: reliability diagram + ECE of
    // a declared probability model (p̂ = min(value,999)/1000 predicting
    // 'purchase') — the quality gate every learned data-filter
    // classifier (q106/q161's gates at scale) must pass before its
    // scores prune a corpus. Integer-exact per bin: counts and Σcents
    // accumulate as BIGINT/DECIMAL in one map-side-combined pass; the
    // |acc − conf| gaps and the ECE Σ(n_b/N)·gap are fixed-shape
    // doubles over the 10-row aggregate. ──────────────────────────────
    "q261_ece_calibration" -> ((s, dir) => {
      val cents = least(col("value").cast(DecimalType(18, 2)) * 100,
        lit(999L)).cast(LongType)
      val e = T(s, dir, "events").select(
        cents.as("p_mil"),
        (col("event_type") === "purchase").cast("long").as("y"))
      val bins = e.groupBy((col("p_mil") * 10 / 1000).cast(LongType)
          .as("bin"))
        .agg(count(lit(1)).as("n"), sum("p_mil").as("sum_mil"),
          sum("y").as("n_pos"))
      val tot = e.agg(count(lit(1)).as("n_total"))
      bins.crossJoin(broadcast(tot))
        .select(col("bin"), col("n"),
          (col("sum_mil").cast(DoubleType) /
            (col("n") * 1000L).cast(DoubleType)).as("conf"),
          (col("n_pos").cast(DoubleType) / col("n").cast(DoubleType))
            .as("acc"),
          (abs(col("sum_mil").cast(DoubleType) /
              (col("n") * 1000L).cast(DoubleType) -
            col("n_pos").cast(DoubleType) / col("n").cast(DoubleType)) *
            (col("n").cast(DoubleType) / col("n_total").cast(DoubleType)))
            .as("ece_term"))
        .orderBy("bin")
    }),

    // ── [ext] TextRank keywords: q133's fixed-point PageRank COMPOSED
    // over the token co-occurrence graph (adjacent-token bigram edges,
    // deduplicated, min-endpoint canonical) — Mihalcea & Tarau 2004's
    // unsupervised keyphrase extractor as two existing library
    // operators snapped together. Bit-reproducible: the bigram edges
    // and every rank update are integer arithmetic, so DuckDB replays
    // the identical 3-round chain over the identical graph. Scale: the
    // graph is VOCABULARY-sized (like q150's BPE — corpus growth stops
    // adding vertices once the token set saturates), so the rank
    // rounds never touch the corpus after the one edge-extraction
    // scan. ───────────────────────────────────────────────────────────
    "q262_textrank" -> ((s, dir) => {
      val pairs = T(s, dir, "documents")
        .select(graft.functions.TextOps.tokens(col("text")).as("ts"))
        .where(size(col("ts")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("ts")) - 1),
          i => struct(element_at(col("ts"), i).as("x"),
            element_at(col("ts"), i + 1).as("y")))).as("p"))
        .where(col("p.x") =!= col("p.y"))
      val edges = pairs.select(
          least(col("p.x"), col("p.y")).as("a"),
          greatest(col("p.x"), col("p.y")).as("b"))
        .distinct()
      graft.operators.Graph.pageRankFixedPoint(edges, iters = 3)
        .orderBy(col("rank").desc, col("v"))
        .limit(20)
        .select(col("v").as("token"), col("rank").as("rank_fp"))
    }),

    // ── [ext] golden-record survivorship: q67's near-dup clusters
    // (simhash pairs → connected components) carried one step further
    // to the record-linkage endgame — per cluster, elect the canonical
    // document by a declared survivorship rule (longest text, ties to
    // the smallest id; the usual "most complete record wins"). One
    // components run + one dim join + one per-cluster window over
    // member-sized groups; the oracle replays the closure as q67's
    // recursive CTE and ranks identically. ────────────────────────────
    "q263_golden_record" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val pairs = TextDedup.simhashNearDupsVerifiable(
        docs, "doc_id", "text", maxHamming = 3)
      val comp = graft.operators.Components
        .connectedComponents(pairs, "id_a", "id_b")
      val members = comp.join(docs, comp("id") === docs("doc_id"))
        .select(col("cluster_id"), col("doc_id"),
          length(col("text")).cast(LongType).as("len"))
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("len").desc, col("doc_id"))
      members
        .withColumn("rk", row_number().over(w))
        .withColumn("n_members",
          count(lit(1)).over(Window.partitionBy("cluster_id")))
        .where(col("rk") === 1)
        .select(col("cluster_id"), col("n_members"),
          col("doc_id").as("canonical_doc_id"),
          col("len").as("canonical_len"))
        .orderBy("cluster_id")
    }),

    // ── [ext] exactly-once streaming ingestion into the ACID table:
    // the events stream foreachBatch-lands in a TxnLog table via
    // idempotentAppend, then a SECOND stream with a fresh checkpoint
    // replays every batch (the crash-recovery shape) against the same
    // table. The oracle is the plain batch aggregate — it matches IFF
    // the txn markers absorbed the full replay (a double-landing would
    // double every count and hash-fail). q107 hand-rolls this per
    // destination; here it is one table-format property. ──────────────
    "q264_stream_txnlog_sink" -> ((s, dir) =>
      graft.streaming.EventStream.txnLogSinkTotals(s, dir)),

    // ── [ext] the streaming sink as a FORMAT STRING:
    // `writeStream.format("txnlog")` (StreamSinkProvider) — the
    // reference's `writeStream.format("delta")` surface. Each
    // micro-batch lands through the txn-marked append; the first batch
    // CREATES the table (schema + data + marker, one commit); the
    // whole query then re-runs on a FRESH checkpoint — the full
    // crash-replay — and only the sink's internal markers absorbing
    // every re-delivered batch keeps the aggregate at the oracle. ─────
    "q301_stream_txnlog_format" -> ((s, dir) =>
      graft.streaming.EventStream.txnLogFormatSinkTotals(s, dir)),

    // ── [ext] batch CDF through the format string: `spark.read
    // .format("txnlog").option("readChangeFeed", true)
    // .option("startingVersion", v)` — Delta's CDC consumption surface
    // (the reference's downstream incremental readers), served by the
    // same changesBetween as the programmatic feed: journaled
    // update pre/post pairs, synthesized inserts, and delete rows all
    // arrive through one SQL-visible relation with _change_type /
    // _commit_version columns. ─────────────────────────────────────────
    "q302_txn_cdf_sql_read" -> ((s, dir) => {
      val tbl = TempWork.fresh("q302_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
      val d98 = to_date(lit("1998-01-01"))
      graft.sources.TxnLog.create(s, tbl, o.filter(col("o_orderdate") < d98))
      val ups = o.filter(col("o_orderdate").between(
          to_date(lit("1997-07-01")), to_date(lit("1998-12-31"))))
        .withColumn("o_totalprice", col("o_totalprice") + 10.0)
      graft.sources.TxnLog.upsert(s, tbl, ups, Seq("o_orderkey")) // v2
      graft.sources.TxnLog.deleteWhere(s, tbl,
        col("o_totalprice") > 300000) // v3
      s.read.format("txnlog")
        .option("readChangeFeed", "true")
        .option("startingVersion", "2") // inclusive, Delta semantics
        .load(tbl)
        .groupBy("_change_type", "o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          Exact.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("_change_type", "o_orderstatus")
    }),

    // ── [ext] CATALOG tables: `saveAsTable` registers the txnlog
    // table in the session catalog (a durable table object, the
    // reference's destination-table shape — src/db/postgres/
    // company.sql:7), `spark.table` resolves it with the LOG's schema
    // as source of truth, and INSERT INTO the CACHED catalog relation
    // still lands transactionally: the post-hoc insert guard rewrites
    // Spark's raw-file insert command (whose unlogged files would be
    // silently invisible to every log-planned reader) into a log
    // commit — the in-query require pins it. ──────────────────────────
    "q303_txn_catalog_table" -> ((s, dir) => {
      val tbl = TempWork.fresh("q303_txn")
      val tname = "q303_cat_t"
      s.sql(s"DROP TABLE IF EXISTS $tname")
      val n = T(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      n.filter(col("n_regionkey") < 2).write.format("txnlog")
        .option("path", tbl).saveAsTable(tname)
      s.table(tname).count() // populate the catalog-relation cache
      n.filter(col("n_regionkey") >= 2)
        .createOrReplaceTempView("q303_rest")
      s.sql(s"INSERT INTO $tname " +
        "SELECT n_nationkey, n_name, n_regionkey FROM q303_rest")
      require(graft.sources.TxnLog.versions(tbl) == Seq(1L, 2L),
        "catalog INSERT must land as one transactional append commit")
      s.sql(
        s"""SELECT n_regionkey, count(*) AS n_nations,
           |  min(n_name) AS first_name
           |FROM $tname GROUP BY n_regionkey
           |ORDER BY n_regionkey""".stripMargin)
    }),

    // ── [ext] SQL time travel: `VERSION AS OF` / `TIMESTAMP AS OF`
    // straight from the parser ([[graft.plans.TxnLogTimeTravelRule]]
    // claims the RelationTimeTravel node in the Hints batch and pins a
    // relation through the same version/timestampAsOf options every
    // programmatic reader uses) — here both forms in ONE statement,
    // diffing a historical version against the head. ──────────────────
    "q304_txn_sql_time_travel" -> ((s, dir) => {
      val tbl = TempWork.fresh("q304_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderdate",
          "o_totalprice")
      val d98 = to_date(lit("1998-01-01"))
      graft.sources.TxnLog.create(s, tbl,
        o.filter(col("o_orderdate") < d98))
      graft.sources.TxnLog.append(s, tbl,
        o.filter(col("o_orderdate") >= d98))
      s.sql("CREATE OR REPLACE TEMPORARY VIEW q304_txn_v " +
        s"USING txnlog OPTIONS (path '$tbl')")
      s.sql(
        """SELECT h.o_orderstatus, v1.n_orders AS n_v1,
          |  h.n_orders AS n_head
          |FROM (SELECT o_orderstatus, count(*) AS n_orders
          |      FROM q304_txn_v TIMESTAMP AS OF '2035-01-01'
          |      GROUP BY o_orderstatus) h
          |LEFT JOIN (SELECT o_orderstatus, count(*) AS n_orders
          |           FROM q304_txn_v VERSION AS OF 1
          |           GROUP BY o_orderstatus) v1
          |  ON v1.o_orderstatus = h.o_orderstatus
          |ORDER BY h.o_orderstatus""".stripMargin)
    }),

    // ── [ext] SQL MERGE INTO — the reference's core DML shape as
    // literal SQL (`src/etl/sql/bigquery_dml__upsert_company.sql:7-27`:
    // equality key match, UPDATE SET * / INSERT *), claimed by
    // [[graft.plans.TxnLogMergeRule]] and executed as the SAME
    // stats/bloom file-pruned transactional TxnLog.upsert the
    // programmatic call runs — updates AND inserts in one commit, CDF
    // journaled. ──────────────────────────────────────────────────────
    "q305_txn_sql_merge" -> ((s, dir) => {
      val tbl = TempWork.fresh("q305_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      graft.sources.TxnLog.create(s, tbl,
        o.repartitionByRange(8, col("o_orderkey")),
        statsCols = Seq("o_orderkey"), bloomCols = Seq("o_orderkey"))
      s.sql("CREATE OR REPLACE TEMPORARY VIEW q305_txn_v " +
        s"USING txnlog OPTIONS (path '$tbl')")
      o.filter(col("o_orderkey") < 1000)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(o.filter(col("o_orderkey") < 300)
          .withColumn("o_orderkey", col("o_orderkey") + 20000000L)
          .withColumn("o_totalprice", col("o_totalprice") + 1000000.0))
        .createOrReplaceTempView("q305_src")
      s.sql(
        """MERGE INTO q305_txn_v USING q305_src
          |ON q305_txn_v.o_orderkey = q305_src.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      require(graft.sources.TxnLog.versions(tbl) == Seq(1L, 2L),
        "SQL MERGE must land as one transactional commit")
      s.table("q305_txn_v")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          Exact.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    // ── [ext] SQL UPDATE + DELETE — the row-level DML pair next to
    // q305's MERGE, claimed by [[graft.plans.TxnLogDmlRule]]: UPDATE is
    // TxnLog.updateWhere (copy-on-write, update_pre/post CDF), DELETE
    // is TxnLog.deleteWhereDV (merge-on-read deletion vectors — the
    // in-query require pins that the delete rewrote ZERO data files,
    // the 100 TB contract), and the final read serves the DV-masked,
    // updated snapshot through the vectorized format path. ────────────
    "q307_txn_sql_update_delete" -> ((s, dir) => {
      val tbl = TempWork.fresh("q307_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      graft.sources.TxnLog.create(s, tbl,
        o.repartitionByRange(8, col("o_orderkey")),
        statsCols = Seq("o_orderkey"))
      s.sql("CREATE OR REPLACE TEMPORARY VIEW q307_txn_v " +
        s"USING txnlog OPTIONS (path '$tbl')")
      s.sql("UPDATE q307_txn_v SET o_totalprice = o_totalprice * 2 " +
        "WHERE o_orderkey < 1000")
      val files2 = graft.sources.TxnLog.files(tbl)
      s.sql("DELETE FROM q307_txn_v WHERE o_totalprice > 300000")
      require(graft.sources.TxnLog.files(tbl) == files2,
        "SQL DELETE must be a merge-on-read DV commit: zero rewrites")
      require(graft.sources.TxnLog.versions(tbl) == Seq(1L, 2L, 3L),
        "UPDATE and DELETE must land as one commit each")
      s.read.format("txnlog").load(tbl)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          Exact.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    // ── [ext] maintenance SQL: `OPTIMIZE … ZORDER BY` + `DESCRIBE
    // HISTORY` + `VACUUM … RETAIN n HOURS` — the Delta utility triad as
    // literal statements ([[graft.plans.GraftSqlParser]], a delegating
    // parser; Spark's grammar has none of them). The optimize is one
    // hilbert-clustering commit (layout-only: the aggregate is
    // oracle-identical), DESCRIBE HISTORY labels the log, and the
    // vacuum reclaims the pre-compaction files while the head stays
    // readable — requires pin all three. ──────────────────────────────
    "q309_txn_maintenance_sql" -> ((s, dir) => {
      val tbl = TempWork.fresh("q309_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      graft.sources.TxnLog.create(s, tbl, o)
      s.sql("CREATE OR REPLACE TEMPORARY VIEW q309_txn_v " +
        s"USING txnlog OPTIONS (path '$tbl')")
      s.sql("OPTIMIZE q309_txn_v ZORDER BY (o_orderkey, o_totalprice)")
      val ops = s.sql("DESCRIBE HISTORY q309_txn_v")
        .orderBy("version").collect().map(_.getString(1)).toSeq
      require(ops == Seq("create", "compact"),
        s"history must label the two commits, got $ops")
      val swept = s.sql("VACUUM q309_txn_v RETAIN 0 HOURS").count()
      require(swept > 0, "vacuum must reclaim the pre-optimize files")
      s.table("q309_txn_v")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          Exact.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    // ── [ext] SQL RESTORE — `RESTORE TABLE t TO VERSION AS OF n`
    // ([[graft.plans.GraftSqlParser]] → [[graft.sources.TxnLog
    // .restore]]): the bad-deploy undo as ONE metadata commit (history
    // preserved, nothing deleted — at 100 TB the restore costs the same
    // as at 100 MB because no data file moves). The require pins that
    // the roll-back and the roll-FORWARD (restore is symmetric) each
    // landed as exactly one commit. ───────────────────────────────────
    "q310_txn_sql_restore" -> ((s, dir) => {
      val tbl = TempWork.fresh("q310_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderdate",
          "o_totalprice")
      val d98 = to_date(lit("1998-01-01"))
      graft.sources.TxnLog.create(s, tbl,
        o.filter(col("o_orderdate") < d98))
      graft.sources.TxnLog.append(s, tbl,
        o.filter(col("o_orderdate") >= d98))
      s.sql("CREATE OR REPLACE TEMPORARY VIEW q310_txn_v " +
        s"USING txnlog OPTIONS (path '$tbl')")
      val r = s.sql("RESTORE TABLE q310_txn_v TO VERSION AS OF 1")
        .collect()
      require(r.length == 1 && r(0).getLong(1) == 3L,
        "restore must land as exactly one new commit")
      s.table("q310_txn_v")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          Exact.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    // ── [ext] SQL column DDL — `ALTER TABLE … ADD/RENAME/DROP COLUMN`
    // for txnlog targets ([[graft.plans.GraftSqlParser]] claims only
    // tables that resolve to the format; everything else reaches the
    // stock parser): each is a METADATA-ONLY commit — ADD surfaces
    // nulls on old files, RENAME/DROP ride column mapping with GUID
    // physical names (old files stay readable, dropped names cannot
    // resurrect) — so schema surgery on a 100 TB table rewrites zero
    // bytes. ──────────────────────────────────────────────────────────
    "q311_txn_sql_alter_columns" -> ((s, dir) => {
      val tbl = TempWork.fresh("q311_txn")
      val n = T(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      graft.sources.TxnLog.create(s, tbl, n)
      s.sql("CREATE OR REPLACE TEMPORARY VIEW q311_txn_v " +
        s"USING txnlog OPTIONS (path '$tbl')")
      s.sql("ALTER TABLE q311_txn_v ADD COLUMN score INT")
      graft.sources.TxnLog.append(s, tbl, n
        .withColumn("n_nationkey", col("n_nationkey") + 100)
        .withColumn("n_name", concat(col("n_name"), lit("_S")))
        .withColumn("score", col("n_regionkey") * 10))
      s.sql("ALTER TABLE q311_txn_v RENAME COLUMN score TO quality")
      s.sql("ALTER TABLE q311_txn_v DROP COLUMN n_regionkey")
      require(graft.sources.TxnLog.files(tbl).size ==
        graft.sources.TxnLog.snapshot(s, tbl).inputFiles.length,
        "column DDL must be metadata-only — zero files rewritten")
      // the re-created view serves the post-DDL shape: renamed values
      // survive, old rows read the added column as null
      s.sql("CREATE OR REPLACE TEMPORARY VIEW q311_txn_v " +
        s"USING txnlog OPTIONS (path '$tbl')")
      s.table("q311_txn_v")
        .select(col("n_nationkey"), col("n_name"),
          coalesce(col("quality"), lit(-1)).as("quality"))
        .orderBy("n_nationkey")
    }),

    // ── [ext] SHALLOW CLONE — `CREATE TABLE d SHALLOW CLONE s [VERSION
    // AS OF n] LOCATION '…'` ([[graft.sources.TxnLog.shallowClone]]):
    // a zero-copy table branch whose v1 log REFERENCES the source
    // snapshot's immutable files by absolute path — cloning a 100 TB
    // table is one metadata write (the require pins zero data files
    // under the clone), yet the clone is fully independent: its own
    // writes land locally (readers union the two bases), stats/bloom
    // skipping carries over, and compact() severs the reference. ──────
    "q312_txn_shallow_clone" -> ((s, dir) => {
      val src = TempWork.fresh("q312_src")
      val dst = TempWork.fresh("q312_dst")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      graft.sources.TxnLog.create(s, src, o,
        statsCols = Seq("o_orderkey"))
      s.sql("DROP TABLE IF EXISTS q312_clone_t")
      s.sql(s"CREATE TABLE q312_clone_t SHALLOW CLONE '$src' " +
        s"VERSION AS OF 1 LOCATION '$dst'")
      val cloned = {
        val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dst))
        try st.filter(p => p.toString.endsWith(".parquet") &&
          !p.toString.contains("_txn_log")).count()
        finally st.close()
      }
      require(cloned == 0, "shallow clone must copy zero data files")
      // the clone diverges without touching the source
      s.sql("UPDATE q312_clone_t SET o_totalprice = o_totalprice * 2 " +
        "WHERE o_orderkey < 1000")
      require(graft.sources.TxnLog.snapshot(s, src)
        .filter(col("o_orderkey") < 1000).count() ==
        o.filter(col("o_orderkey") < 1000).count(),
        "clone writes must never reach the source")
      val out = s.table("q312_clone_t")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          Exact.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderstatus")
      // force materialization before the catalog entry is dropped
      val pinned = out.localCheckpoint(true)
      s.sql("DROP TABLE q312_clone_t")
      pinned
    }),

    // ── [ext] rate-limited streaming source —
    // `maxVersionsPerTrigger=1` drains a 4-version backlog as four
    // bounded micro-batches (the helper's require pins the batch count
    // from the query's own progress): Delta's maxFilesPerTrigger
    // contract at version granularity, the difference between a
    // restartable catch-up and an executor-OOM first trigger at
    // 100 TB. ─────────────────────────────────────────────────────────
    "q313_stream_rate_limit" -> ((s, dir) =>
      graft.streaming.EventStream.txnRateLimitedStreamTotals(s, dir)),

    // ── [ext] pure-SQL CTAS — `CREATE TABLE … USING txnlog LOCATION …
    // AS SELECT …` lands through the provider's CreatableRelation path
    // as exactly the create commit (require-pinned), making table
    // bootstrap a one-statement operation; the result then reads back
    // through `spark.table` with the log, not the catalog copy, as
    // schema truth. ───────────────────────────────────────────────────
    "q314_txn_ctas" -> ((s, dir) => {
      val tbl = TempWork.fresh("q314_txn")
      s.sql("DROP TABLE IF EXISTS q314_ctas_t")
      T(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity",
          "l_extendedprice")
        .createOrReplaceTempView("q314_src")
      s.sql(s"CREATE TABLE q314_ctas_t USING txnlog LOCATION '$tbl' " +
        "AS SELECT * FROM q314_src WHERE l_quantity < 25")
      require(graft.sources.TxnLog.versions(tbl) == Seq(1L),
        "CTAS must land as exactly the create commit")
      val out = s.table("q314_ctas_t")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          Exact.moneySum(col("l_extendedprice")).as("total_price"),
          sum(col("l_quantity")).as("sum_qty")) // integral doubles: exact
        .orderBy("l_returnflag")
      val pinned = out.localCheckpoint(true)
      s.sql("DROP TABLE q314_ctas_t")
      pinned
    }),

    // ── [ext] constraint DDL + DESCRIBE DETAIL — `ALTER TABLE … ADD
    // CONSTRAINT name CHECK (…)` / `DROP CONSTRAINT` (Delta's
    // constraint DDL; ADD validates existing rows first, enforcement
    // rejects violating writes at commit time — bad data fails at the
    // WRITER, not as silent corruption downstream) and `DESCRIBE
    // DETAIL` (head facts — version/files/bytes/rows/partitions/
    // properties — served entirely from the log: no data file opens,
    // so the answer costs the same at 100 TB). ────────────────────────
    "q315_txn_constraint_sql" -> ((s, dir) => {
      val tbl = TempWork.fresh("q315_txn")
      val n = T(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      graft.sources.TxnLog.create(s, tbl, n)
      s.sql("CREATE OR REPLACE TEMPORARY VIEW q315_txn_v " +
        s"USING txnlog OPTIONS (path '$tbl')")
      s.sql("ALTER TABLE q315_txn_v ADD CONSTRAINT region_range " +
        "CHECK (n_regionkey < 10)")
      // enforcement: the violating batch must refuse at commit time
      val bad = s.range(1).select(
        lit(990).cast("int").as("n_nationkey"),
        lit("BAD").as("n_name"), lit(99).cast("int").as("n_regionkey"))
      val refused =
        try { graft.sources.TxnLog.append(s, tbl, bad); false }
        catch { case e: Exception =>
          e.getMessage.contains("region_range") }
      require(refused, "constraint must reject the violating append")
      graft.sources.TxnLog.append(s, tbl, n
        .withColumn("n_nationkey", col("n_nationkey") + 200)
        .withColumn("n_name", concat(col("n_name"), lit("_C"))))
      val d = s.sql("DESCRIBE DETAIL q315_txn_v").collect()(0)
      require(d.getLong(8) == 1L && d.getLong(5) == 2 * n.count(),
        "DESCRIBE DETAIL must report the constraint and the row count")
      s.sql("ALTER TABLE q315_txn_v DROP CONSTRAINT region_range")
      require(s.sql("DESCRIBE DETAIL q315_txn_v")
        .collect()(0).getLong(8) == 0L,
        "DROP CONSTRAINT must stop enforcement")
      s.table("q315_txn_v")
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("n_rows"),
          min(col("n_name")).as("first_name"))
        .orderBy("n_regionkey")
    }),

    // ── [ext] SHOW PARTITIONS — live per-partition row counts
    // answered ENTIRELY from the log (rowcount lines minus journaled
    // DV deletions): the partition census of a 100 TB table costs
    // zero data-file opens. The DV delete in the middle proves the
    // counts are live, not write-time stale. ──────────────────────────
    "q320_txn_show_partitions" -> ((s, dir) => {
      val tbl = TempWork.fresh("q320_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      graft.sources.TxnLog.create(s, tbl, o,
        partitionBy = Seq("o_orderstatus"))
      graft.sources.TxnLog.deleteWhereDV(s, tbl,
        col("o_totalprice") > 300000)
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW q320_txn_v " +
        s"USING txnlog OPTIONS (path '$tbl')")
      s.sql("SHOW PARTITIONS q320_txn_v")
        .orderBy("partition")
    }),

    // ── [ext] CONVERT TO TXNLOG — adopt an existing plain-parquet
    // directory as a transactional table IN PLACE (Delta's CONVERT TO
    // DELTA): one metadata commit logs the files already there (zero
    // bytes rewritten — adopting a 100 TB parquet lake is one log
    // write), after which the full surface applies — here a SQL
    // UPDATE lands as the v2 copy-on-write commit on the adopted
    // files. Requires pin the one-commit conversion and the version
    // chain. ──────────────────────────────────────────────────────────
    "q319_txn_convert" -> ((s, dir) => {
      val tbl = TempWork.fresh("q319_txn") + "/t"
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      o.repartition(4).write.parquet(tbl)
      val out = s.sql(s"CONVERT TO TXNLOG '$tbl'").collect()
      require(out.length == 1 && out(0).getLong(0) == 1L &&
        out(0).getLong(1) >= 4L,
        "convert must log the existing files as the v1 commit")
      s.sql("CREATE OR REPLACE TEMPORARY VIEW q319_txn_v " +
        s"USING txnlog OPTIONS (path '$tbl')")
      s.sql("UPDATE q319_txn_v SET o_totalprice = o_totalprice * 2 " +
        "WHERE o_orderkey < 1000")
      require(graft.sources.TxnLog.versions(tbl) == Seq(1L, 2L),
        "the adopted table must take DML as ordinary commits")
      s.table("q319_txn_v")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          Exact.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    // ── [ext] CDF as a TABLE-VALUED FUNCTION + property DDL —
    // `table_changes('t', startV)` (Delta's CDF TVF, injected via
    // SparkSessionExtensions.injectTableFunction) serves the same
    // row-level feed as the format-string reader but inline in any
    // SQL statement; `ALTER TABLE … SET TBLPROPERTIES` / `SHOW
    // TBLPROPERTIES` commit and read sticky log properties (the
    // channel columnMapping itself rides). The require pins the
    // property round-trip; the output is the oracle-replayed change
    // window. ─────────────────────────────────────────────────────────
    "q318_txn_table_changes_fn" -> ((s, dir) => {
      val tbl = TempWork.fresh("q318_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderdate",
          "o_totalprice")
      val d98 = to_date(lit("1998-01-01"))
      graft.sources.TxnLog.create(s, tbl,
        o.filter(col("o_orderdate") < d98)) // v1
      s.sql("CREATE OR REPLACE TEMPORARY VIEW q318_txn_v " +
        s"USING txnlog OPTIONS (path '$tbl')")
      s.sql("ALTER TABLE q318_txn_v SET TBLPROPERTIES " +
        "('pipeline'='daily')") // v2
      require(s.sql("SHOW TBLPROPERTIES q318_txn_v").collect()
        .exists(r => r.getString(0) == "pipeline" &&
          r.getString(1) == "daily"),
        "SET TBLPROPERTIES must round-trip through SHOW")
      graft.sources.TxnLog.append(s, tbl,
        o.filter(col("o_orderdate") >= d98)) // v3
      graft.sources.TxnLog.upsert(s, tbl,
        o.filter(col("o_orderkey") < 1000)
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        Seq("o_orderkey")) // v4
      s.sql(
        """SELECT _change_type, o_orderstatus, count(*) AS n_rows,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM table_changes('q318_txn_v', 3)
          |GROUP BY 1, 2
          |ORDER BY _change_type, o_orderstatus""".stripMargin)
    }),

    // ── [ext] RECENCY-GUARDED SQL MERGE — the reference's actual
    // production merge shape (`src/etl/sql/bigquery_dml__upsert_daily_
    // stock_price.sql:10-16`: `WHEN MATCHED AND source.extracted_at >=
    // target.extracted_at THEN UPDATE SET *`) as literal SQL: a
    // re-extract carrying BOTH newer and stale rows may only apply the
    // newer ones. Compiled by [[graft.plans.TxnLogMergeRule]] onto
    // [[graft.sources.TxnLog.merge]]'s clause engine — still one
    // stats/bloom file-pruned transactional commit; the require pins
    // that the narrow-key batch left most files untouched. ───────────
    "q321_txn_sql_merge_recency" -> ((s, dir) => {
      val tbl = TempWork.fresh("q321_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderdate",
          "o_totalprice")
      graft.sources.TxnLog.create(s, tbl,
        o.repartitionByRange(8, col("o_orderkey")),
        statsCols = Seq("o_orderkey"), bloomCols = Seq("o_orderkey"))
      val before = graft.sources.TxnLog.files(tbl)
      s.sql("CREATE OR REPLACE TEMPORARY VIEW q321_txn_v " +
        s"USING txnlog OPTIONS (path '$tbl')")
      // key bands are fractions of the largest key, so the batch hits
      // the first of the 8 range files at every scale factor (and keeps
      // its distinct keys under the bloom probe cap at sf0.1): the
      // lowest 1% of keys re-extracted NEWER (date+30, price doubled);
      // the next 1% re-extracted STALE (date-30, price tripled — the
      // guard must skip them); the lowest 1/300 copied to keys+20M,
      // brand new (inserts). Multiplications, not divisions, so the
      // oracle's integer arithmetic cannot round differently.
      val maxKey = o.agg(max(col("o_orderkey"))).head.getLong(0)
      val k = col("o_orderkey")
      o.filter(k * 100 < maxKey)
        .withColumn("o_orderdate", date_add(col("o_orderdate"), 30))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(o.filter(k * 100 >= maxKey && k * 50 < maxKey)
          .withColumn("o_orderdate", date_sub(col("o_orderdate"), 30))
          .withColumn("o_totalprice", col("o_totalprice") * 3))
        .unionByName(o.filter(k * 300 < maxKey)
          .withColumn("o_orderkey", col("o_orderkey") + 20000000L)
          .withColumn("o_totalprice",
            col("o_totalprice") + 1000000.0))
        .createOrReplaceTempView("q321_src")
      s.sql(
        """MERGE INTO q321_txn_v t USING q321_src s
          |ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED AND s.o_orderdate >= t.o_orderdate THEN
          |  UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      require(graft.sources.TxnLog.versions(tbl) == Seq(1L, 2L),
        "conditional MERGE must land as one transactional commit")
      val after = graft.sources.TxnLog.files(tbl).toSet
      require(before.count(after.contains) >= before.size - 3,
        "narrow-key merge must keep most files untouched (file pruning)")
      s.table("q321_txn_v")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          Exact.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    // ── [ext] CDC-APPLY SQL MERGE — the multi-clause shape every
    // change-data-capture consumer needs: `WHEN MATCHED AND op='D'
    // THEN DELETE` ahead of the update clause, a conditional INSERT
    // with an explicit column list, and differently-named join keys
    // (the feed's `k` against the table's `o_orderkey`). Deletes for
    // absent keys are no-ops, exactly Delta's apply-changes contract;
    // the in-query require pins the delete mass into the CDF. ─────────
    "q322_txn_sql_merge_cdc" -> ((s, dir) => {
      val tbl = TempWork.fresh("q322_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      graft.sources.TxnLog.create(s, tbl,
        o.repartitionByRange(8, col("o_orderkey")),
        statsCols = Seq("o_orderkey"))
      s.sql("CREATE OR REPLACE TEMPORARY VIEW q322_txn_v " +
        s"USING txnlog OPTIONS (path '$tbl')")
      def ch(df: org.apache.spark.sql.DataFrame, op: String,
             shift: Long, dp: Double) = df.select(
        (col("o_orderkey") + shift).as("k"),
        col("o_orderstatus").as("status"),
        (col("o_totalprice") + dp).as("price"), lit(op).as("op"))
      ch(o.filter(col("o_orderkey") < 500), "D", 0L, 0.0)
        .unionByName(ch(o.filter(col("o_orderkey") >= 500 &&
          col("o_orderkey") < 1500), "U", 0L, 100000.0))
        .unionByName(ch(o.filter(col("o_orderkey") < 200), "U",
          30000000L, 0.0))
        .unionByName(ch(o.filter(col("o_orderkey") < 100), "D",
          40000000L, 0.0)) // deletes of absent keys: must no-op
        .createOrReplaceTempView("q322_src")
      s.sql(
        """MERGE INTO q322_txn_v t USING q322_src c
          |ON t.o_orderkey = c.k
          |WHEN MATCHED AND c.op = 'D' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET o_totalprice = c.price
          |WHEN NOT MATCHED AND c.op <> 'D' THEN
          |  INSERT (o_orderkey, o_orderstatus, o_totalprice)
          |  VALUES (c.k, c.status, c.price)""".stripMargin)
      require(graft.sources.TxnLog.versions(tbl) == Seq(1L, 2L),
        "CDC apply must land as one transactional commit")
      val nDel = graft.sources.TxnLog.changesBetween(s, tbl, 1L, 2L)
        .filter(col("_change_type") === "delete").count()
      require(nDel == o.filter(col("o_orderkey") < 500).count(),
        s"CDF must journal exactly the applied deletes, got $nDel")
      s.table("q322_txn_v")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          Exact.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    // ── [ext] DDL-FIRST CREATE TABLE — the reference's actual
    // bootstrap shape (`src/db/postgres/company.sql:7-16` declares the
    // empty schema before any load): `CREATE TABLE name (cols) USING
    // txnlog PARTITIONED BY (…) LOCATION …` commits an EMPTY v1 whose
    // declared schema (and partition layout, via the sticky
    // graft.partitionBy property) governs every later write — the
    // first INSERT validates against it and lands hive-partitioned.
    // Requires pin the empty read, the one-commit create, and the
    // declared layout on the loaded files. ────────────────────────────
    "q323_txn_create_ddl" -> ((s, dir) => {
      val tbl = TempWork.fresh("q323_txn")
      s.sql("DROP TABLE IF EXISTS q323_ddl_t")
      s.sql("CREATE TABLE q323_ddl_t (o_orderkey BIGINT, " +
        "o_orderstatus STRING, o_totalprice DOUBLE) USING txnlog " +
        s"PARTITIONED BY (o_orderstatus) LOCATION '$tbl'")
      require(graft.sources.TxnLog.versions(tbl) == Seq(1L),
        "DDL create must be one empty metadata commit")
      require(s.table("q323_ddl_t").count() == 0,
        "the schema-born table must read as empty")
      T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .createOrReplaceTempView("q323_src")
      // by-NAME insert: the relation surfaces partition columns last
      // (HadoopFsRelation's schema contract), so the column list keeps
      // the statement order-independent
      s.sql("INSERT INTO q323_ddl_t " +
        "(o_orderkey, o_orderstatus, o_totalprice) " +
        "SELECT * FROM q323_src")
      require(graft.sources.TxnLog.versions(tbl) == Seq(1L, 2L),
        "the first load must be one transactional append")
      require(graft.sources.TxnLog.files(tbl)
        .forall(_.contains("o_orderstatus=")),
        "the load must land in the DECLARED hive layout")
      val out = s.table("q323_ddl_t")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          Exact.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderstatus")
      val pinned = out.localCheckpoint(true)
      s.sql("DROP TABLE q323_ddl_t")
      pinned
    }),

    // ── [ext] multi-column ADD COLUMNS with DEFAULT — schema surgery
    // with EXISTENCE DEFAULTS (Delta's default values): one metadata
    // commit adds both columns; rows in files written BEFORE the
    // evolution read the DEFAULT (the parquet reader fills
    // footer-missing columns from the schema metadata — a per-file
    // distinction no post-scan coalesce can make), while
    // post-evolution writes supply the columns and their genuine
    // nulls stay null. Zero bytes rewritten at any table size. ────────
    "q324_txn_add_columns_default" -> ((s, dir) => {
      val tbl = TempWork.fresh("q324_txn")
      val n = T(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      graft.sources.TxnLog.create(s, tbl, n) // pre-evolution files
      s.sql("CREATE OR REPLACE TEMPORARY VIEW q324_txn_v " +
        s"USING txnlog OPTIONS (path '$tbl')")
      s.sql("ALTER TABLE q324_txn_v ADD COLUMNS " +
        "(quality INT DEFAULT 7, tag STRING DEFAULT 'legacy')")
      require(graft.sources.TxnLog.versions(tbl) == Seq(1L, 2L),
        "multi-column ADD COLUMNS must be one metadata commit")
      graft.sources.TxnLog.append(s, tbl, n
        .withColumn("n_nationkey", col("n_nationkey") + 100)
        .withColumn("n_name", concat(col("n_name"), lit("_S")))
        .withColumn("quality", (col("n_regionkey") * 10).cast("int"))
        .withColumn("tag", when(col("n_regionkey") === 0,
          lit(null)).otherwise(lit("fresh")).cast("string")))
      require(graft.sources.TxnLog.files(tbl).size ==
        graft.sources.TxnLog.snapshot(s, tbl).inputFiles.length,
        "the evolution must have rewritten zero files")
      // re-create: temp views pin their schema at creation
      s.sql("CREATE OR REPLACE TEMPORARY VIEW q324_txn_v " +
        s"USING txnlog OPTIONS (path '$tbl')")
      s.table("q324_txn_v")
        .select("n_nationkey", "n_name", "quality", "tag")
        .orderBy("n_nationkey")
    }),

    // ── [ext] TYPE WIDENING — `ALTER TABLE … ALTER COLUMN c TYPE
    // BIGINT` as a METADATA commit (Delta's type-widening feature):
    // only provably-lossless widenings are accepted, the Spark 4
    // parquet readers promote old int32 pages to long AT DECODE, so
    // zero files are rewritten and pre-widening files keep serving;
    // post-widening appends carry genuinely 64-bit values the old
    // type could not hold. Requires pin the zero-rewrite and the
    // one-commit DDL. ─────────────────────────────────────────────────
    "q325_txn_type_widening" -> ((s, dir) => {
      val tbl = TempWork.fresh("q325_txn")
      val n = T(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      graft.sources.TxnLog.create(s, tbl, n) // int32 files
      s.sql("CREATE OR REPLACE TEMPORARY VIEW q325_txn_v " +
        s"USING txnlog OPTIONS (path '$tbl')")
      s.sql("ALTER TABLE q325_txn_v ALTER COLUMN n_nationkey " +
        "TYPE BIGINT")
      require(graft.sources.TxnLog.versions(tbl) == Seq(1L, 2L),
        "widening must be one metadata commit")
      require(graft.sources.TxnLog.files(tbl).size ==
        graft.sources.TxnLog.snapshot(s, tbl).inputFiles.length,
        "widening must rewrite zero files")
      graft.sources.TxnLog.append(s, tbl, n
        .withColumn("n_nationkey",
          col("n_nationkey").cast("long") + 5000000000L))
      s.sql("CREATE OR REPLACE TEMPORARY VIEW q325_txn_v " +
        s"USING txnlog OPTIONS (path '$tbl')")
      s.table("q325_txn_v").orderBy("n_nationkey")
    }),

    // ── [ext] GENERATED partition columns — `day DATE GENERATED
    // ALWAYS AS (to_date(ts))` in DDL-first CREATE TABLE (Delta's
    // generated columns): writers supply the BASE columns only and
    // the table computes the derived one at write time, so the
    // classic timestamp-table-partitioned-by-day layout needs no
    // writer cooperation (and can never drift from the expression —
    // a batch supplying the column refuses). The events load lands
    // hive-partitioned on the generated day. ──────────────────────────
    "q327_txn_generated_partition" -> ((s, dir) => {
      val tbl = TempWork.fresh("q327_txn")
      s.sql("DROP TABLE IF EXISTS q327_gen_t")
      s.sql("CREATE TABLE q327_gen_t (event_id BIGINT, user_id INT, " +
        "ts TIMESTAMP, value DOUBLE, " +
        "day DATE GENERATED ALWAYS AS (to_date(ts))) USING txnlog " +
        s"PARTITIONED BY (day) LOCATION '$tbl'")
      T(s, dir, "events")
        .filter(col("ts") < lit("2024-01-08"))
        .select("event_id", "user_id", "ts", "value")
        .createOrReplaceTempView("q327_src")
      s.sql("INSERT INTO q327_gen_t (event_id, user_id, ts, value) " +
        "SELECT * FROM q327_src")
      require(graft.sources.TxnLog.versions(tbl) == Seq(1L, 2L),
        "the load must be one transactional append")
      require(graft.sources.TxnLog.files(tbl).forall(_.contains("day=")),
        "files must land partitioned on the GENERATED column")
      val out = s.table("q327_gen_t")
        .groupBy("day")
        .agg(count(lit(1)).as("n_events"),
          Exact.moneySum(col("value")).as("total_value"))
        .orderBy("day")
      val pinned = out.localCheckpoint(true)
      s.sql("DROP TABLE q327_gen_t")
      pinned
    }),

    // ── [north star] margin-criterion bitext mining (Artetxe &
    // Schwenk 2019): the standard parallel-corpus miner for
    // translation training data — a candidate pair scores by its
    // cosine RELATIVE to each side's neighborhood density
    // (margin = cos(x,y) / mean of the two sides' top-k cosine
    // averages), which kills the hubness failure raw cosine mining
    // has. Here brute-force over two bounded slices (the oracle-exact
    // baseline, like q30); the scale path swaps the cross join for
    // the q56 IVF shortlist — the margin arithmetic is shortlist-
    // agnostic. Margins round to 6 dp so the cross-engine comparison
    // is ulp-independent. ─────────────────────────────────────────────
    "q326_margin_bitext" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      val x = e.filter(col("vec_id") < 200)
        .select(col("vec_id").as("x_id"), col("embedding").as("xv"))
      val y = e.filter(col("vec_id") >= 10000 && col("vec_id") < 10200)
        .select(col("vec_id").as("y_id"), col("embedding").as("yv"))
      val pairs = x.crossJoin(broadcast(y))
        .withColumn("cos", VectorOps.cosine(col("xv"), col("yv")))
        .select("x_id", "y_id", "cos")
        .localCheckpoint(true) // one 200×200 grid feeds 3 consumers
      val k = 4
      val wx = Window.partitionBy("x_id")
        .orderBy(col("cos").desc, col("y_id"))
      val nx = pairs.withColumn("rn", row_number().over(wx))
        .filter(col("rn") <= k)
        .groupBy("x_id").agg(avg("cos").as("x_norm"))
      val wy = Window.partitionBy("y_id")
        .orderBy(col("cos").desc, col("x_id"))
      val ny = pairs.withColumn("rn", row_number().over(wy))
        .filter(col("rn") <= k)
        .groupBy("y_id").agg(avg("cos").as("y_norm"))
      pairs.join(broadcast(nx), "x_id").join(broadcast(ny), "y_id")
        .withColumn("margin", round(col("cos") /
          ((col("x_norm") + col("y_norm")) / 2), 6))
        .orderBy(col("margin").desc, col("x_id"), col("y_id"))
        .select("x_id", "y_id", "margin")
        .limit(20)
    }),

    // ── [ext] DDL-first CREATE TABLE with inline NOT NULL + DEFAULT —
    // the LAST inline-DDL element of the reference bootstrap
    // (`src/db/postgres/company.sql:14-15`: `"created_at" TIMESTAMP
    // NOT NULL DEFAULT NOW()`): NOT NULL lowers to a write-time CHECK
    // (enforced in the same observe pass as user constraints — no
    // second scan), DEFAULT lands as CURRENT_DEFAULT field metadata
    // filled for any batch/INSERT that omits the column. Both are
    // pure log metadata: zero data-file cost at any table size. ───────
    "q328_txn_create_default" -> ((s, dir) => {
      val tbl = TempWork.fresh("q328_txn")
      s.sql("DROP TABLE IF EXISTS q328_def_t")
      s.sql(s"""CREATE TABLE q328_def_t (
        |  c_custkey BIGINT NOT NULL,
        |  c_name STRING,
        |  c_acctbal DOUBLE,
        |  tier STRING NOT NULL DEFAULT 'standard',
        |  quality INT DEFAULT 7,
        |  created_at TIMESTAMP NOT NULL DEFAULT NOW()
        |) USING txnlog LOCATION '$tbl'""".stripMargin)
      T(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal")
        .createOrReplaceTempView("q328_src")
      // the load OMITS all three defaulted/audited columns — SQL's
      // INSERT (cols) contract fills them at write
      s.sql("INSERT INTO q328_def_t (c_custkey, c_name, c_acctbal) " +
        "SELECT * FROM q328_src")
      // a second batch SUPPLIES tier: a supplied value wins (defaults
      // fill only what the batch omits)
      s.sql("INSERT INTO q328_def_t (c_custkey, c_name, c_acctbal, " +
        "tier) SELECT c_custkey + 1000000, c_name, c_acctbal, " +
        "'premium' FROM q328_src WHERE c_acctbal > 5000")
      require(graft.sources.TxnLog.versions(tbl).size == 3,
        "bootstrap must be exactly create + two appends")
      // in-query pins: the NOT NULL audit column filled on EVERY row
      // (NOW() is non-deterministic, so it is pinned, not returned) …
      require(s.table("q328_def_t")
        .filter(col("created_at").isNull || col("tier").isNull)
        .isEmpty, "NOT NULL DEFAULT columns must fill, never null-pad")
      // … and a NULL into the declared NOT NULL key REFUSES at write
      val refused = scala.util.Try(graft.sources.TxnLog.append(s, tbl,
        s.sql("SELECT CAST(NULL AS BIGINT) AS c_custkey, 'x' AS " +
          "c_name, CAST(0.0 AS DOUBLE) AS c_acctbal")))
      require(refused.isFailure && refused.failed.get.getMessage
        .contains("nn_c_custkey"),
        "declared NOT NULL must enforce as a write-time check; got: " +
          refused.fold(_.getMessage, v => s"success v$v"))
      val out = s.table("q328_def_t")
        .select("c_custkey", "c_name", "tier", "quality")
        .orderBy("c_custkey")
      val pinned = out.localCheckpoint(true)
      s.sql("DROP TABLE q328_def_t")
      pinned
    }),

    // ── [ext] arbitrary-predicate replaceWhere — the reference's
    // "re-extract and replace the recent days" on an UNPARTITIONED
    // table (Delta's replaceWhere beyond partition values): ONE
    // transactional commit deletes the predicate band and appends the
    // recomputed batch. Victim files are stats-scoped (candidate
    // superset driver-side, then one pushed-filter scan pins files
    // holding a matching row); untouched files keep their exact
    // identity — pinned in-query. At 100 TB a three-day replace
    // touches three days of files, not the table. ─────────────────────
    "q329_txn_replace_where" -> ((s, dir) => {
      val tbl = TempWork.fresh("q329_txn")
      val ev = T(s, dir, "events")
        .select("event_id", "user_id", "ts", "value")
      def band(lo: String, hi: String) =
        ev.filter(col("ts") >= lit(lo) && col("ts") < lit(hi))
          .repartition(1) // one file per load slice → exact file pins
      graft.sources.TxnLog.create(s, tbl,
        band("2024-01-01", "2024-01-08"), statsCols = Seq("ts"))
      Seq(("2024-01-08", "2024-01-15"), ("2024-01-15", "2024-01-22"),
        ("2024-01-22", "2024-01-29")).foreach { case (lo, hi) =>
        graft.sources.TxnLog.append(s, tbl, band(lo, hi)) }
      val before = graft.sources.TxnLog.files(tbl)
      require(before.size == 4, s"expected 4 slice files: $before")
      // the re-extracted week arrives recomputed (values doubled)
      val vBase = graft.sources.TxnLog.versions(tbl).last
      graft.sources.TxnLog.replaceWhere(s, tbl,
        "ts >= '2024-01-15' AND ts < '2024-01-22'",
        band("2024-01-15", "2024-01-22")
          .withColumn("value", col("value") * 2))
      require(graft.sources.TxnLog.versions(tbl).last == vBase + 1,
        "replaceWhere must land as ONE transactional commit")
      val after = graft.sources.TxnLog.files(tbl)
      require(before.count(after.contains) == 3,
        "exactly the predicate band's file may be rewritten — " +
          s"kept ${before.count(after.contains)} of ${before.size}")
      graft.sources.TxnLog.snapshot(s, tbl)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"),
          Exact.moneySum(col("value")).as("total_value"))
        .orderBy("day")
    }),

    // ── [ext] CREATE OR REPLACE TABLE + TRUNCATE TABLE — the
    // TRANSACTIONAL spelling of the reference bootstrap's `DROP TABLE
    // IF EXISTS` + `CREATE` (`src/db/postgres/company.sql:3-7`): one
    // commit swaps schema, constraints, and live set (no reader ever
    // sees a half-replaced table), HISTORY survives — the pre-replace
    // table stays addressable via VERSION AS OF — and TRUNCATE is a
    // TRULY metadata-only wipe (zero data bytes touched; no row-level
    // CDF — a change window crossing it refuses, like the replace). ──
    "q330_txn_replace_truncate" -> ((s, dir) => {
      val tbl = TempWork.fresh("q330_txn")
      s.sql("DROP TABLE IF EXISTS q330_cor_t")
      s.sql(s"CREATE TABLE q330_cor_t (r_regionkey INT, " +
        s"r_name STRING) USING txnlog LOCATION '$tbl'")
      T(s, dir, "region").select("r_regionkey", "r_name")
        .createOrReplaceTempView("q330_rsrc")
      s.sql("INSERT INTO q330_cor_t SELECT * FROM q330_rsrc")
      val vOld = graft.sources.TxnLog.versions(tbl).last
      s.sql("CREATE OR REPLACE TABLE q330_cor_t (n_nationkey INT, " +
        s"n_name STRING, n_regionkey INT) USING txnlog LOCATION '$tbl'")
      require(graft.sources.TxnLog.versions(tbl).last == vOld + 1,
        "the replace must land as ONE transactional commit")
      T(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .createOrReplaceTempView("q330_nsrc")
      s.sql("INSERT INTO q330_cor_t SELECT * FROM q330_nsrc")
      // idempotent re-bootstrap: wipe (pure metadata) + reload
      s.sql("TRUNCATE TABLE q330_cor_t")
      require(s.table("q330_cor_t").count() == 0,
        "TRUNCATE must empty the live set")
      s.sql("INSERT INTO q330_cor_t SELECT * FROM q330_nsrc")
      // the PRE-REPLACE table still serves through time travel
      val old = graft.sources.TxnLog.snapshot(s, tbl, Some(vOld))
        .select(col("r_regionkey").as("key"), col("r_name").as("name"),
          lit("replaced").as("era"))
      val neu = s.table("q330_cor_t")
        .select(col("n_nationkey").as("key"), col("n_name").as("name"),
          lit("current").as("era"))
      val out = old.unionByName(neu).orderBy("era", "key")
      val pinned = out.localCheckpoint(true)
      s.sql("DROP TABLE q330_cor_t")
      pinned
    }),

    // ── [ext] merge-on-read UPDATE via deletion vectors — the
    // write-amplification lever for wide tables (Delta's DV update):
    // the commit masks the victims' positions and appends ONLY the
    // updated rows' file; every pre-update file keeps its exact
    // identity (pinned in-query). On a 100 TB table a 0.1% touch-up
    // writes 0.1% of ROWS, not 0.1% of files at full width; compact
    // (REORG PURGE) remains the read-tax escape hatch. ─────────────────
    "q331_txn_dv_update" -> ((s, dir) => {
      val tbl = TempWork.fresh("q331_txn")
      val ev = T(s, dir, "events")
        .select("event_id", "event_type", "ts", "value")
      graft.sources.TxnLog.create(s, tbl,
        ev.filter(col("ts") < lit("2024-02-01")).repartition(4),
        statsCols = Seq("event_id"))
      val before = graft.sources.TxnLog.files(tbl)
      val vBase = graft.sources.TxnLog.versions(tbl).last
      graft.sources.TxnLog.updateWhereDV(s, tbl,
        col("event_type") === "purchase",
        Seq("value" -> (col("value") + lit(100.0))))
      val after = graft.sources.TxnLog.files(tbl)
      require(before.forall(after.contains) && after.size > before.size,
        "DV update must only ADD files — zero existing files rewritten")
      require(graft.sources.TxnLog.versions(tbl).last == vBase + 1,
        "the DV update must land as one transactional commit")
      graft.sources.TxnLog.snapshot(s, tbl)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          Exact.moneySum(col("value")).as("total_value"))
        .orderBy("event_type")
    }),

    // ── [ext] IDENTITY columns (Delta's GENERATED ALWAYS AS
    // IDENTITY): surrogate keys assigned DISTRIBUTIVELY — per-write
    // ranges beyond the committed high-water mark (an `idhigh` log
    // action, max-merged on replay, checkpoint-carried), values unique
    // and strictly increasing across commits but NOT dense (gaps are
    // the price of no coordination — Delta's exact contract). Raw ids
    // are partitioning-dependent, so the query pins the invariants
    // (uniqueness, grid alignment, cross-batch disjointness) and
    // returns deterministic aggregates. ────────────────────────────────
    "q332_txn_identity" -> ((s, dir) => {
      val tbl = TempWork.fresh("q332_txn")
      s.sql("DROP TABLE IF EXISTS q332_id_t")
      s.sql("CREATE TABLE q332_id_t (id BIGINT GENERATED ALWAYS AS " +
        "IDENTITY (START WITH 1000 INCREMENT BY 7), name STRING, " +
        s"batch STRING) USING txnlog LOCATION '$tbl'")
      T(s, dir, "nation").select(col("n_name").as("name"),
        lit("nation").as("batch")).createOrReplaceTempView("q332_a")
      s.sql("INSERT INTO q332_id_t (name, batch) SELECT * FROM q332_a")
      T(s, dir, "region").select(col("r_name").as("name"),
        lit("region").as("batch")).createOrReplaceTempView("q332_b")
      s.sql("INSERT INTO q332_id_t (name, batch) SELECT * FROM q332_b")
      val all = s.table("q332_id_t").localCheckpoint(true)
      // in-query pins: the first batch starts AT the declared start,
      // and the second batch's range is disjoint above the first's
      val a = all.filter(col("batch") === "nation")
        .agg(min("id"), max("id")).head
      val bMin = all.filter(col("batch") === "region")
        .agg(min("id")).head.getLong(0)
      require(a.getLong(0) == 1000L,
        s"first batch must start at START WITH, got ${a.getLong(0)}")
      require(bMin > a.getLong(1),
        "the second write must reserve beyond the committed high-water")
      val out = all.groupBy("batch")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct("id").as("n_ids"),
          min((col("id") - 1000) % 7 === 0).as("grid_ok"))
        .orderBy("batch")
      val pinned = out.localCheckpoint(true)
      s.sql("DROP TABLE q332_id_t")
      pinned
    }),

    // ── [ext] CREATE OR REPLACE TABLE … AS SELECT — the one-commit
    // definition + data swap (no reader can observe the empty
    // intermediate a replace-then-insert pair exposes; the previous
    // table stays addressable via time travel). The atomic flavor of
    // the reference bootstrap when the new data is already computed. ───
    "q333_txn_cor_ctas" -> ((s, dir) => {
      val tbl = TempWork.fresh("q333_txn")
      s.sql("DROP TABLE IF EXISTS q333_ctas_t")
      s.sql(s"CREATE TABLE q333_ctas_t (s_suppkey BIGINT, " +
        s"s_name STRING) USING txnlog LOCATION '$tbl'")
      T(s, dir, "supplier").select("s_suppkey", "s_name")
        .createOrReplaceTempView("q333_src")
      s.sql("INSERT INTO q333_ctas_t SELECT * FROM q333_src")
      val vOld = graft.sources.TxnLog.versions(tbl).last
      T(s, dir, "supplier")
        .select("s_suppkey", "s_name", "s_acctbal", "s_nationkey")
        .createOrReplaceTempView("q333_src2")
      s.sql(s"CREATE OR REPLACE TABLE q333_ctas_t USING txnlog " +
        s"LOCATION '$tbl' AS SELECT s_suppkey, s_name, s_acctbal, " +
        "s_nationkey FROM q333_src2 WHERE s_acctbal > 0")
      require(graft.sources.TxnLog.versions(tbl).last == vOld + 1,
        "definition AND data must swap in ONE commit")
      require(graft.sources.TxnLog
        .snapshot(s, tbl, Some(vOld)).columns.length == 2,
        "the pre-replace table must stay addressable via time travel")
      val out = s.table("q333_ctas_t")
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_suppliers"),
          Exact.moneySum(col("s_acctbal")).as("total_bal"))
        .orderBy("s_nationkey")
      val pinned = out.localCheckpoint(true)
      s.sql("DROP TABLE q333_ctas_t")
      pinned
    }),

    // ── [ext] MERGE WITH SCHEMA EVOLUTION on the clause engine — the
    // CDC feed grew a column mid-stream (the standard upstream-added-
    // a-field event): a conditional, non-canonical merge assigns the
    // undeclared column and ONE commit extends the declaration (type
    // from Spark's analysis of the assignment), updates the guarded
    // rows, inserts the new ones, and leaves every untouched row
    // reading the new column as null. File pruning and CDF keep
    // working — same commit spine as q321/q322. ───────────────────────
    "q334_txn_merge_evolution" -> ((s, dir) => {
      val tbl = TempWork.fresh("q334_txn")
      s.sql("DROP TABLE IF EXISTS q334_mse_t")
      graft.sources.TxnLog.create(s, tbl,
        T(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice"))
      s.sql(s"CREATE TABLE q334_mse_t USING txnlog LOCATION '$tbl'")
      T(s, dir, "orders").filter(pmod(col("o_orderkey"), lit(10L)) === 0)
        .select(col("o_orderkey").as("k"),
          (pmod(col("o_orderkey"), lit(100L)) / lit(100.0)).as("score"),
          (col("o_totalprice") + 50).as("price2"))
        .unionByName(
          T(s, dir, "orders")
            .filter(pmod(col("o_orderkey"), lit(1000L)) === 0)
            .select((col("o_orderkey") + 100000000L).as("k"),
              lit(0.75).as("score"),
              col("o_totalprice").as("price2")))
        .createOrReplaceTempView("q334_src")
      val vBase = graft.sources.TxnLog.versions(tbl).last
      s.sql(
        """MERGE WITH SCHEMA EVOLUTION INTO q334_mse_t t
          |USING q334_src s
          |ON t.o_orderkey = s.k
          |WHEN MATCHED AND s.score >= 0.5 THEN
          |  UPDATE SET o_totalprice = s.price2, priority_score = s.score
          |WHEN NOT MATCHED THEN
          |  INSERT (o_orderkey, o_orderstatus, o_totalprice,
          |    priority_score) VALUES (s.k, 'N', s.price2, s.score)
          |""".stripMargin)
      require(graft.sources.TxnLog.versions(tbl).last == vBase + 1,
        "evolution + update + insert must land in ONE commit")
      s.table("q334_mse_t")
        .groupBy(col("priority_score").isNotNull.as("has_score"))
        .agg(count(lit(1)).as("n_orders"),
          Exact.moneySum(col("o_totalprice")).as("total_price"),
          Exact.moneySum(coalesce(col("priority_score"), lit(0.0)))
            .as("total_score"))
        .orderBy("has_score")
    }),

    // ── [north star] cross-modal alignment filtering — the LAION
    // pipeline's CLIP-score gate: embed the MEDIA side (per-partition
    // encoder stub — a real image tower initializes once per task),
    // join the text-side embedding by id, score cosine alignment, keep
    // the best-aligned pairs. The join moves 8 doubles per row, never
    // the media bytes; both inner products fold elementwise in fixed
    // order so the doubles reproduce bit-for-bit cross-engine (+ round
    // 6 dp). At 100 TB the gate is a narrow map + one id-keyed join —
    // media stays columnar-pruned unless a stage truly needs bytes. ────
    "q336_mm_clip_filter" -> ((s, dir) => {
      val media = Multimodal.asMedia(
        T(s, dir, "documents").filter(length(col("text")) > 0))
      val mv = Multimodal.embedStub(s, media).toDF()
      val te = T(s, dir, "embeddings")
        .select(col("vec_id").as("doc_id"),
          transform(slice(col("embedding"), 1, 8),
            x => x.cast(DoubleType)).as("tvec"))
      def inner(a: Column, b: Column): Column =
        aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0),
          (acc, v) => acc + v)
      val src = T(s, dir, "documents").select(col("doc_id"), col("source"))
      mv.join(te, "doc_id").join(src, "doc_id")
        .withColumn("align", round(inner(col("mvec"), col("tvec")) /
          (sqrt(inner(col("mvec"), col("mvec"))) *
            sqrt(inner(col("tvec"), col("tvec")))), 6))
        .select("doc_id", "source", "align")
        .orderBy(col("align").desc, col("doc_id"))
        .limit(30)
    }),

    // ── [ext] ROW TRACKING (Delta row IDs): stable physical row
    // identity — assigned once at ingest (contiguous per-file ranges
    // past a logged high-water), surviving OPTIMIZE (the rewrite
    // materializes ids into its output) and merge-on-read DELETE
    // (masked rows vanish, survivors keep their ids AND their original
    // positions). This removes the audit-key workaround the
    // reference's schema carries (`src/db/bigquery/daily_stock_price
    // .sql:13`): a downstream MERGE can key on `_row_id` instead of a
    // user key. The two loads land as one sorted file each, so the
    // ids are DETERMINISTIC (odd keys then even keys, rank order) and
    // the oracle reconstructs the entire id space with ROW_NUMBER —
    // the strongest possible check of assignment order, enablement
    // backfill, high-water reservation, and delete masking. In-query
    // pins: zero id churn across OPTIMIZE + DV delete. ────────────────
    "q337_txn_row_ids" -> ((s, dir) => {
      import graft.sources.TxnLog
      val tbl = TempWork.fresh("q337_txn")
      val cust = T(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      def oneSortedFile(df: org.apache.spark.sql.DataFrame) =
        df.repartition(1).sortWithinPartitions("c_custkey")
      TxnLog.create(s, tbl,
        oneSortedFile(cust.filter(pmod(col("c_custkey"), lit(2)) === 1)))
      // enablement BACKFILLS the existing file from committed
      // rowcounts (pure metadata); the second load reserves past the
      // high-water — ids = odd keys ranked 0.., then even keys
      TxnLog.setProperties(s, tbl, Map(TxnLog.RowTrackKey -> "true"))
      TxnLog.append(s, tbl,
        oneSortedFile(cust.filter(pmod(col("c_custkey"), lit(2)) === 0)))
      val pre = TxnLog.snapshotWithRowIds(s, tbl)
        .select(col("c_custkey"), col("_row_id").as("rid_pre"))
        .localCheckpoint(true) // pinned BEFORE the rewrites
      // OPTIMIZE re-lays the whole table (acctbal-clustered); the DV
      // delete then masks rows with zero files rewritten
      val before = TxnLog.files(tbl)
      TxnLog.compact(s, tbl, targetFiles = 3,
        clusterBy = Seq("c_acctbal"))
      TxnLog.deleteWhereDV(s, tbl, col("c_acctbal") < 0)
      require(TxnLog.files(tbl).intersect(before).isEmpty,
        "OPTIMIZE must have replaced every original file — otherwise " +
          "the id-stability pin below is vacuous")
      val post = TxnLog.snapshotWithRowIds(s, tbl)
      val chk = post.join(pre, Seq("c_custkey"), "left")
        .agg(count(lit(1)).as("n"),
          sum(when(col("rid_pre").isNull ||
            col("_row_id") =!= col("rid_pre"), 1L).otherwise(0L))
            .as("moved")).head
      require(chk.getLong(1) == 0L,
        s"${chk.getLong(1)} of ${chk.getLong(0)} surviving rows " +
          "changed identity across OPTIMIZE + DV delete")
      post.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("_row_id")).as("id_sum"),
          min(col("_row_id")).as("min_id"),
          max(col("_row_id")).as("max_id"))
        .orderBy("c_mktsegment")
    }),

    // ── [ext] row-id-ADDRESSED DML — the payoff of row tracking: an
    // external system (a labeling job, an audit, a downstream CDC
    // consumer) captures `_row_id`s from [[snapshotWithRowIds]] and
    // hands back physical row addresses; DELETE/UPDATE then apply BY
    // id through the merge-on-read paths — no user key, zero files
    // rewritten for the delete, one touch-up file for the update, and
    // every surviving row keeps its identity. The id space is
    // deterministic (q337's sorted-single-file loads), so DuckDB
    // replays the ENTIRE id-addressed edit sequence with ROW_NUMBER
    // arithmetic — delete rid%7=0, then bump rid%5=0 survivors by
    // rid%3 — the strongest cross-engine check of id-addressed
    // semantics. At 100 TB: an id predicate rides the same one scan
    // as any DV DML; candidates could further prune by rowbase range
    // (ids are per-file contiguous). ──────────────────────────────────
    "q339_txn_rowid_dml" -> ((s, dir) => {
      import graft.sources.TxnLog
      val tbl = TempWork.fresh("q339_txn")
      val src = T(s, dir, "part")
        .select("p_partkey", "p_brand", "p_retailprice", "p_size")
      def oneSortedFile(df: org.apache.spark.sql.DataFrame) =
        df.repartition(1).sortWithinPartitions("p_partkey")
      TxnLog.create(s, tbl,
        oneSortedFile(src.filter(pmod(col("p_partkey"), lit(2)) === 1)))
      TxnLog.setProperties(s, tbl, Map(TxnLog.RowTrackKey -> "true"))
      TxnLog.append(s, tbl,
        oneSortedFile(src.filter(pmod(col("p_partkey"), lit(2)) === 0)))
      val files0 = TxnLog.files(tbl)
      // the external edit list, as id arithmetic: delete every 7th id
      TxnLog.deleteWhereDV(s, tbl, pmod(col("_row_id"), lit(7L)) === 0)
      require(TxnLog.files(tbl) == files0,
        "id-addressed delete must rewrite ZERO data files")
      // … then bump every 5th surviving id, the SET reading the id too
      TxnLog.updateWhereDV(s, tbl, pmod(col("_row_id"), lit(5L)) === 0,
        Seq("p_retailprice" ->
          (col("p_retailprice") + pmod(col("_row_id"), lit(3L)))))
      require(files0.forall(TxnLog.files(tbl).contains),
        "id-addressed update must keep every original file")
      TxnLog.snapshotWithRowIds(s, tbl)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_parts"),
          Exact.moneySum(col("p_retailprice")).as("total_price"),
          sum(col("_row_id")).as("id_sum"))
        .orderBy("p_brand")
    }),

    // ── [ext] COPY INTO — idempotent file ingestion (Delta's COPY
    // INTO): the reference's staged-CSV daily load
    // (`src/etl/sql/bigquery_dml__ingest_daily_stock_price.sql:5-10`)
    // as ONE retry-safe statement. Loaded source files are remembered
    // in the log's `copied` manifest; a crashed-after-load job that
    // re-runs the statement loads NOTHING and commits NOTHING — the
    // in-query pins replay the COPY through SQL and require zero rows,
    // zero files, zero new versions. At 100 TB the re-run costs one
    // driver-side LIST against O(loaded files) log metadata. ──────────
    "q338_txn_copy_into" -> ((s, dir) => {
      import graft.sources.TxnLog
      val tbl = TempWork.fresh("q338_txn")
      val stage = TempWork.fresh("q338_stage")
      val src = T(s, dir, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      // the day's extract lands as a staged CSV directory (several
      // part files — exactly the reference's external staging bucket)
      src.repartition(4).write.mode("overwrite")
        .option("header", "true").csv(stage)
      TxnLog.createEmpty(s, tbl, src.schema)
      val (v1, nf1, nr1) = TxnLog.copyInto(s, tbl, stage, "csv",
        Map("header" -> "true"))
      require(nf1 > 0 && nr1 == src.count(),
        s"first COPY must load the full extract, got $nf1 files/$nr1 rows")
      // the retry — same statement, through the SQL surface
      val again = s.sql(s"COPY INTO '$tbl' FROM '$stage' " +
        "FILEFORMAT = CSV FORMAT_OPTIONS ('header'='true')").head
      require(again.getAs[Long]("num_inserted_rows") == 0L &&
        again.getAs[Long]("num_files") == 0L,
        "re-running the same COPY INTO must load nothing")
      require(TxnLog.versions(tbl).last == v1,
        "the no-op re-run must not even commit a version")
      TxnLog.snapshot(s, tbl)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_suppliers"),
          Exact.moneySum(col("s_acctbal")).as("total_bal"))
        .orderBy("s_nationkey")
    }),

    // ── [north star] DSIR data selection (Xie et al. 2023, Data
    // Selection with Importance Resampling): pick out-of-domain docs
    // that LOOK like the in-domain target by importance weight under
    // hashed-n-gram bucket models. Target model = source 'src0';
    // 64 hashed unigram buckets with +1 smoothing; per-doc score =
    // mean per-token importance RATIO (the linear-domain surrogate of
    // the log-likelihood ratio: +,*,/ are exact-rounded IEEE so both
    // engines agree bit-for-bit, while log is not correctly-rounded —
    // the same documented deviation as q110's ratio-idf; per-token
    // monotonicity is preserved). Scale shape: ONE tokenization pass —
    // the corpus collapses to per-(doc, bucket) token counts (≤64
    // narrow rows per doc) which are PINNED (localCheckpoint); the
    // 64-row model, its global, and the scoring join all read the
    // pinned counts. Round 15's shape re-tokenized the corpus for
    // every broadcast subtree (3 passes, StageProbe: 3×~0.5s single-
    // task stages); at 100 TB the pin costs 64 ints per doc and buys
    // back two full corpus passes. The fixture is one parquet file
    // (one scan task), so the pass fans out first — q196's note: at
    // corpus scale the input is many files and the exchange is free. ──
    "q335_dsir_selection" -> ((s, dir) => {
      val B = 64
      val tb = T(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("source"),
          explode(TextOps.tokens(col("text"))).as("tk"))
        .withColumn("b",
          pmod(graft.ops.Sampling.shaHash60(col("tk")), lit(B.toLong)))
        .groupBy("doc_id", "source", "b")
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true)
      val m = tb.groupBy("b").agg(sum("n").as("cr"),
        sum(when(col("source") === "src0", col("n")).otherwise(0L))
          .as("ct"))
      val g = m.agg(sum("cr").as("tr"), sum("ct").as("tt"))
      val r = m.crossJoin(broadcast(g)) // 64 rows × 1 row
        .withColumn("ratio",
          ((col("ct").cast(DoubleType) + 1) /
            (col("tt").cast(DoubleType) + B)) /
          ((col("cr").cast(DoubleType) + 1) /
            (col("tr").cast(DoubleType) + B)))
        .select("b", "ratio")
      // mean per-token ratio = Σ_b ratio_b·n_b / Σ_b n_b — the
      // bucket-weighted spelling of the same score, over the pinned
      // counts instead of a second pass over the raw tokens
      tb.filter(col("source") =!= "src0") // select from out-of-domain
        .join(broadcast(r), "b")
        .groupBy("doc_id")
        .agg((sum(col("ratio") * col("n")) / sum(col("n"))).as("score"))
        .select(col("doc_id"), round(col("score"), 6).as("dsir_score"))
        .orderBy(col("dsir_score").desc, col("doc_id"))
        .limit(50)
    }),

    // ── [ext] per-domain document cap — the pretraining-mix fairness
    // op (no single domain may dominate the corpus): keep the K
    // longest docs per source. NOT a window sort: the kept set is a
    // [[graft.functions.BottomKSample]] aggregate over
    // (-n_chars, doc_id), so map-side partial aggregation carries at
    // most K pairs per (task, source) and the corpus text never
    // shuffles — at 100 TB the cap costs one small aggregate, not a
    // per-domain global sort. Deterministic (value-defined order,
    // doc_id tiebreak), replayed by the oracle as a row_number
    // prefix. ─────────────────────────────────────────────────────────
    "q316_domain_cap" -> ((s, dir) => {
      import graft.functions.BottomKSample
      val k = 20
      T(s, dir, "documents")
        .select(col("source"), (-col("n_chars")).cast("long").as("h"),
          col("doc_id").cast("double").as("v"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_total"),
          BottomKSample(col("h"), col("v"), k).as("kept"))
        .select(col("source"), col("n_total"),
          size(col("kept")).cast("long").as("n_kept"),
          (col("n_total") - size(col("kept")).cast("long"))
            .as("n_dropped"),
          aggregate(transform(col("kept"), x => -x.getField("h")),
            lit(0L), (a, b) => a + b).as("kept_chars"))
        .orderBy("source")
    }),

    // ── [ext] sequence-length bucketing — the batch-packing profile a
    // training data loader runs before choosing bucket boundaries:
    // whitespace-token counts binned to fixed 64-token buckets, with
    // the padding waste each bucket pays at its own max. Pure map +
    // an aggregate over ≤ dozens of bucket keys: zero corpus shuffle,
    // the 100 TB plan is one pass. ────────────────────────────────────
    "q317_length_buckets" -> ((s, dir) => {
      T(s, dir, "documents")
        .select(size(filter(split(col("text"), " "),
          x => x =!= lit(""))).cast("long").as("n_tokens"))
        .withColumn("bucket",
          expr("((n_tokens + 63) DIV 64) * 64"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          sum(col("bucket") - col("n_tokens")).as("padding_tokens"))
        .orderBy("bucket")
    }),

    // ── [ext] approximate-quantile sanity gate: Spark's native
    // percentile_approx (Greenwald-Khanna-style mergeable sketch — the
    // O(1)-state quantile any 100 TB profile actually runs) checked
    // against EXACT rank windows, q18's HLL pattern for quantiles. The
    // emitted quantiles are exact (oracle-replayable); the sketch only
    // feeds the within_bound flag, whose ±5% rank window is 50× the
    // sketch's configured 0.1% error — loose enough to absorb
    // partition-merge-order wiggle, tight enough that a broken sketch
    // fails the hash gate. ────────────────────────────────────────────
    "q265_approx_quantile_gate" -> ((s, dir) => {
      val e = T(s, dir, "events")
      val exact = e.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.95)").as("p95"),
        expr("percentile(value, 0.45)").as("__lo50"),
        expr("percentile(value, 0.55)").as("__hi50"),
        expr("percentile(value, 0.90)").as("__lo95"),
        expr("percentile(value, 0.99)").as("__hi95"))
      val approx = e.groupBy("event_type").agg(
        expr("percentile_approx(value, array(0.5D, 0.95D), 1000)")
          .as("__ap"))
      exact.join(approx, "event_type")
        .select(col("event_type"), col("n"), col("p50"), col("p95"),
          (element_at(col("__ap"), 1)
            .between(col("__lo50"), col("__hi50")) &&
           element_at(col("__ap"), 2)
            .between(col("__lo95"), col("__hi95"))).as("within_bound"))
        .orderBy("event_type")
    }),

    // ── [ext] observed metrics: the A5 count/shape gate collected in
    // the SAME pass as the working aggregate via df.observe (Spark's
    // Observation API — accumulator-backed, zero extra scans; the
    // production form of "audit while you aggregate" at 100 TB, where
    // a second counting scan is a second pass over 100 TB). The main
    // aggregate executes once; its collected size and the observed
    // metrics come back as ONE audit row the oracle replays as plain
    // aggregates. ─────────────────────────────────────────────────────
    "q266_observed_metrics" -> ((s, dir) => {
      val obs = new org.apache.spark.sql.Observation()
      val e = T(s, dir, "events").observe(obs,
        count(lit(1)).as("n_rows"),
        sum(col("value").cast(Exact.Money)).as("tv"),
        sum(when(col("value") <= 0, 1L).otherwise(0L)).as("n_nonpos"))
      // bounded driver data: the per-type aggregate (≤5 rows) is the
      // working result; collecting it COMPLETES the action that makes
      // the ride-along metrics available
      val perType = e.groupBy("event_type")
        .agg(count(lit(1)).as("n")).collect()
      val m = obs.get
      import s.implicits._
      Seq((m("n_rows").asInstanceOf[Long],
          m("tv").asInstanceOf[java.math.BigDecimal].doubleValue(),
          m("n_nonpos").asInstanceOf[Long],
          perType.length.toLong))
        .toDF("n_rows", "total_value", "n_nonpositive", "n_event_types")
    }),

    // ── [ext] stats-based file skipping on the gate: orders lands in a
    // TxnLog table range-laid on o_orderdate with per-file min/max
    // stats in the commit; the 1997 read then plans ONLY the files
    // whose committed stats intersect the year — pruning decided from
    // the log before any parquet footer opens (Delta data skipping) —
    // with the residual filter as the correctness boundary, so the
    // plain-SQL oracle must match exactly regardless of what was
    // skipped. TxnLogSpec separately asserts the scan really shrinks. ──
    "q267_txn_data_skipping" -> ((s, dir) => {
      val tbl = TempWork.fresh("q267_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
        .repartitionByRange(8, col("o_orderdate"))
      graft.sources.TxnLog.create(s, tbl, o, statsCols = Seq("o_orderdate"))
      val loDays = java.time.LocalDate.parse("1997-01-01").toEpochDay
      val hiDays = java.time.LocalDate.parse("1997-12-31").toEpochDay
      graft.sources.TxnLog
        .snapshotWhere(s, tbl, "o_orderdate", loDays, hiDays)
        .where(col("o_orderdate").between(
          to_date(lit("1997-01-01")), to_date(lit("1997-12-31"))))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          Exact.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    // ── [ext] append-only change feed: orders lands in THREE commits
    // (pre-1997 / 1997 / post-1997); changesBetween(v1, v3) reads
    // exactly the files versions 2-3 added — the log-planned
    // incremental pull a downstream daily sync does instead of
    // re-scanning the table (Delta CDF's insert case; the reference's
    // watermark consumer, served by the table format itself). ─────────
    "q268_txn_change_feed" -> ((s, dir) => {
      val tbl = TempWork.fresh("q268_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
      val d97 = to_date(lit("1997-01-01"))
      val d98 = to_date(lit("1998-01-01"))
      graft.sources.TxnLog.create(s, tbl, o.filter(col("o_orderdate") < d97))
      graft.sources.TxnLog.append(s, tbl,
        o.filter(col("o_orderdate") >= d97 && col("o_orderdate") < d98))
      graft.sources.TxnLog.append(s, tbl, o.filter(col("o_orderdate") >= d98))
      graft.sources.TxnLog.changesBetween(s, tbl, 1L, 3L)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_changed"),
          min(col("o_orderdate")).as("first_date"),
          Exact.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    // ── [ext] full row-level CDF across an UPSERT commit: the
    // reference's actual daily write is a MERGE
    // (spark_deltalake_sync.py:296-300) — here it lands as a TxnLog
    // upsert whose commit journals Delta-CDF change rows, and the
    // downstream consumer reads insert / update_preimage /
    // update_postimage from changesBetween instead of diffing
    // snapshots. Deterministic: matched keys are exactly the
    // 1997-H2 orders (already in the v1 create), inserts the 1998-H1
    // ones, so the oracle replays the feed from date predicates. ──────
    "q269_txn_cdf_upsert" -> ((s, dir) => {
      val tbl = TempWork.fresh("q269_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
      val d98 = to_date(lit("1998-01-01"))
      graft.sources.TxnLog.create(s, tbl, o.filter(col("o_orderdate") < d98))
      val updates = o
        .filter(col("o_orderdate").between(
          to_date(lit("1997-06-01")), to_date(lit("1998-06-30"))))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val v2 = graft.sources.TxnLog.upsert(s, tbl, updates, Seq("o_orderkey"))
      graft.sources.TxnLog.changesBetween(s, tbl, 1L, v2)
        .groupBy("_change_type")
        .agg(count(lit(1)).as("n_rows"),
          Exact.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("_change_type")
    }),

    // ── [ext] partition-scoped transactional upsert: orders lands
    // hive-partitioned by year inside the TxnLog format; the daily
    // merge (1997 updates + 1998 inserts) rewrites ONLY the 1997
    // partition and creates the 1998 one — every other year keeps its
    // exact files (TxnLogSpec pins the file identity; this query pins
    // the merged ROWS through the oracle). The shape that makes a
    // daily merge into a 100 TB date-partitioned corpus affordable:
    // rewrite ∝ touched partitions, never the table. ──────────────────
    "q270_txn_partitioned_upsert" -> ((s, dir) => {
      val tbl = TempWork.fresh("q270_txn")
      val o = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), year(col("o_orderdate")).as("o_year"))
      graft.sources.TxnLog.create(s, tbl, o.filter(col("o_year") < 1998),
        partitionBy = Seq("o_year"))
      val updates = o.filter(col("o_year").isin(1997, 1998))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      graft.sources.TxnLog.upsert(s, tbl, updates, Seq("o_orderkey"))
      graft.sources.TxnLog.snapshot(s, tbl)
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_orders"),
          Exact.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("o_year")
    }),

    // ── [ext] schema evolution in the commit log: the table is
    // created with the declared 4-column schema (the reference's
    // explicit StructType, spark_deltalake_sync.py:115-122), then a
    // later batch adds a quality flag via mergeSchema — the evolved
    // schema is committed WITH the data, pre-evolution files surface
    // the column as null, and a drifted append without the opt-in
    // would have been rejected at write time (TxnLogSpec). ─────────────
    "q271_txn_schema_evolution" -> ((s, dir) => {
      val tbl = TempWork.fresh("q271_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
      val d98 = to_date(lit("1998-01-01"))
      graft.sources.TxnLog.create(s, tbl, o.filter(col("o_orderdate") < d98))
      graft.sources.TxnLog.append(s, tbl,
        o.filter(col("o_orderdate") >= d98)
          .withColumn("o_big",
            (col("o_totalprice") > 200000).cast(IntegerType)),
        mergeSchema = true)
      graft.sources.TxnLog.snapshot(s, tbl)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("o_big").isNull, 1L).otherwise(0L)).as("n_legacy"),
          sum(coalesce(col("o_big"), lit(0)).cast(LongType)).as("n_big"))
        .orderBy("o_orderstatus")
    }),

    // ── [ext] transactional DELETE with change feed: deleteWhere
    // rewrites the survivors in one CAS-pinned commit and journals the
    // deleted rows as `delete` CDF entries — the GDPR/right-to-be-
    // forgotten shape a corpus table needs, with the downstream feed
    // (q269's consumer) seeing exactly what vanished. ─────────────────
    "q272_txn_delete_cdf" -> ((s, dir) => {
      val tbl = TempWork.fresh("q272_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
      val d98 = to_date(lit("1998-01-01"))
      graft.sources.TxnLog.create(s, tbl, o.filter(col("o_orderdate") < d98))
      val v2 = graft.sources.TxnLog.deleteWhere(s, tbl,
        col("o_totalprice") > 300000)
      graft.sources.TxnLog.changesBetween(s, tbl, 1L, v2)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_deleted"),
          Exact.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    // ── [ext] transactional compaction under the change feed: the
    // streaming-sink lifecycle — many small per-batch files folded into
    // scan-sized ones by a `nochange` commit (Delta OPTIMIZE /
    // dataChange=false) that the CDF consumer SKIPS instead of refusing:
    // the feed window spans create → append → compact → append, serving
    // exactly the two data commits. n_commits pins that the compaction
    // contributed zero feed rows. ─────────────────────────────────────
    "q273_txn_compaction" -> ((s, dir) => {
      val tbl = TempWork.fresh("q273_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
      val d97 = to_date(lit("1997-01-01"))
      val d98 = to_date(lit("1998-01-01"))
      graft.sources.TxnLog.create(s, tbl, o.filter(col("o_orderdate") < d97))
      graft.sources.TxnLog.append(s, tbl,
        o.filter(col("o_orderdate") >= d97 && col("o_orderdate") < d98))
      graft.sources.TxnLog.compact(s, tbl, targetFiles = 1)
      val vLast = graft.sources.TxnLog.append(s, tbl,
        o.filter(col("o_orderdate") >= d98))
      graft.sources.TxnLog.changesBetween(s, tbl, 1L, vLast)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_changed"),
          countDistinct(col("_commit_version")).as("n_commits"),
          Exact.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    // ── [ext] conjunctive multi-column file skipping: the commit
    // carries min/max stats for BOTH o_orderdate and o_totalprice;
    // the read prunes on the two intervals together (a file must
    // intersect EVERY range to enter the plan) — Delta's
    // AND-of-ranges stats evaluation, with the residual filter still
    // the correctness boundary so the plain-SQL oracle matches
    // regardless of what was skipped. ─────────────────────────────────
    "q274_txn_multicol_skipping" -> ((s, dir) => {
      val tbl = TempWork.fresh("q274_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
        .repartitionByRange(8, col("o_orderdate"))
      graft.sources.TxnLog.create(s, tbl, o,
        statsCols = Seq("o_orderdate", "o_totalprice"))
      val loD = java.time.LocalDate.parse("1997-01-01").toEpochDay
      val hiD = java.time.LocalDate.parse("1997-12-31").toEpochDay
      graft.sources.TxnLog.snapshotWhereAll(s, tbl,
        Seq(("o_orderdate", loD, hiD), ("o_totalprice", 250000L, 499999L)))
        .where(col("o_orderdate").between(
            to_date(lit("1997-01-01")), to_date(lit("1997-12-31"))) &&
          col("o_totalprice").between(250000.0, 499999.0))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          Exact.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    // ── [ext] clustering compaction (OPTIMIZE ZORDER, range-cluster
    // form): orders lands HASH-scattered (every file spans the whole
    // date domain — stats exist but prune nothing), then one nochange
    // commit range-lays the files on o_orderdate with fresh stats, and
    // the 1997 read plans a file subset. Residual filter stays the
    // correctness boundary, so the oracle is layout-blind; TxnLogSpec
    // pins that the scan really shrinks only AFTER clustering. ────────
    "q277_txn_cluster_optimize" -> ((s, dir) => {
      val tbl = TempWork.fresh("q277_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
        .repartition(8, col("o_orderkey")) // date scattered across files
      graft.sources.TxnLog.create(s, tbl, o, statsCols = Seq("o_orderdate"))
      graft.sources.TxnLog.compact(s, tbl, targetFiles = 8,
        clusterBy = Seq("o_orderdate"))
      val loDays = java.time.LocalDate.parse("1997-01-01").toEpochDay
      val hiDays = java.time.LocalDate.parse("1997-12-31").toEpochDay
      graft.sources.TxnLog
        .snapshotWhere(s, tbl, "o_orderdate", loDays, hiDays)
        .where(col("o_orderdate").between(
          to_date(lit("1997-01-01")), to_date(lit("1997-12-31"))))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          Exact.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    // ── [ext] bounded weighted shortest paths (synchronous Bellman-
    // Ford, operators/Graph.boundedSssp) over the urgent co-purchase
    // graph with deterministic integer weights — the weighted
    // generalization of q136's BFS. All-integer relaxation, so DuckDB
    // replays the identical 3-round bound as a recursive CTE whose
    // UNION-dedup state space is (vertex × distinct dist ≤ 3·7) — tiny.
    // Subcritical graphs take the one-task local solve; at scale the
    // same rounds are one |frontier|⋈|E| equi-join + min each. ─────────
    "q278_sssp_weighted" -> ((s, dir) => {
      // the pair-mass statistic the edge derivation already computed
      // rides into the SSSP's plan pick — one statistic job for the
      // whole pipeline instead of one per operator
      val (edges0, mass) = urgentEdges(s, dir)
      val edges = edges0.withColumn("w", (col("a") + col("b")) % 7 + lit(1L))
      val seeds = edges.select(col("a").as("v"))
        .unionAll(edges.select(col("b").as("v")))
        .distinct().filter(col("v") < 50)
      graft.operators.Graph.boundedSssp(edges, seeds, rounds = 3,
          edgeMassBound = Some(mass))
        .select(col("v").as("part"), col("dist"))
        .orderBy("part")
    }),

    // ── [ext] DESCRIBE HISTORY — the commit log AS a table: every
    // writer stamps a commitInfo-style `op` action, so the operator
    // timeline (create → append → upsert → compact → delete → restore)
    // is queryable without touching a data file. The oracle is the
    // declared contract: this exact scripted sequence. ─────────────────
    "q279_txn_history" -> ((s, dir) => {
      val tbl = TempWork.fresh("q279_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
      val d97 = to_date(lit("1997-01-01"))
      val d98 = to_date(lit("1998-01-01"))
      graft.sources.TxnLog.create(s, tbl, o.filter(col("o_orderdate") < d97))
      graft.sources.TxnLog.append(s, tbl,
        o.filter(col("o_orderdate") >= d97 && col("o_orderdate") < d98))
      graft.sources.TxnLog.upsert(s, tbl,
        o.filter(col("o_orderdate") >= d98), Seq("o_orderkey"))
      graft.sources.TxnLog.compact(s, tbl)
      graft.sources.TxnLog.deleteWhere(s, tbl, col("o_totalprice") > 400000)
      graft.sources.TxnLog.restore(s, tbl, 3L)
      graft.sources.TxnLog.history(s, tbl)
        .select(col("version"), col("operation"))
        .orderBy("version")
    }),

    // ── [ext] incremental materialized-view maintenance from the
    // change feed: the per-status aggregate is computed ONCE at v1,
    // then advanced to v3 purely from changesBetween deltas (insert/
    // update_postimage add, update_preimage/delete subtract — exact
    // DECIMAL, so maintained ≡ recomputed to the bit). The oracle
    // recomputes the final state directly: a maintenance bug that
    // drops or double-counts a delta hash-fails. At 100 TB this is THE
    // pattern that keeps downstream aggregates fresh without rescanning
    // the base table after every daily merge — the MV update touches
    // CDF rows only, never the table. ─────────────────────────────────
    "q280_txn_incremental_mv" -> ((s, dir) => {
      val tbl = TempWork.fresh("q280_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
      val d98 = to_date(lit("1998-01-01"))
      val v1 = graft.sources.TxnLog.create(s, tbl,
        o.filter(col("o_orderdate") < d98))
      val money = DecimalType(18, 2)
      val wide = DecimalType(38, 2)
      // the base MV, frozen at v1 (time-traveled read + eager
      // materialization: later versions cannot leak in)
      val mv0 = graft.sources.TxnLog.snapshot(s, tbl, Some(v1))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n0"),
          sum(col("o_totalprice").cast(money)).cast(wide).as("p0"))
        .localCheckpoint(true)
      val updates = o
        .filter(col("o_orderdate").between(
          to_date(lit("1997-06-01")), to_date(lit("1998-06-30"))))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      graft.sources.TxnLog.upsert(s, tbl, updates, Seq("o_orderkey"))
      val v3 = graft.sources.TxnLog.deleteWhere(s, tbl,
        col("o_totalprice") > 900000)
      // delta algebra over the feed: signed counts and signed money
      val delta = graft.sources.TxnLog.changesBetween(s, tbl, v1, v3)
        .withColumn("sgn",
          when(col("_change_type").isin("insert", "update_postimage"), 1L)
            .otherwise(-1L))
        .groupBy("o_orderstatus")
        .agg(sum(col("sgn")).as("dn"),
          sum(when(col("sgn") === 1L, col("o_totalprice").cast(money))
            .otherwise(-col("o_totalprice").cast(money))).cast(wide).as("dp"))
      mv0.join(delta, Seq("o_orderstatus"), "full_outer")
        .select(col("o_orderstatus"),
          (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
            .as("n_orders"),
          (coalesce(col("p0"), lit(0).cast(wide)) +
            coalesce(col("dp"), lit(0).cast(wide)))
            .cast(DoubleType).as("total_price"))
        .filter(col("n_orders") > 0)
        .orderBy("o_orderstatus")
    }),

    // ── [ext] degree assortativity — Pearson correlation of endpoint
    // degrees over the (symmetrized) urgent co-purchase graph, the
    // standard one-number summary of hub-to-hub vs hub-to-leaf wiring
    // (Newman 2002). Exact BIGINT moments (degrees are counts, every
    // sum < 2⁵³), one double formula at the end — bit-identical on any
    // engine. PLAN: the single-endpoint moments never need the edge
    // relation — over directed edges each vertex appears exactly d(v)
    // times as the src endpoint, so m = Σd, Σdx = Σd², Σdx² = Σd³, and
    // the bidirection makes the dst moments equal by symmetry; only
    // the cross moment Σ dx·dy pays an |E| join (edge ⋈ degree on dst,
    // fold to per-vertex neighbor-degree sums, then a VERTEX-sized
    // join). One |E|-sized join instead of two — at 100 TB the removed
    // join is the bigger half of the query. ───────────────────────────
    "q281_degree_assortativity" -> ((s, dir) => {
      val edges = urgentEdges(s, dir)._1
      val dirE = edges.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))
      // the VERTEX-sized degree relation feeds three consumers (endpoint
      // moments, the dst-side join build, the final vertex join) — pin
      // it once so the |E|-scale groupBy runs once, and AQE broadcasts
      // the materialized (small) relation into the joins
      val deg = dirE.groupBy("src").agg(count(lit(1)).as("d"))
        .localCheckpoint(true)
      // endpoint moments from the degree relation alone (no edge join)
      val ends = deg.agg(sum(col("d")).as("m"),
        sum(col("d") * col("d")).as("sx"),
        sum(col("d") * col("d") * col("d")).as("sxx"))
      // cross moment: per-vertex neighbor-degree sum, then vertex-sized
      // join back to the vertex's own degree
      val nsum = dirE
        .join(deg.select(col("src").as("dst"), col("d").as("dy")), "dst")
        .groupBy("src").agg(sum(col("dy")).as("t"))
      val cross = nsum.join(deg, "src")
        .agg(sum(col("d") * col("t")).as("sxy"))
      def dbl(c: Column) = c.cast(DoubleType)
      ends.crossJoin(cross) // 1 row × 1 row
        .select(col("m"),
          ((dbl(col("m")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sx"))) /
            (sqrt(dbl(col("m")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))) *
              sqrt(dbl(col("m")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")))))
            .as("assortativity"))
    }),

    // ── [ext] t-closeness — the privacy gate k-anonymity (q179) and
    // l-diversity (q212) don't give: per quasi-identifier group, the
    // earth-mover's distance between the group's distribution over an
    // ORDERED sensitive attribute and the global one (Li et al., ICDE
    // 2007). Integer cross-multiplied cumulative gaps (|cum_g·N −
    // cum_G·n_g| — no fractions until the final double), buckets
    // densified so empty cells still carry their cumulative term. ─────
    "q282_t_closeness" -> ((s, dir) => {
      val c = T(s, dir, "customer").select(col("c_mktsegment").as("seg"),
        least(lit(3), greatest(lit(0),
          floor((col("c_acctbal") + 1000) / 2750).cast(IntegerType))).as("b"))
      val cnt = c.groupBy("seg", "b").agg(count(lit(1)).as("n"))
      val dense = cnt.select("seg").distinct()
        .crossJoin(s.range(0, 4).select(col("id").cast(IntegerType).as("b")))
        .join(cnt, Seq("seg", "b"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
      val cumg = dense.withColumn("cumg",
        sum(col("n")).over(Window.partitionBy("seg").orderBy("b")))
      val cumG = dense.groupBy("b").agg(sum(col("n")).as("gn"))
        .withColumn("cumglob", sum(col("gn")).over(Window.orderBy("b")))
        .select("b", "cumglob") // 4 rows: the SinglePartition window is free
      val ng = dense.groupBy("seg").agg(sum(col("n")).as("ng"))
      val bigN = dense.agg(sum(col("n")).as("ntot"))
      cumg.join(cumG, "b").join(ng, "seg").crossJoin(broadcast(bigN))
        .filter(col("b") < 3) // EMD sums the k-1 interior cumulative gaps
        .groupBy("seg", "ng", "ntot")
        .agg(sum(abs(col("cumg") * col("ntot") - col("cumglob") * col("ng")))
          .as("tnum"))
        .select(col("seg"), col("ng").as("n_customers"),
          (col("tnum").cast(DoubleType) /
            (col("ng").cast(DoubleType) * col("ntot").cast(DoubleType) * 3.0))
            .as("t_closeness"))
        .orderBy("seg")
    }),

    // ── [ext] per-file BLOOM skipping — the point-lookup analogue of
    // q267's min/max stats, lifted into the commit log (Iceberg/
    // parquet bloom metadata, planned without opening a footer). The
    // table is DATE-clustered, so every file spans ~the whole orderkey
    // range and min/max stats prune NOTHING on a key probe; the bloom
    // prunes to the one file that can hold it (TxnLogSpec pins the
    // 1-of-5 file count; this query pins the rows through the oracle;
    // the residual equality filter stays the correctness boundary). ───
    "q283_txn_bloom_skipping" -> ((s, dir) => {
      val tbl = TempWork.fresh("q283_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
      graft.sources.TxnLog.create(s, tbl,
        o.repartitionByRange(8, col("o_orderdate")),
        bloomCols = Seq("o_orderkey"))
      // the probe key: a bounded scalar plan parameter (q43's codebook
      // class), deterministic from the fixture
      val probeKey = o
        .filter(col("o_orderdate") >= to_date(lit("1997-03-15")) &&
          col("o_orderdate") < to_date(lit("1997-03-16")))
        .agg(min(col("o_orderkey"))).head().getLong(0)
      graft.sources.TxnLog.snapshotWhereEq(s, tbl, "o_orderkey", probeKey)
        .select(col("o_orderkey"), col("o_orderstatus"),
          to_date(col("o_orderdate")).as("o_date"), col("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    // ── [ext] append-path streaming read of a TxnLog table: the
    // _stream_feed hard-link mirror (appends only, rewrites excluded
    // by construction) under Spark's checkpointed file stream — the
    // dataChange-add half of Delta's streaming source, complementing
    // q275's change-journal half. Compaction + upsert run between the
    // appends and the read; a stream over the raw table dir would
    // double-count their rewrites, the feed stream must not see them. ─
    "q286_txn_append_stream" -> ((s, dir) =>
      graft.streaming.EventStream.txnAppendStreamTotals(s, dir)),

    // ── [ext] `readStream.format("txnlog")` — the registered STREAMING
    // SOURCE with log versions as offsets (Delta's streaming-source
    // shape, the read twin of q301's sink): exactly-once append replay
    // through the format string, layout-only compaction invisible,
    // row-rewriting upsert skipped under ignoreChanges (refused
    // without it — TxnLogSpec pins the refusal), restart-deterministic
    // because offsets are committed versions over immutable log files.
    "q306_stream_txnlog_source" -> ((s, dir) =>
      graft.streaming.EventStream.txnSourceStreamTotals(s, dir)),

    // ── [ext] STREAMING change feed via the format string — the q275
    // journal consumed through `readStream.format("txnlog")
    // .option("readChangeFeed", true)`: version-offset micro-batches of
    // changesBetween windows (Delta's streaming readChangeFeed), with
    // `_commit_version` proving which commit produced each change class
    // (update pre/post from the upsert's v2, deletes from v3). ────────
    "q308_stream_txnlog_cdf" -> ((s, dir) =>
      graft.streaming.EventStream.txnCdfStreamTotals(s, dir)),

    // ── [ext] file-pruned MERGE on an UNPARTITIONED table: the log's
    // per-file min/max stats and blooms on the merge key split the
    // live set into touched vs untouched files — the batch below hits
    // a narrow low-key range, so the merge reads and rewrites ∝ that
    // range while every other file keeps its exact name, stats, and
    // blooms (TxnLogSpec pins the file identity; this query pins the
    // merged rows). Delta MERGE's touched-file scoping — the last
    // whole-table rewrite term in the format, now gone: an
    // unpartitioned 100 TB table pays its daily merge ∝ the key range
    // the batch touches. ──────────────────────────────────────────────
    "q287_txn_pruned_merge" -> ((s, dir) => {
      val tbl = TempWork.fresh("q287_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      graft.sources.TxnLog.create(s, tbl,
        o.repartitionByRange(8, col("o_orderkey")),
        statsCols = Seq("o_orderkey"), bloomCols = Seq("o_orderkey"))
      val updates = o.filter(col("o_orderkey") < 1000)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      graft.sources.TxnLog.upsert(s, tbl, updates, Seq("o_orderkey"))
      graft.sources.TxnLog.snapshot(s, tbl)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          Exact.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    // ── [ext] TxnLog behind Spark's own data-source machinery: the
    // registered `txnlog` format plans a HadoopFsRelation over a
    // log-backed FileIndex (Delta's TahoeFileIndex shape), so a PURE
    // SQL consumer — temp view USING txnlog, then plain SELECT — gets
    // log-planned snapshots with stats/bloom file skipping riding
    // Spark's own pushdown (PushedFilters + a pruned file list,
    // PlanShapeSpec-pinned), vectorized parquet, and column pruning.
    // Same aggregate as q267, reached without ONE programmatic call. ──
    "q288_txnlog_sql_pushdown" -> ((s, dir) => {
      val tbl = TempWork.fresh("q288_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
        .repartitionByRange(8, col("o_orderdate"))
      graft.sources.TxnLog.create(s, tbl, o, statsCols = Seq("o_orderdate"),
        bloomCols = Seq("o_orderkey"))
      s.sql("CREATE OR REPLACE TEMPORARY VIEW q288_txn_v " +
        s"USING txnlog OPTIONS (path '$tbl')")
      s.sql(
        """SELECT o_orderstatus, count(*) AS n_orders,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM q288_txn_v
          |WHERE o_orderdate BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),

    // ── [ext] change feed ACROSS a restore: the undo commit is
    // metadata-only (re-add old files, remove new ones — no journaled
    // change data), so the feed synthesizes its row-level delta as the
    // multiset diff of the snapshots around it: the rows the bad
    // delete victimized come BACK as inserts. A downstream incremental
    // consumer stays correct through the operator's undo button — it
    // sees delete-then-insert instead of silently diverging. The diff
    // costs two snapshot scans, paid only by windows that actually
    // span a restore. ─────────────────────────────────────────────────
    "q289_txn_restore_cdf" -> ((s, dir) => {
      val tbl = TempWork.fresh("q289_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
      graft.sources.TxnLog.create(s, tbl,
        o.filter(col("o_orderdate") < to_date(lit("1998-01-01"))))
      graft.sources.TxnLog.deleteWhere(s, tbl,
        col("o_totalprice") > 300000) // the "bad" load fix gone wrong
      val v3 = graft.sources.TxnLog.restore(s, tbl, 1L) // the undo
      graft.sources.TxnLog.changesBetween(s, tbl, 1L, v3)
        .groupBy("_change_type", "o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          Exact.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("_change_type", "o_orderstatus")
    }),

    // ── [ext] exactly-once streaming MERGE sink: foreachBatch +
    // txn-marked upsert (TxnLog.idempotentUpsert), then the WHOLE query
    // re-run on a fresh checkpoint — the crash-replay shape. A merge is
    // value-idempotent; what the marker protects is the CHANGE FEED
    // (a replayed MERGE would re-journal every pre/post pair and every
    // downstream incremental consumer would double-apply), so the
    // result carries the per-status CDF row count: the oracle's
    // 2×updated-rows only holds when the replay was absorbed. ─────────
    "q295_stream_txnlog_merge" -> ((s, dir) =>
      graft.streaming.EventStream.txnMergeSinkTotals(s, dir)),

    // ── [ext] metadata-only MIN/MAX: the aggregate answered from the
    // log's per-file stats alone — min of mins / max of maxs over the
    // live set, zero data I/O (how Delta serves SELECT min(x) from
    // stats). The exactness contract refuses rather than guesses:
    // every live file must carry stats, the type must round-trip the
    // canonical-long encoding (integrals/dates — a timestamp's stats
    // are day floors), and no deletion vectors may be live (a DV could
    // have deleted the extreme row). ──────────────────────────────────
    "q293_txn_meta_minmax" -> ((s, dir) => {
      val tbl = TempWork.fresh("q293_txn")
      val o = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          to_date(col("o_orderdate")).as("o_date"), col("o_totalprice"))
      val d98 = to_date(lit("1998-01-01"))
      graft.sources.TxnLog.create(s, tbl,
        o.filter(col("o_date") < d98).repartitionByRange(4, col("o_orderkey")),
        statsCols = Seq("o_orderkey", "o_date"))
      graft.sources.TxnLog.append(s, tbl, o.filter(col("o_date") >= d98),
        statsCols = Seq("o_orderkey", "o_date"))
      val (kLo, kHi) =
        graft.sources.TxnLog.minMaxFromLog(tbl, "o_orderkey").get
      val (dLo, dHi) = graft.sources.TxnLog.minMaxFromLog(tbl, "o_date").get
      s.range(1).select(lit(kLo).as("min_key"), lit(kHi).as("max_key"),
        lit(dLo).as("min_day"), lit(dHi).as("max_day"))
    }),

    // ── [ext] hybrid retrieval via reciprocal-rank fusion (Cormack et
    // al. SIGIR'09, k=60): a lexical retriever (term frequency of
    // 'query' over the raw token stream) and a semantic one (cosine vs
    // doc 0's embedding) each produce a top-50 SHORTLIST as
    // orderBy+limit — TakeOrderedAndProject map-side heaps, so the
    // corpus-sized work stays in the scans — and fusion ranks + sums
    // 1/(60+rank) over ≤100 rows (bounded plan parameter). The
    // standard hybrid-search architecture, deterministic via id
    // tie-breaks. ─────────────────────────────────────────────────────
    "q294_rrf_hybrid" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val e = T(s, dir, "embeddings")
      val lex = docs.filter(col("doc_id") =!= 0)
        .select(col("doc_id").as("id"),
          size(filter(split(col("text"), " "),
            x => x === lit("query"))).cast(DoubleType).as("score"))
        .filter(col("score") > 0)
        .orderBy(col("score").desc, col("id")).limit(50)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      val sem = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id").as("id"),
          VectorOps.cosine(col("embedding"), col("qv")).as("score"))
        .orderBy(col("score").desc, col("id")).limit(50)
      graft.operators.Similarity.rrfFusion(Seq(lex, sem), "id", "score",
          k = 60, topN = 10)
        .select(col("id").as("doc_id"), col("rrf"))
    }),

    // ── [ext] Hilbert-curve multi-dimensional clustering (Delta's
    // OPTIMIZE ZORDER BY a,b / Iceberg hilbert sort): lexicographic
    // range-clustering gives narrow per-file intervals in the FIRST
    // column only; laying the rewrite along the Hilbert curve of the
    // (min-max normalized) 2-D grid gives EVERY file a narrow interval
    // in EACH column, so a predicate on either one prunes the scan
    // (TxnLogSpec pins the file-subset counts both ways; this query
    // pins the rows through the conjunctive read). The layout lever
    // that makes a 100 TB table servable by two independent access
    // paths at once. ──────────────────────────────────────────────────
    "q292_txn_hilbert_cluster" -> ((s, dir) => {
      val tbl = TempWork.fresh("q292_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
          "o_totalprice")
        .repartition(8, col("o_orderkey")) // both dims scattered
      graft.sources.TxnLog.create(s, tbl, o,
        statsCols = Seq("o_custkey", "o_orderdate"))
      graft.sources.TxnLog.compact(s, tbl, targetFiles = 16,
        clusterBy = Seq("o_custkey", "o_orderdate"), hilbert = true)
      val dLo = java.time.LocalDate.parse("1997-01-01").toEpochDay
      val dHi = java.time.LocalDate.parse("1997-12-31").toEpochDay
      graft.sources.TxnLog
        .snapshotWhereAll(s, tbl,
          Seq(("o_custkey", 1L, 500L), ("o_orderdate", dLo, dHi)))
        .where(col("o_custkey").between(1, 500) &&
          col("o_orderdate").between(
            to_date(lit("1997-01-01")), to_date(lit("1997-12-31"))))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          Exact.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    // ── [ext] dynamic partition overwrite (INSERT OVERWRITE dynamic /
    // Delta replaceWhere): the 1997 partition is recomputed (prices
    // doubled) and swapped in as ONE commit that removes exactly that
    // partition's files — every other year keeps its exact files
    // (TxnLogSpec pins the identity), the swap is journaled as
    // delete+insert CDF, and a lost race against a disjoint-partition
    // writer retries instead of failing. The daily-load pattern the
    // reference's BigQuery PARTITION BY date table exists for. ────────
    "q291_txn_replace_partition" -> ((s, dir) => {
      val tbl = TempWork.fresh("q291_txn")
      val o = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), year(col("o_orderdate")).as("o_year"))
      graft.sources.TxnLog.create(s, tbl, o, partitionBy = Seq("o_year"))
      graft.sources.TxnLog.overwritePartitions(s, tbl,
        o.filter(col("o_year") === 1997)
          .withColumn("o_totalprice", col("o_totalprice") * 2))
      graft.sources.TxnLog.snapshot(s, tbl)
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_orders"),
          Exact.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("o_year")
    }),

    // ── [ext] DELETION VECTORS — merge-on-read DELETE (Delta DV /
    // Iceberg v2 position deletes): two successive deletes journal only
    // (file, row-index) positions + per-file victim counts; ZERO data
    // files are rewritten (asserted in-query via file identity), every
    // read subtracts the positions with one anti join, and count(*)
    // stays a pure log answer (rowcounts − dvcounts, surfaced as
    // meta_total and oracle-checked against the real count). The
    // write-amplification killer at 100 TB: a 0.01% delete costs KB of
    // positions, not a table rewrite; compact() purges when the read
    // tax accumulates (TxnLogSpec pins purge + restore + checkpoint
    // round-trips). ───────────────────────────────────────────────────
    "q290_txn_deletion_vectors" -> ((s, dir) => {
      val tbl = TempWork.fresh("q290_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
      graft.sources.TxnLog.create(s, tbl,
        o.repartitionByRange(4, col("o_orderkey")))
      val files0 = graft.sources.TxnLog.files(tbl)
      graft.sources.TxnLog.deleteWhereDV(s, tbl,
        col("o_totalprice") > 300000)
      graft.sources.TxnLog.deleteWhereDV(s, tbl,
        col("o_orderdate") >= to_date(lit("1998-01-01")))
      require(graft.sources.TxnLog.files(tbl) == files0,
        "merge-on-read delete must not rewrite any data file")
      val metaCount = graft.sources.TxnLog.countRows(tbl).get
      graft.sources.TxnLog.snapshot(s, tbl)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          Exact.moneySum(col("o_totalprice")).as("total_price"))
        .withColumn("meta_total", lit(metaCount))
        .orderBy("o_orderstatus")
    }),

    // ── [ext] merge-on-read SQL reads: a DV-bearing snapshot served
    // through PURE SQL — the `txnlog` source routes it to the DV-aware
    // relation (PrunedFilteredScan running the same log-pruned,
    // anti-join-subtracting plan as the programmatic snapshot) instead
    // of refusing until compaction. The in-query require pins the
    // merge-on-read contract (zero data files rewritten) and the
    // o_orderkey filter still prunes files from committed stats
    // (TxnLogSpec pins the pruned count) — combining round-11's two
    // features, DV deletes + SQL reads, in one path. ──────────────────
    "q296_txn_dv_sql_read" -> ((s, dir) => {
      val tbl = TempWork.fresh("q296_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
      graft.sources.TxnLog.create(s, tbl,
        o.repartitionByRange(8, col("o_orderkey")),
        statsCols = Seq("o_orderkey"))
      val files0 = graft.sources.TxnLog.files(tbl)
      graft.sources.TxnLog.deleteWhereDV(s, tbl,
        col("o_totalprice") > 300000)
      require(graft.sources.TxnLog.files(tbl) == files0,
        "merge-on-read delete must not rewrite any data file")
      s.sql("CREATE OR REPLACE TEMPORARY VIEW q296_txn_v " +
        s"USING txnlog OPTIONS (path '$tbl')")
      s.sql(
        """SELECT o_orderstatus, count(*) AS n_orders,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM q296_txn_v WHERE o_orderkey <= 15000
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),

    // ── [ext] the WRITE path through the data source: the reference
    // writes its Delta tables with `df.write.format("delta")`
    // (`spark_deltalake_sync.py:163`); this is that surface for the
    // TxnLog format — SaveMode mapped onto the transactional writers
    // (ErrorIfExists→create with skipping metadata, Append→validated
    // append), so a format-string user gets the same log-planned,
    // schema-enforced table as the programmatic API. The in-query
    // require pins that both writes landed as LOG COMMITS. ────────────
    "q297_txnlog_write_path" -> ((s, dir) => {
      val tbl = TempWork.fresh("q297_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
      val d98 = to_date(lit("1998-01-01"))
      o.filter(col("o_orderdate") < d98).write.format("txnlog")
        .option("statsCols", "o_orderdate").save(tbl)
      o.filter(col("o_orderdate") >= d98).write.format("txnlog")
        .mode("append").save(tbl)
      require(graft.sources.TxnLog.versions(tbl) == Seq(1L, 2L),
        "format-string writes must land as one commit each")
      s.read.format("txnlog").load(tbl)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          Exact.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    // ── [ext] INSERT INTO a `USING txnlog` view: the relation is
    // InsertableRelation, so SQL inserts resolve to the transactional
    // TxnLog.append — never Spark's raw-file insert command, which
    // would drop files into the directory no log entry references
    // (silently invisible to every log-planned reader; the in-query
    // require pins the commit). The view re-resolves the log head, so
    // the same view serves the post-insert snapshot. ──────────────────
    "q298_txnlog_sql_insert" -> ((s, dir) => {
      val tbl = TempWork.fresh("q298_txn")
      val n = T(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      graft.sources.TxnLog.create(s, tbl, n.filter(col("n_regionkey") < 2))
      s.sql("CREATE OR REPLACE TEMPORARY VIEW q298_txn_v " +
        s"USING txnlog OPTIONS (path '$tbl')")
      n.filter(col("n_regionkey") >= 2)
        .createOrReplaceTempView("q298_rest")
      s.sql("INSERT INTO q298_txn_v " +
        "SELECT n_nationkey, n_name, n_regionkey FROM q298_rest")
      require(graft.sources.TxnLog.versions(tbl) == Seq(1L, 2L),
        "INSERT INTO must land as one transactional append commit")
      s.sql(
        """SELECT n_regionkey, count(*) AS n_nations,
          |  min(n_name) AS first_name
          |FROM q298_txn_v GROUP BY n_regionkey
          |ORDER BY n_regionkey""".stripMargin)
    }),

    // ── [ext] COLUMN RENAME as a metadata commit (Delta's
    // columnMapping = name): the declared schema carries each field's
    // immutable PHYSICAL name, so a rename rewrites ZERO data files
    // (the in-query require pins it — on a 100 TB table the difference
    // between a log write and a full rewrite), old files keep serving
    // through the mapping, time travel returns the old name, and a
    // post-rename append arrives with the NEW logical name and lands
    // under the physical one. ─────────────────────────────────────────
    "q299_txn_rename_column" -> ((s, dir) => {
      val tbl = TempWork.fresh("q299_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
      val d98 = to_date(lit("1998-01-01"))
      graft.sources.TxnLog.create(s, tbl, o.filter(col("o_orderdate") < d98))
      val files0 = graft.sources.TxnLog.files(tbl)
      graft.sources.TxnLog.renameColumn(s, tbl, "o_totalprice", "price")
      require(graft.sources.TxnLog.files(tbl) == files0,
        "rename must be a metadata-only commit")
      graft.sources.TxnLog.append(s, tbl,
        o.filter(col("o_orderdate") >= d98)
          .withColumnRenamed("o_totalprice", "price"))
      graft.sources.TxnLog.snapshot(s, tbl)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          Exact.moneySum(col("price")).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    // ── [ext] change feed across RESTORE-after-partition-swap: the
    // operator's undo of a bad daily reload (overwritePartitions of
    // 1997, then restore) — the feed window over the undo synthesizes
    // the multiset diff's remove/add PAIRS of the swap: the bad
    // (doubled) rows leave as deletes, the originals return as
    // inserts. Downstream incremental consumers survive the full
    // reload-then-undo cycle without diffing snapshots themselves. ────
    "q300_txn_restore_swap_cdf" -> ((s, dir) => {
      val tbl = TempWork.fresh("q300_txn")
      val o = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          year(col("o_orderdate")).cast(IntegerType).as("o_year"),
          col("o_totalprice"))
      graft.sources.TxnLog.create(s, tbl, o, partitionBy = Seq("o_year"))
      val repl = o.filter(col("o_year") === 1997)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val v2 = graft.sources.TxnLog.overwritePartitions(s, tbl, repl)
      val v3 = graft.sources.TxnLog.restore(s, tbl, 1L)
      graft.sources.TxnLog.changesBetween(s, tbl, v2, v3)
        .groupBy("_change_type", "o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          Exact.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("_change_type", "o_orderstatus")
    }),

    // ── [ext] schema-evolving MERGE (Delta's schema.autoMerge): the
    // daily upsert starts carrying a column the table never declared —
    // with mergeSchema the commit evolves the declared schema, matched
    // and inserted rows carry the value, and every PRE-EVOLUTION row
    // surfaces it as null (the 'pre-evolution' band below). TxnLogSpec
    // pins the write-time reject without the opt-in and the time travel
    // back to the old schema; this query pins the merged rows. ────────
    "q285_txn_evolving_upsert" -> ((s, dir) => {
      val tbl = TempWork.fresh("q285_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
      val d98 = to_date(lit("1998-01-01"))
      graft.sources.TxnLog.create(s, tbl, o.filter(col("o_orderdate") < d98))
      val updates = o
        .filter(col("o_orderdate").between(
          to_date(lit("1997-06-01")), to_date(lit("1998-06-30"))))
        .withColumn("o_big",
          (col("o_totalprice") > 200000).cast(IntegerType))
      graft.sources.TxnLog.upsert(s, tbl, updates, Seq("o_orderkey"),
        mergeSchema = true)
      graft.sources.TxnLog.snapshot(s, tbl)
        .withColumn("band",
          when(col("o_big").isNull, lit("pre-evolution"))
            .when(col("o_big") === 1, lit("big")).otherwise(lit("small")))
        .groupBy("band")
        .agg(count(lit(1)).as("n_orders"),
          Exact.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("band")
    }),

    // ── [ext] metadata-only count(*) — the log records every file's
    // parquet-footer rowcount at commit time (Delta's numRecords), so
    // per-partition counts come out of DRIVER ARITHMETIC over the live
    // file set: zero data I/O, zero Spark jobs (TxnLogSpec proves it by
    // trashing the data files and counting anyway). The delete in the
    // middle keeps the metadata honest: rewritten files re-record their
    // counts, so the log answer tracks the data exactly. At 100 TB this
    // is the difference between a dashboard freshness probe costing
    // microseconds and costing a cluster scan. ─────────────────────────
    "q284_txn_metadata_count" -> ((s, dir) => {
      val tbl = TempWork.fresh("q284_txn")
      val o = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          year(col("o_orderdate")).as("o_year"))
      graft.sources.TxnLog.create(s, tbl, o, partitionBy = Seq("o_year"))
      graft.sources.TxnLog.deleteWhere(s, tbl, col("o_totalprice") > 450000)
      val counts = graft.sources.TxnLog.partitionRowCounts(tbl)
        .getOrElse(sys.error("rowcounts missing"))
      val rows = counts.toSeq.map { case (pv, n) =>
        org.apache.spark.sql.Row(pv.head._2.toInt, n)
      }
      s.createDataFrame(s.sparkContext.parallelize(rows, 1),
          StructType(Seq(StructField("o_year", IntegerType),
            StructField("n_orders", LongType))))
        .orderBy("o_year")
    }),

    // ── [ext] RESTORE — the undo button for a corrupted load: a bad
    // overwrite (v3 drops everything but 1997) is rolled back to v2 by
    // a METADATA-ONLY commit that re-references the old files (no data
    // copied; the bad version stays addressable for forensics). The
    // oracle sees only the restored state, so a restore that missed a
    // file or resurrected the bad load hash-fails. ────────────────────
    "q276_txn_restore" -> ((s, dir) => {
      val tbl = TempWork.fresh("q276_txn")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
      val d97 = to_date(lit("1997-01-01"))
      val d98 = to_date(lit("1998-01-01"))
      graft.sources.TxnLog.create(s, tbl, o.filter(col("o_orderdate") < d97))
      graft.sources.TxnLog.append(s, tbl,
        o.filter(col("o_orderdate") >= d97 && col("o_orderdate") < d98))
      graft.sources.TxnLog.overwrite(s, tbl, // the botched refresh
        o.filter(col("o_orderdate") >= d98))
      graft.sources.TxnLog.restore(s, tbl, 2L)
      graft.sources.TxnLog.snapshot(s, tbl)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          max(col("o_orderdate")).as("last_date"),
          Exact.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    // ── [ext] streaming change-feed consumer: the _change_data journal
    // is an append-only parquet feed, so a FILE STREAM over it is
    // Delta's CDF streaming source with zero custom machinery —
    // create → upsert → delete land deterministic changes, the stream
    // (AvailableNow, checkpointed) delivers each row exactly once, and
    // the oracle replays the whole feed from date/price predicates. ───
    "q275_txn_change_stream" -> ((s, dir) =>
      graft.streaming.EventStream.txnChangeFeedTotals(s, dir)),

    // ── S1 oracle-checked: the DSv2 paginated-directory source (one
    // input partition per page — the reference's serial page loop,
    // pse_edge.py:70-118, as parallel tasks) actually DRIVEN through
    // the correctness gate: scan 4×50 pages, per-page shape stats. The
    // page payload is deterministic, so DuckDB replays it from
    // generate_series — proving the source's rows, not just its plan
    // shape (SourceSpec), match a declared contract. ──────────────────
    "q260_paged_scan" -> ((s, dir) => {
      s.read.format("graft.sources.PagedSource")
        .option("pages", "4").option("pagesize", "50").load()
        .groupBy("page")
        .agg(count(lit(1)).as("n"),
          min(col("symbol")).as("sym_first"),
          max(col("symbol")).as("sym_last"),
          sum(length(col("company_name")).cast(LongType)).as("name_chars"))
        .orderBy("page")
    })
  )

  /** Exactly-representable octile probabilities shared by q217's engine
    * and oracle sides (eighths are dyadic rationals — identical rank
    * arithmetic as double or SQL decimal). */
  private val octiles: Seq[Double] = (1 to 7).map(_ / 8.0)


  /** q128 oracle: the PQ encode + ADC pipeline replayed stage by stage in
    * DuckDB — codebook as a 128-row VALUES CTE of exact-rational lists,
    * code assignment as (score, c)-ordered row_number (= PqEncode's
    * strict-< lowest-index argmin), ADC as the same
    * `(⟨q,q⟩ − 2⟨q,C⟩) + ‖C‖²` terms pivoted to columns and summed in
    * the identical left-to-right order. */
  private def pqOracleSql: String = {
    val nSub = 8; val nCents = 16; val subDim = 8
    val cbRows = (for (s <- 0 until nSub; c <- 0 until nCents) yield {
      val lst = (0 until subDim)
        .map(i => s"${Similarity.pqLatticeInt(s, c, i)}/1000.0")
        .mkString("[", ", ", "]")
      s"($s, $c, $lst)"
    }).mkString(",\n  ")
    val adcChain = (0 until nSub).map(s => s"t$s")
      .reduceLeft((a, b) => s"($a + $b)")
    val pivots = (0 until nSub)
      .map(s => s"max(CASE WHEN s = $s THEN t END) AS t$s").mkString(", ")
    s"""WITH cb(s, c, cent) AS (VALUES
       |  $cbRows),
       |b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |      FROM embeddings WHERE vec_id >= 3),
       |q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS v
       |      FROM embeddings WHERE vec_id < 3),
       |sc AS (SELECT b.vec_id, cb.s, cb.c,
       |         (list_inner_product(cb.cent, cb.cent)
       |          - 2.0 * list_inner_product(
       |              list_slice(b.v, 8*cb.s + 1, 8*cb.s + 8), cb.cent)) AS sc
       |       FROM b CROSS JOIN cb),
       |cd AS (SELECT vec_id, s, c AS code FROM
       |        (SELECT vec_id, s, c, row_number() OVER
       |           (PARTITION BY vec_id, s ORDER BY sc, c) AS rn FROM sc)
       |       WHERE rn = 1),
       |tm AS (SELECT q.q_id, cd.vec_id, cd.s,
       |         ((list_inner_product(list_slice(q.v, 8*cd.s + 1, 8*cd.s + 8),
       |                              list_slice(q.v, 8*cd.s + 1, 8*cd.s + 8))
       |           - 2.0 * list_inner_product(
       |               list_slice(q.v, 8*cd.s + 1, 8*cd.s + 8), cb.cent))
       |          + list_inner_product(cb.cent, cb.cent)) AS t
       |       FROM cd JOIN cb ON cb.s = cd.s AND cb.c = cd.code CROSS JOIN q),
       |a AS (SELECT q_id, vec_id, $pivots FROM tm GROUP BY q_id, vec_id),
       |r AS (SELECT q_id, vec_id, $adcChain AS adc,
       |         row_number() OVER (PARTITION BY q_id
       |           ORDER BY $adcChain, vec_id) AS rk
       |       FROM a)
       |SELECT q_id, vec_id, adc, CAST(rk AS INT) AS rk FROM r WHERE rk <= 5
       |ORDER BY q_id, rk""".stripMargin
  }

  /** Fixed-point PageRank replayed as chained CTEs over ANY undirected
    * edge CTE named `e0` (columns a, b; a < b, distinct) — all bigint
    * floor-division arithmetic, so the replay is exact. `edgeCtes` is the
    * WITH-prefix that defines e0; `outCol` names the vertex column of the
    * (vertex, rank_fp) result. */
  private def pagerankChainSql(edgeCtes: String, iters: Int,
                               outCol: String): String = {
    val its = (1 to iters).map { i =>
      s"""c$i AS (SELECT d.dst, CAST(sum(r${i - 1}.rank // d.deg) AS BIGINT) AS s
         |      FROM d JOIN r${i - 1} ON r${i - 1}.v = d.src GROUP BY d.dst),
         |r$i AS (SELECT v.v, tp.t + (85 * coalesce(c$i.s, 0)) // 100 AS rank
         |      FROM v CROSS JOIN tp LEFT JOIN c$i ON c$i.dst = v.v)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $edgeCtes,
       |d0 AS (SELECT a AS src, b AS dst FROM e0
       |       UNION ALL SELECT b, a FROM e0),
       |dg AS (SELECT src, count(*) AS deg FROM d0 GROUP BY src),
       |d AS (SELECT d0.src, d0.dst, dg.deg FROM d0 JOIN dg ON dg.src = d0.src),
       |v AS (SELECT DISTINCT src AS v FROM d0),
       |nn AS (SELECT count(*) AS n FROM v),
       |tp AS (SELECT (15 * 1000000000000) // (100 * n) AS t,
       |              1000000000000 // n AS r0v FROM nn),
       |r0 AS (SELECT v.v, tp.r0v AS rank FROM v CROSS JOIN tp),
       |$its
       |SELECT r$iters.v AS $outCol, r$iters.rank AS rank_fp FROM r$iters
       |ORDER BY rank DESC, v LIMIT 20""".stripMargin
  }

  /** q133 oracle: the PageRank chain over the urgent co-purchase graph. */
  private def pagerankOracleSql(iters: Int): String =
    pagerankChainSql(
      """op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |      WHERE o_orderpriority = '1-URGENT'),
        |e0 AS (SELECT DISTINCT a.p AS a, b.p AS b
        |       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p)""".stripMargin,
      iters, "part")

  def oracleSql: Map[String, String] = {
    val toks = "list_filter(string_split(text,' '), x -> x <> '')"
    val stop = s"list_filter($toks, x -> x='the' OR x='a' OR x='of' OR x='and' OR x='to' OR x='in' OR x='is')"
    val moneyV = "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)"
    val cosine = (a: String, b: String) =>
      s"list_inner_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[])) / " +
        s"(sqrt(list_inner_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[]))) * " +
        s"sqrt(list_inner_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[]))))"
    // q31: replicate HyperplaneSig's deterministic plane lattice; each
    // component is an exact small-integer/1000.0 division, so embedding it
    // as `<int>/1000.0` reproduces the identical IEEE double in DuckDB.
    val planeList = (p: Int) => (0 until 64).map { i =>
      val c = ((p * 1009 + i * 9176 + 917) * 2654435761L) % 2001 - 1000
      s"$c/1000.0"
    }.mkString("[", ", ", "]")
    val hyperSig = (v: String) => (0 until 8).map { p =>
      s"(CASE WHEN list_inner_product(CAST($v AS DOUBLE[]), ${planeList(p)}) >= 0" +
        s" THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    // q148/q149: the integer-exact two-round Lloyd chain (quantize →
    // seed assign → centroid update → reassign); shared so the SemDeDup
    // pair query replays the identical clustering
    val kmeansCtes =
      """q AS (SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |                   x -> CAST(floor(x * 1024) AS BIGINT)) AS qv
        |  FROM embeddings),
        |e AS (SELECT vec_id, unnest(qv) AS x, unnest(range(len(qv))) AS d FROM q),
        |c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, d, x AS c FROM e WHERE vec_id < 4),
        |a1 AS (SELECT e.vec_id, c0.cid, sum((e.x - c0.c) * (e.x - c0.c)) AS dist
        |       FROM e JOIN c0 ON e.d = c0.d GROUP BY e.vec_id, c0.cid),
        |s1 AS (SELECT vec_id, cid FROM (
        |         SELECT vec_id, cid,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        |         FROM a1) WHERE rn = 1),
        |c1 AS (SELECT s1.cid, e.d,
        |         CAST(floor(CAST(sum(e.x) AS DOUBLE) / count(*)) AS BIGINT) AS c
        |       FROM e JOIN s1 ON e.vec_id = s1.vec_id GROUP BY s1.cid, e.d),
        |a2 AS (SELECT e.vec_id, c1.cid, sum((e.x - c1.c) * (e.x - c1.c)) AS dist
        |       FROM e JOIN c1 ON e.d = c1.d GROUP BY e.vec_id, c1.cid),
        |s2 AS (SELECT vec_id, cid FROM (
        |         SELECT vec_id, cid,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        |         FROM a2) WHERE rn = 1)""".stripMargin
    // q27: language-ID scores generated from the same profile table the
    // Spark expression uses (TextOps.LangProfiles); tie-break = greatest
    // language code, matching Spark's greatest() over (score, lang) structs.
    val langs = graft.functions.TextOps.LangProfiles.toSeq.sortBy(_._1)
    val langScores = langs.map { case (l, gs) =>
      s"(${gs.map(g => s"contains(text,'$g')::INT").mkString(" + ")}) AS s_$l"
    }.mkString(", ")
    val langBest = s"greatest(${langs.map("s_" + _._1).mkString(", ")})"
    val langWinner = langs.reverse.init
      .map { case (l, _) => s"WHEN s_$l = ms THEN '$l'" }
      .mkString(" ") + s" ELSE '${langs.head._1}'"
    // q55: the cross-engine MinHash pipeline replayed stage by stage —
    // sha-derived 60-bit shingle hashes, the (2j+1, 7919(j+1)) mod 2^31-1
    // permutation family (MinHashSig), band keys as joined minhash values.
    val minhashTerm = (j: Int) =>
      s"list_min(list_transform(sh, h -> ((h % 2147483647) * ${2 * j + 1} + ${7919 * (j + 1)}) % 2147483647))"
    val minhashSigs = (0 until 16).map(j => s"${minhashTerm(j)} AS m$j").mkString(", ")
    val minhashKeys = (0 until 4).map(b =>
      (0 until 4).map(j => s"CAST(m${4 * b + j} AS VARCHAR)")
        .mkString(" || '_' || ") + s" AS b$b").mkString(", ")
    // q56: the deterministic IVF centroid lattice as exact-rational SQL
    // literals (same <int>/1000.0 trick as q31's hyperplanes); cell
    // assignment replays NearestCentroid's argmax-dot with lowest-index
    // tie-break as an ascending CASE over precomputed dots.
    val centList = (p: Int) => (0 until 64)
      .map(i => s"${graft.operators.Similarity.ivfLatticeInt(p, i)}/1000.0")
      .mkString("[", ", ", "]")
    val centDot = (v: String, p: Int) =>
      s"list_inner_product(CAST($v AS DOUBLE[]), ${centList(p)})"
    val cellDots = (0 until 8).map(p => s"${centDot("embedding", p)} AS d$p").mkString(", ")
    val cellCase = "CASE " +
      (0 until 8).map(p => s"WHEN d$p = m THEN $p").mkString(" ") + " END"
    val qCentDots = (0 until 8)
      .map(p => s"SELECT $p AS cid, ${centDot("qv", p)} AS dq FROM q")
      .mkString(" UNION ALL ")
    // q57/q58: the verifiable simhash fingerprint as a reusable CTE chain —
    // sha-derived 60-bit token hashes (multiset), per-bit ±1 votes, packed
    // sign bits; zero-token docs get fingerprint 0 (matches SimHashOf([])).
    val simhashFp =
      s"""tok AS (SELECT doc_id, unnest($toks) AS tk FROM documents),
         |th AS (SELECT doc_id, ('0x' || substr(sha256(tk), 1, 15))::BIGINT AS h FROM tok),
         |v AS (SELECT doc_id, i, CAST(sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS vote
         |      FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS i) g GROUP BY doc_id, i),
         |fp0 AS (SELECT doc_id, CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END) AS BIGINT) AS simhash
         |        FROM v GROUP BY doc_id),
         |fp AS (SELECT d.doc_id, coalesce(fp0.simhash, 0) AS simhash
         |       FROM documents d LEFT JOIN fp0 ON d.doc_id = fp0.doc_id)""".stripMargin
    // q60/q61: gaps-and-islands sessions in microseconds (epoch_us floors
    // TIMESTAMP_NS exactly like the engine's nanos-div-1000 conversion).
    val sessionCte =
      s"""e AS (SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events),
         |g AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
         |                       OR us - lag(us) OVER w > 43200000000 THEN 1 ELSE 0 END AS new_s
         |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         |sess AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
         |                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM g)""".stripMargin
    Map(
      "q01_watermark" ->
        """SELECT l_suppkey, CAST(max(l_shipdate) AS DATE) AS latest_date
          |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
      "q02_dedup_window" ->
        """SELECT user_id, event_date, event_id, value FROM (
          |  SELECT user_id, CAST(ts AS DATE) AS event_date, event_id, value,
          |         row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
          |                            ORDER BY value DESC, event_id) AS rn
          |  FROM events) WHERE rn = 1 ORDER BY user_id, event_date""".stripMargin,
      "q03_dedup_maxby" ->
        """SELECT l_orderkey,
          |  max_by(l_partkey, l_linenumber*1000000000000000 + l_partkey*1000
          |                    + CAST(l_quantity AS BIGINT)) AS last_partkey,
          |  max_by(l_quantity, l_linenumber*1000000000000000 + l_partkey*1000
          |                     + CAST(l_quantity AS BIGINT)) AS last_quantity
          |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
      "q04_distinct" ->
        "SELECT DISTINCT event_type FROM events ORDER BY event_type",
      "q05_star_join" ->
        """SELECT r_name,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          |           (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
          |  count(*) AS n_items
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY r_name ORDER BY r_name""".stripMargin,
      "q06_agg_pricing" ->
        """SELECT l_returnflag, l_linestatus,
          |  sum(l_quantity) AS sum_qty,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          |           (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price,
          |  count(*) AS count_order,
          |  sum(l_quantity) / CAST(count(*) AS DOUBLE) AS avg_qty
          |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
          |GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin,
      "q07_semi_join" ->
        """SELECT o_orderkey, o_totalprice FROM orders
          |WHERE EXISTS (SELECT 1 FROM lineitem
          |              WHERE l_orderkey = o_orderkey
          |                AND l_shipdate >= TIMESTAMP '2001-06-01')
          |ORDER BY o_orderkey""".stripMargin,
      "q08_anti_join" ->
        """SELECT c_custkey, c_name FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
          |ORDER BY c_custkey""".stripMargin,
      "q09_upsert" ->
        """WITH target AS (
          |  SELECT l_orderkey, l_linenumber, l_extendedprice, 'tgt' AS src
          |  FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01'),
          |updates AS (
          |  SELECT l_orderkey, l_linenumber, l_extendedprice, 'upd' AS src
          |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          |                  AND l_shipdate < TIMESTAMP '1999-01-01'),
          |merged AS (
          |  SELECT * FROM target t
          |  WHERE NOT EXISTS (SELECT 1 FROM updates u
          |                    WHERE u.l_orderkey = t.l_orderkey
          |                      AND u.l_linenumber = t.l_linenumber)
          |  UNION ALL SELECT * FROM updates)
          |SELECT src, count(*) AS n_rows,
          |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
          |FROM merged GROUP BY src ORDER BY src""".stripMargin,
      "q10_recency_merge" ->
        s"""WITH dedup_t AS (
           |  SELECT user_id, event_date, ts, value, event_id FROM (
           |    SELECT user_id, CAST(ts AS DATE) AS event_date, ts, value, event_id,
           |           row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
           |                              ORDER BY value DESC, event_id) AS rn
           |    FROM events WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-15')
           |  WHERE rn = 1),
           |dedup_u AS (
           |  SELECT user_id, event_date, ts, value, event_id FROM (
           |    SELECT user_id, CAST(ts AS DATE) AS event_date, ts, value, event_id,
           |           row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
           |                              ORDER BY value DESC, event_id) AS rn
           |    FROM events WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-25')
           |  WHERE rn = 1),
           |winners AS (
           |  SELECT u.* FROM dedup_u u
           |  LEFT JOIN dedup_t t ON u.user_id = t.user_id AND u.event_date = t.event_date
           |  WHERE t.ts IS NULL OR u.ts >= t.ts),
           |merged AS (
           |  SELECT * FROM dedup_t t
           |  WHERE NOT EXISTS (SELECT 1 FROM winners w
           |                    WHERE w.user_id = t.user_id AND w.event_date = t.event_date)
           |  UNION ALL SELECT * FROM winners)
           |SELECT event_date, count(*) AS n_rows, $moneyV AS total_value
           |FROM merged GROUP BY event_date ORDER BY event_date""".stripMargin,
      "q11_union" ->
        """SELECT event_id, event_type, value FROM events WHERE event_type = 'click'
          |UNION ALL
          |SELECT event_id, event_type, value FROM events WHERE event_type = 'purchase'
          |ORDER BY event_id""".stripMargin,
      "q12_transforms" ->
        """SELECT event_id,
          |  strftime(ts, '%Y-%m-%d') AS day_str,
          |  concat_ws('::', user_id, event_type) AS ckey,
          |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
          |  replace(event_type, '''', '''''') AS escaped,
          |  upper(event_type) AS etype_uc
          |FROM events ORDER BY event_id""".stripMargin,
      "q13_watermark_windows" ->
        """WITH latest AS (
          |  SELECT l_suppkey, CAST(max(l_shipdate) AS DATE) AS latest_date
          |  FROM lineitem GROUP BY l_suppkey)
          |SELECT s_suppkey AS l_suppkey,
          |  coalesce(latest_date, DATE '1970-01-01') AS latest_date,
          |  coalesce(latest_date, DATE '1970-01-01') + (1 - 7) AS target_start,
          |  DATE '1998-12-01' - 1 AS target_end,
          |  coalesce(latest_date, DATE '1970-01-01') + (1 - 7) > DATE '1998-12-01' - 1 AS skip
          |FROM supplier LEFT JOIN latest ON s_suppkey = l_suppkey
          |ORDER BY l_suppkey""".stripMargin,
      "q14_window_lag" ->
        s"""WITH daily AS (
           |  SELECT user_id, CAST(ts AS DATE) AS event_date, $moneyV AS daily
           |  FROM events GROUP BY 1, 2)
           |SELECT user_id, event_date, daily,
           |  lag(daily) OVER (PARTITION BY user_id ORDER BY event_date) AS prev_daily,
           |  daily - lag(daily) OVER (PARTITION BY user_id ORDER BY event_date) AS delta
           |FROM daily ORDER BY user_id, event_date""".stripMargin,
      "q15_topk_per_user" ->
        """SELECT user_id, rn, event_id, value FROM (
          |  SELECT user_id, event_id, value,
          |         row_number() OVER (PARTITION BY user_id
          |                            ORDER BY value DESC, event_id) AS rn
          |  FROM events) WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin,
      "q16_rollup" ->
        s"""SELECT coalesce(event_type, '<all>') AS event_type,
           |  coalesce(event_date, '<all>') AS event_date,
           |  count(*) AS n, $moneyV AS total_value
           |FROM (SELECT event_type, strftime(ts, '%Y-%m-%d') AS event_date, value FROM events)
           |GROUP BY ROLLUP(event_type, event_date)
           |ORDER BY 1, 2""".stripMargin,
      "q17_distinct_agg" ->
        """SELECT event_type, count(DISTINCT user_id) AS n_users
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      // the engine runs approx_count_distinct and reports whether the
      // estimate lands within the 20% (~4σ) sanity bound; the oracle
      // states the bound holds — a broken HLL flips approx_ok and
      // hash-fails, while a healthy sketch passes with negligible
      // spurious-failure odds even on regenerated fixtures
      "q18_approx_distinct" ->
        """SELECT event_type, count(DISTINCT user_id) AS n_exact,
          |       true AS approx_ok
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "q19_intersect" ->
        """SELECT user_id FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-05'
          |INTERSECT
          |SELECT user_id FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-06'
          |ORDER BY user_id""".stripMargin,
      "q20_except" ->
        """SELECT user_id FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-05'
          |EXCEPT
          |SELECT user_id FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-06'
          |ORDER BY user_id""".stripMargin,
      "q21_dedup_exact" ->
        """SELECT sha256(text) AS content_hash, count(*) AS n_dups,
          |       min(doc_id) AS keep_id
          |FROM documents GROUP BY sha256(text) ORDER BY content_hash""".stripMargin,
      "q22_dedup_keep_first" ->
        """SELECT min(doc_id) AS doc_id FROM documents GROUP BY text
          |ORDER BY doc_id""".stripMargin,
      "q55_minhash_verifiable" ->
        s"""WITH toks AS (
           |  SELECT doc_id, $toks AS tk FROM documents),
           |sh0 AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    range(1, greatest(len(tk) - 2, 1) + 1),
           |    i -> ('0x' || substr(sha256(array_to_string(tk[i:i+2], ' ')), 1, 15))::BIGINT)) AS sh
           |  FROM toks),
           |sigs AS (SELECT doc_id, sh, $minhashSigs FROM sh0),
           |keys AS (SELECT doc_id, sh, $minhashKeys FROM sigs),
           |cand AS (
           |  SELECT a.doc_id AS id_a, c.doc_id AS id_b, a.sh AS sh_a, c.sh AS sh_b
           |  FROM keys a JOIN keys c ON a.doc_id < c.doc_id
           |   AND (a.b0 = c.b0 OR a.b1 = c.b1 OR a.b2 = c.b2 OR a.b3 = c.b3))
           |SELECT id_a, id_b, jaccard FROM (
           |  SELECT id_a, id_b,
           |    CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) /
           |      (CAST(len(sh_a) + len(sh_b) AS DOUBLE) -
           |       CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)) AS jaccard
           |  FROM cand)
           |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,
      // q24/q144: the whole pipeline — set sizes, count bands, minhash
      // band keys, the exact intersect — is defined over the sha-60
      // token-hash SETS, so the oracle replays it bit-for-bit (Jaccard
      // over hashed sets ≡ string-set Jaccard absent 60-bit collisions,
      // and both engines hash identically either way).
      "q24_jaccard_pairs" ->
        s"""WITH w AS (
           |  SELECT doc_id,
           |         list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))  AS ws
           |  FROM documents),
           |b AS (SELECT doc_id,
           |             list_distinct(list_transform(ws, t -> ('0x' || substr(sha256(t), 1, 15))::BIGINT)) AS sh
           |      FROM w),
           |s AS (SELECT doc_id, sh, len(sh) AS n,
           |             CAST(floor(len(sh) / 8) AS BIGINT) AS bucket
           |      FROM b WHERE len(sh) > 0),
           |sigs AS (SELECT doc_id, sh, n, bucket,
           |  ${(0 until 8).map(j => s"${minhashTerm(j)} AS m$j").mkString(", ")} FROM s),
           |keys AS (SELECT doc_id, sh, n, bucket,
           |  ${(0 until 4).map(bd => (0 until 2).map(j => s"CAST(m${2 * bd + j} AS VARCHAR)")
                 .mkString(" || '_' || ") + s" AS b$bd").mkString(", ")} FROM sigs),
           |cand AS (
           |  SELECT a.doc_id AS id_a, c.doc_id AS id_b, a.sh AS sh_a, c.sh AS sh_b,
           |         a.n + c.n AS nn
           |  FROM keys a JOIN keys c ON a.doc_id < c.doc_id AND a.bucket = c.bucket
           |   AND (a.b0 = c.b0 OR a.b1 = c.b1 OR a.b2 = c.b2 OR a.b3 = c.b3))
           |SELECT id_a, id_b, jaccard FROM (
           |  SELECT id_a, id_b,
           |    CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) /
           |      (CAST(nn AS DOUBLE) -
           |       CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)) AS jaccard
           |  FROM cand)
           |WHERE jaccard >= 0.6 ORDER BY id_a, id_b""".stripMargin,
      "q144_jaccard_bitset_exact" ->
        """WITH w AS (
          |  SELECT doc_id,
          |         list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))  AS ws
          |  FROM documents),
          |b AS (SELECT doc_id,
          |             list_distinct(list_transform(ws, t -> ('0x' || substr(sha256(t), 1, 15))::BIGINT)) AS sh
          |      FROM w),
          |s AS (SELECT doc_id, sh, len(sh) AS n,
          |             CAST(floor(len(sh) / 8) AS BIGINT) AS bucket
          |      FROM b WHERE len(sh) > 0)
          |SELECT id_a, id_b, jaccard FROM (
          |  SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
          |    CAST(len(list_intersect(a.sh, b2.sh)) AS DOUBLE) /
          |      (CAST(a.n + b2.n AS DOUBLE) -
          |       CAST(len(list_intersect(a.sh, b2.sh)) AS DOUBLE)) AS jaccard
          |  FROM s a JOIN s b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id)
          |WHERE jaccard >= 0.6 ORDER BY id_a, id_b""".stripMargin,
      "q26_text_quality" ->
        s"""WITH tk AS (
           |  SELECT doc_id, n_chars, text, $toks AS toks FROM documents)
           |SELECT doc_id, n_chars,
           |  CAST(len(toks) AS BIGINT) AS n_tokens,
           |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
           |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS avg_token_len,
           |  CAST(len($stop) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stop_ratio,
           |  CAST(len($stop) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 2.0
           |    + (CASE WHEN len(toks) BETWEEN 20 AND 400 THEN 1.0 ELSE 0.0 END)
           |    - CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
           |      / CAST(length(replace(text, ' ', '')) AS DOUBLE) AS quality
           |FROM tk ORDER BY doc_id""".stripMargin,
      "q27_langid" ->
        s"""SELECT doc_id, lang,
           |  CASE WHEN ms > 0 THEN (CASE $langWinner END) ELSE 'und' END AS lang_pred
           |FROM (SELECT doc_id, lang, $langScores, $langBest AS ms FROM documents)
           |ORDER BY doc_id""".stripMargin,
      "q31_ann_lsh" ->
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
           |SELECT vec_id, CAST(${hyperSig("embedding")} AS BIGINT) AS bucket,
           |       ${cosine("embedding", "qv")} AS sim
           |FROM embeddings, q
           |WHERE ${hyperSig("embedding")} = ${hyperSig("qv")}
           |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
      "q34_mm_decode" ->
        """SELECT doc_id,
          |  CAST(strlen(text) AS BIGINT) AS n_bytes,
          |  CAST(coalesce(list_sum(list_transform(range(1, strlen(text)+1),
          |         i -> ord(text[i]))), 0) AS DOUBLE)
          |    / greatest(strlen(text), 1) AS feat0,
          |  CAST(coalesce(list_sum(list_transform(range(1, strlen(text)+1),
          |         i -> (CASE WHEN i % 2 = 1 THEN 1 ELSE -1 END) * ord(text[i]))), 0) AS DOUBLE)
          |    / greatest(strlen(text), 1) AS feat1
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q28_token_counts" ->
        s"""SELECT doc_id,
           |  CAST(len($toks) AS BIGINT) AS n_ws_tokens,
           |  CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n_regex_tokens
           |FROM documents ORDER BY doc_id""".stripMargin,
      "q29_fingerprint" ->
        """SELECT doc_id,
          |  list_reduce(list_prepend(CAST(0 AS BIGINT),
          |    list_transform(list_filter(string_split(substr(text, 1, 64), ''), c -> c <> ''),
          |                   c -> CAST(ascii(c) AS BIGINT))),
          |    (h, c) -> (h * 31 + c) % 1073741824) AS fp
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q30_cosine_topk" ->
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
           |SELECT vec_id, ${cosine("embedding", "qv")} AS sim
           |FROM embeddings, q WHERE vec_id <> 0
           |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
      "q45_sql_cosine" ->
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
           |SELECT vec_id, ${cosine("embedding", "qv")} AS sim
           |FROM embeddings, q WHERE vec_id <> 0
           |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
      "q32_neardup_embeddings" ->
        s"""SELECT block, id_a, id_b, sim FROM (
           |  SELECT a.label AS block, a.vec_id AS id_a, b.vec_id AS id_b,
           |         ${cosine("a.embedding", "b.embedding")} AS sim
           |  FROM embeddings a JOIN embeddings b
           |    ON a.label = b.label AND a.vec_id < b.vec_id)
           |WHERE sim >= 0.35 ORDER BY id_a, id_b""".stripMargin,
      "q33_multimodal_meta" ->
        """SELECT doc_id, label,
          |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS blob_bytes,
          |  substr(text, 1, 16) AS head16, lang
          |FROM documents JOIN embeddings ON doc_id = vec_id
          |ORDER BY doc_id""".stripMargin,
      "q35_stream_daily" ->
        s"""SELECT CAST(ts AS DATE) AS event_date, event_type,
           |  count(*) AS n, $moneyV AS total_value
           |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "q36_asof_join" ->
        """SELECT user_id, event_id,
          |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
          |  strftime(prev_click_ts, '%Y-%m-%d %H:%M:%S') AS prev_click_s
          |FROM (
          |  SELECT user_id, event_id, ts, event_type,
          |         max(CASE WHEN event_type='click' THEN ts END) OVER
          |           (PARTITION BY user_id ORDER BY ts, event_id
          |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click_ts
          |  FROM events)
          |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
      "q37_range_frame" ->
        """SELECT event_id, user_id, n_prev_hour FROM (
          |  SELECT event_id, user_id,
          |         count(*) OVER (PARTITION BY user_id
          |                        ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
          |                        RANGE BETWEEN 3600 PRECEDING AND 1 PRECEDING) AS n_prev_hour
          |  FROM events) ORDER BY event_id""".stripMargin,
      "q38_csv_roundtrip" ->
        s"""SELECT event_type, count(*) AS n, $moneyV AS total_value
           |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "q39_sql_params" ->
        s"""SELECT event_type, count(*) AS n, $moneyV AS total_value
           |FROM events WHERE event_type <> 'view' AND value >= 10
           |GROUP BY event_type ORDER BY event_type""".stripMargin,
      "q103_csv_infer" ->
        s"""SELECT event_type, count(DISTINCT user_id) AS n_users,
           |  $moneyV AS total_value
           |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "q108_hard_negatives" ->
        s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
           |base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 3),
           |c AS (SELECT q_id, vec_id, ${cosine("embedding", "qv")} AS cos FROM base, q),
           |r AS (SELECT q_id, vec_id, cos, row_number() OVER
           |        (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM c),
           |p AS (SELECT q_id, vec_id AS pos_id, cos AS pos_cos FROM r WHERE rk = 1),
           |n AS (SELECT r.q_id, p.pos_id, p.pos_cos, r.vec_id AS neg_id,
           |        r.cos AS neg_cos, row_number() OVER
           |          (PARTITION BY r.q_id ORDER BY r.cos DESC, r.vec_id) AS nrk
           |      FROM r JOIN p ON r.q_id = p.q_id
           |      WHERE r.rk > 1 AND r.cos <= p.pos_cos - 0.05)
           |SELECT q_id, pos_id, pos_cos, neg_id, neg_cos, CAST(nrk AS INT) AS nrk
           |FROM n WHERE nrk <= 5 ORDER BY q_id, nrk""".stripMargin,
      "q107_stream_merge_sink" ->
        s"""SELECT user_id, count(*) AS n_events, $moneyV AS total_value,
           |  max(epoch_us(ts)) AS latest_us
           |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
      "q111_snapshot_diff" ->
        """WITH e AS (SELECT event_id, event_type, value FROM events),
          |a AS (SELECT event_id, event_type AS type_a, value AS value_a
          |      FROM e WHERE event_id % 7 <> 1),
          |b AS (SELECT event_id, event_type AS type_b,
          |        CASE WHEN event_id % 11 = 0 THEN value + 1.0 ELSE value END AS value_b
          |      FROM e WHERE event_id % 5 <> 2),
          |d AS (SELECT coalesce(a.event_id, b.event_id) AS event_id,
          |        CASE WHEN type_b IS NULL THEN 'removed'
          |             WHEN type_a IS NULL THEN 'added'
          |             WHEN value_a <> value_b THEN 'changed'
          |             ELSE 'unchanged' END AS status,
          |        value_a, value_b
          |      FROM a FULL OUTER JOIN b ON a.event_id = b.event_id)
          |SELECT event_id, status, value_a, value_b FROM d
          |WHERE status <> 'unchanged' ORDER BY event_id""".stripMargin,
      "q112_cdc_apply" ->
        """WITH log AS (SELECT user_id, ts, event_id, value,
          |  CASE event_type WHEN 'click' THEN 'I' WHEN 'view' THEN 'U'
          |       ELSE 'D' END AS op FROM events),
          |r AS (SELECT user_id, op, value, row_number() OVER
          |        (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          |      FROM log)
          |SELECT user_id, op, value FROM r WHERE rn = 1 AND op <> 'D'
          |ORDER BY user_id""".stripMargin,
      "q110_bm25_topk" ->
        s"""WITH b AS (SELECT doc_id, len($toks) AS dl,
           |  len(list_filter($toks, x -> x = 'join')) AS tf_join,
           |  len(list_filter($toks, x -> x = 'stream')) AS tf_stream,
           |  len(list_filter($toks, x -> x = 'window')) AS tf_window
           |  FROM documents),
           |g AS (SELECT count(*) AS n, sum(dl) AS sumdl,
           |        sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join,
           |        sum(CASE WHEN tf_stream > 0 THEN 1 ELSE 0 END) AS df_stream,
           |        sum(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS df_window
           |      FROM b),
           |sc AS (SELECT doc_id, tf_join, tf_stream, tf_window,
           |  (CAST(n AS DOUBLE) - CAST(df_join AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(df_join AS DOUBLE) + CAST(0.5 AS DOUBLE))
           |    * (CAST(tf_join AS DOUBLE) * CAST(2.2 AS DOUBLE))
           |    / (CAST(tf_join AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))
           |  + (CAST(n AS DOUBLE) - CAST(df_stream AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(df_stream AS DOUBLE) + CAST(0.5 AS DOUBLE))
           |    * (CAST(tf_stream AS DOUBLE) * CAST(2.2 AS DOUBLE))
           |    / (CAST(tf_stream AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))
           |  + (CAST(n AS DOUBLE) - CAST(df_window AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(df_window AS DOUBLE) + CAST(0.5 AS DOUBLE))
           |    * (CAST(tf_window AS DOUBLE) * CAST(2.2 AS DOUBLE))
           |    / (CAST(tf_window AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))
           |  AS score
           |  FROM b, g)
           |SELECT doc_id, score, tf_join, tf_stream, tf_window FROM sc
           |WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
      "q109_inverted_index" ->
        s"""WITH t0 AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
           |t AS (SELECT DISTINCT doc_id, tok FROM t0),
           |r AS (SELECT tok, doc_id, row_number() OVER
           |        (PARTITION BY tok ORDER BY doc_id) AS rn FROM t),
           |g AS (SELECT tok, count(*) AS df,
           |        array_to_string(list_sort(list(doc_id) FILTER (WHERE rn <= 10)), ',')
           |          AS postings
           |      FROM r GROUP BY tok)
           |SELECT tok, df, postings FROM g WHERE df >= 25 ORDER BY tok""".stripMargin,
      "q104_corpus_shuffle" ->
        """WITH k AS (SELECT doc_id,
          |  ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || ':42'), 1, 15))::BIGINT
          |    AS shuffle_key FROM documents),
          |r AS (SELECT doc_id, shuffle_key,
          |        row_number() OVER (ORDER BY shuffle_key, doc_id) AS pos FROM k)
          |SELECT doc_id, shuffle_key, pos, CAST((pos - 1) % 8 AS INT) AS shard
          |FROM r ORDER BY doc_id""".stripMargin,
      "q105_source_mixing" ->
        """WITH s AS (SELECT source, n_chars,
          |  ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 <
          |    (CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 100
          |                 WHEN 'src2' THEN 50 ELSE 20 END) AS keep,
          |  CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 100
          |              WHEN 'src2' THEN 50 ELSE 20 END AS rate
          |  FROM documents)
          |SELECT source, count(*) AS n_docs,
          |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          |  CAST(sum(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
          |  CAST(max(rate) AS BIGINT) AS target_pct
          |FROM s GROUP BY source ORDER BY source""".stripMargin,
      "q106_quality_gate" ->
        s"""WITH sc AS (SELECT doc_id, lang,
           |  CAST(len($stop) AS DOUBLE) / CAST(len($toks) AS DOUBLE) * 2.0
           |    + (CASE WHEN len($toks) BETWEEN 20 AND 400 THEN 1.0 ELSE 0.0 END)
           |    - CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
           |      / CAST(length(replace(text, ' ', '')) AS DOUBLE) AS quality
           |  FROM documents),
           |r AS (SELECT doc_id, lang, quality,
           |        row_number() OVER (ORDER BY quality DESC, doc_id) AS rk,
           |        count(*) OVER () AS n FROM sc)
           |SELECT doc_id, lang, quality, rk FROM r WHERE rk * 4 <= n
           |ORDER BY doc_id""".stripMargin,
      "q40_cube" ->
        s"""SELECT coalesce(event_type, '<all>') AS event_type,
           |  coalesce(event_date, '<all>') AS event_date,
           |  count(*) AS n, $moneyV AS total_value
           |FROM (SELECT event_type, strftime(ts, '%Y-%m-%d') AS event_date, value FROM events)
           |GROUP BY CUBE(event_type, event_date)
           |ORDER BY 1, 2""".stripMargin,
      "q44_mm_frames" ->
        """WITH d AS (SELECT doc_id, octet_length(CAST(text AS BLOB)) AS len FROM documents)
          |SELECT doc_id, CAST(off // 128 AS INT) AS frame_no, off AS byte_off,
          |       CAST(least(off + 64, len) - off AS BIGINT) AS n_bytes
          |FROM d, unnest(range(0, greatest(len, 1), 128)) AS t(off)
          |ORDER BY doc_id, frame_no""".stripMargin,
      "q53_shipping_priority" ->
        """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
          |  o_orderpriority,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          |           (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |WHERE c_mktsegment = 'BUILDING'
          |  AND o_orderdate < TIMESTAMP '1995-03-15'
          |  AND l_shipdate > TIMESTAMP '1995-03-15'
          |GROUP BY 1, 2, 3
          |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
      "q54_having" ->
        """SELECT l_orderkey, count(*) AS n_items,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM lineitem GROUP BY l_orderkey
          |HAVING count(*) >= 5 ORDER BY l_orderkey""".stripMargin,
      "q49_window_variety" ->
        """SELECT user_id, event_id,
          |  ntile(4) OVER w AS quartile,
          |  percent_rank() OVER w AS pr,
          |  cume_dist() OVER w AS cd
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
          |ORDER BY event_id""".stripMargin,
      "q50_pivot" ->
        """SELECT user_id,
          |  coalesce(CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (event_type='click') AS DOUBLE), 0.0) AS click,
          |  coalesce(CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (event_type='purchase') AS DOUBLE), 0.0) AS purchase,
          |  coalesce(CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (event_type='view') AS DOUBLE), 0.0) AS view
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
      "q51_from_json" ->
        """SELECT event_type,
          |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          |  count(json_extract_string(props, '$.k')) AS n_k
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "q46_scalar_subquery" ->
        """SELECT o_orderkey, o_totalprice FROM orders
          |WHERE o_totalprice > 1.5 * (
          |  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |         / CAST(count(o_totalprice) AS DOUBLE) FROM orders)
          |ORDER BY o_orderkey""".stripMargin,
      "q47_grouping_sets" ->
        s"""SELECT coalesce(event_type, '<all>') AS event_type,
           |  coalesce(event_date, '<all>') AS event_date,
           |  count(*) AS n, $moneyV AS total_value
           |FROM (SELECT event_type, strftime(ts, '%Y-%m-%d') AS event_date, value FROM events)
           |GROUP BY GROUPING SETS ((event_type), (event_date))
           |ORDER BY 1, 2""".stripMargin,
      "q48_percentiles" ->
        """SELECT event_type, quantile_cont(value, 0.5) AS p50,
          |       quantile_cont(value, 0.9) AS p90
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "q41_stream_stateful" ->
        """SELECT user_id, max(CAST(ts AS DATE)) AS latest_date
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
      "q42_salted_agg" ->
        s"""SELECT event_type, count(*) AS n, $moneyV AS total_value
           |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "q145_skew_salted_join" ->
        """WITH d AS (SELECT event_type, (min(value) + max(value)) / 2 AS mid_v
          |           FROM events GROUP BY event_type)
          |SELECT e.event_type, count(*) AS n,
          |  CAST(sum(CASE WHEN e.value > d.mid_v THEN 1 ELSE 0 END) AS BIGINT) AS n_above
          |FROM events e JOIN d USING (event_type)
          |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
      "q56_ivf_verifiable" ->
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |d AS (SELECT vec_id, embedding, $cellDots FROM embeddings WHERE vec_id <> 0),
           |a AS (SELECT vec_id, embedding, CAST($cellCase AS BIGINT) AS cell
           |      FROM (SELECT *, greatest(${(0 until 8).map("d" + _).mkString(", ")}) AS m FROM d)),
           |cq AS ($qCentDots),
           |probe AS (SELECT cid FROM (
           |  SELECT cid, row_number() OVER (ORDER BY dq DESC, cid) AS rn FROM cq)
           |  WHERE rn <= 2)
           |SELECT vec_id, cell, ${cosine("embedding", "qv")} AS sim
           |FROM a, q WHERE cell IN (SELECT cid FROM probe)
           |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
      "q57_simhash_verifiable" ->
        s"""WITH $simhashFp
           |SELECT doc_id, simhash FROM fp ORDER BY doc_id""".stripMargin,
      "q58_simhash_pairs_verifiable" ->
        s"""WITH $simhashFp,
           |banded AS (SELECT doc_id, simhash, band, (simhash >> (band * 15)) & 32767 AS bits
           |           FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b),
           |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
           |                a.simhash AS sh_a, c.simhash AS sh_b
           |         FROM banded a JOIN banded c
           |           ON a.band = c.band AND a.bits = c.bits AND a.doc_id < c.doc_id)
           |SELECT id_a, id_b, hamming FROM (
           |  SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming FROM cand)
           |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin,
      "q59_kmv_distinct" ->
        """WITH h AS (SELECT DISTINCT event_type,
          |    ('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
          |  FROM events),
          |r AS (SELECT event_type, h,
          |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM h),
          |s AS (SELECT event_type, max(rn) AS nd,
          |        max(CASE WHEN rn = 16 THEN h END) AS h16,
          |        max(CASE WHEN rn <= 16 THEN h END) AS kth FROM r GROUP BY event_type),
          |x AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
          |      FROM events GROUP BY event_type)
          |SELECT s.event_type,
          |  CASE WHEN nd < 16 THEN CAST(nd AS DOUBLE)
          |       ELSE 17293822569102704640.0 / CAST(h16 AS DOUBLE) END AS est_distinct,
          |  kth AS kth_min, n_exact
          |FROM s JOIN x ON s.event_type = x.event_type
          |ORDER BY s.event_type""".stripMargin,
      "q60_sessionize" ->
        s"""WITH $sessionCte
           |SELECT user_id, session_id, min(us) AS session_start_us,
           |  max(us) AS session_end_us, count(*) AS n_events,
           |  $moneyV AS total_value
           |FROM sess GROUP BY user_id, session_id
           |ORDER BY user_id, session_id""".stripMargin,
      "q61_session_window" ->
        s"""WITH $sessionCte
           |SELECT user_id, min(us) AS session_start_us,
           |  max(us) + 43200000000 AS session_end_us, count(*) AS n_events,
           |  $moneyV AS total_value
           |FROM sess GROUP BY user_id, session_id
           |ORDER BY user_id, session_start_us""".stripMargin,
      "q62_interval_join" ->
        """WITH o AS (SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od FROM orders)
          |SELECT o_custkey, count(*) AS n_pairs,
          |  CAST(min(abs(date_diff('day', a_od, b_od))) AS BIGINT) AS min_gap_days
          |FROM (SELECT a.o_custkey, a.od AS a_od, b.od AS b_od
          |      FROM o a JOIN o b ON a.o_custkey = b.o_custkey
          |        AND a.o_orderkey < b.o_orderkey
          |        AND abs(date_diff('day', a.od, b.od)) <= 3)
          |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
      "q63_stratified_sample" ->
        s"""SELECT event_type, count(*) AS n_sampled, $moneyV AS total_value
           |FROM events
           |WHERE ('0x' || substr(sha256(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 100 <
           |      (CASE event_type WHEN 'purchase' THEN 100 WHEN 'click' THEN 25 ELSE 10 END)
           |GROUP BY event_type ORDER BY event_type""".stripMargin,
      "q65_decontaminate" ->
        s"""WITH tk AS (SELECT doc_id, source, $toks AS tk FROM documents
           |            WHERE len($toks) > 0),
           |sh0 AS (SELECT doc_id, source, list_distinct(list_transform(
           |    range(1, greatest(len(tk) - 3, 1) + 1),
           |    i -> ('0x' || substr(sha256(array_to_string(tk[i:i+3], ' ')), 1, 15))::BIGINT)) AS sh
           |  FROM tk),
           |t AS (SELECT doc_id, unnest(sh) AS h FROM sh0 WHERE source <> 'src0'),
           |b AS (SELECT DISTINCT unnest(sh) AS h FROM sh0 WHERE source = 'src0')
           |SELECT doc_id, count(DISTINCT t.h) AS n_hits
           |FROM t JOIN b ON t.h = b.h
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "q66_token_topk" ->
        s"""SELECT tok, count(*) AS n
           |FROM (SELECT unnest($toks) AS tok FROM documents)
           |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin,
      "q67_neardup_clusters" ->
        s"""WITH RECURSIVE $simhashFp,
           |banded AS (SELECT doc_id, simhash, band, (simhash >> (band * 15)) & 32767 AS bits
           |           FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b),
           |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
           |                a.simhash AS sh_a, c.simhash AS sh_b
           |         FROM banded a JOIN banded c
           |           ON a.band = c.band AND a.bits = c.bits AND a.doc_id < c.doc_id),
           |pe AS (SELECT id_a, id_b FROM (
           |    SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming FROM cand)
           |  WHERE hamming <= 3),
           |ed AS (SELECT id_a AS src, id_b AS dst FROM pe
           |       UNION ALL SELECT id_b, id_a FROM pe),
           |nodes AS (SELECT DISTINCT src AS id FROM ed),
           |reach(id, lbl) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.dst, r.lbl FROM reach r JOIN ed e ON e.src = r.id),
           |comp AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
           |SELECT cluster_id, count(*) AS n_members
           |FROM comp GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
      "q68_per_group_cap" ->
        """SELECT doc_id, lang FROM (
          |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
          |    ORDER BY ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
          |             doc_id) AS rn
          |  FROM documents) WHERE rn <= 5 ORDER BY lang, doc_id""".stripMargin,
      "q70_mm_resize" ->
        """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
          |  CAST(CASE WHEN strlen(text) = 0 THEN 0 ELSE 16 END AS BIGINT) AS thumb_len,
          |  CAST(CASE WHEN strlen(text) = 0 THEN 0 ELSE
          |    list_sum(list_transform(range(0, 16),
          |      i -> ord(text[CAST(i * strlen(text) // 16 AS INT) + 1]))) END AS BIGINT) AS thumb_sum,
          |  CAST(CASE WHEN strlen(text) = 0 THEN -1 ELSE ord(text[1]) END AS BIGINT) AS thumb_head,
          |  CAST(CASE WHEN strlen(text) = 0 THEN -1 ELSE
          |    ord(text[CAST(15 * strlen(text) // 16 AS INT) + 1]) END AS BIGINT) AS thumb_tail
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q69_scd2_history" ->
        """SELECT user_id, event_id, value, valid_from_us, valid_to_us,
          |       valid_to_us IS NULL AS is_current
          |FROM (SELECT user_id, event_id, value, epoch_us(ts) AS valid_from_us,
          |             lead(epoch_us(ts)) OVER (PARTITION BY user_id
          |               ORDER BY epoch_us(ts), event_id) AS valid_to_us
          |      FROM events)
          |ORDER BY user_id, valid_from_us, event_id""".stripMargin,
      "q64_bloom_semijoin" ->
        """SELECT l_returnflag, count(*) AS n,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM lineitem
          |WHERE EXISTS (SELECT 1 FROM orders
          |              WHERE o_orderkey = l_orderkey
          |                AND o_orderpriority = '1-URGENT')
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "q71_unpivot" ->
        """WITH a AS (SELECT l_returnflag,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS quantity,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS extendedprice,
          |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS discount,
          |  CAST(sum(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS tax
          |  FROM lineitem GROUP BY l_returnflag)
          |SELECT l_returnflag, measure, total FROM (
          |  SELECT l_returnflag, 'quantity' AS measure, quantity AS total FROM a
          |  UNION ALL SELECT l_returnflag, 'extendedprice', extendedprice FROM a
          |  UNION ALL SELECT l_returnflag, 'discount', discount FROM a
          |  UNION ALL SELECT l_returnflag, 'tax', tax FROM a)
          |ORDER BY l_returnflag, measure""".stripMargin,
      "q72_exists_subquery" ->
        """SELECT c_custkey, c_name FROM customer c
          |WHERE EXISTS (SELECT 1 FROM orders o
          |              WHERE o.o_custkey = c.c_custkey
          |                AND o.o_orderpriority = '1-URGENT'
          |                AND o.o_totalprice > 150000)
          |  AND NOT EXISTS (SELECT 1 FROM orders o2
          |                  WHERE o2.o_custkey = c.c_custkey
          |                    AND o2.o_orderstatus = 'F'
          |                    AND o2.o_totalprice > 300000)
          |ORDER BY c_custkey""".stripMargin,
      "q73_posexplode" ->
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents WHERE doc_id % 50 = 0)
           |SELECT doc_id, CAST(pos AS INT) AS pos, tok FROM
           |  (SELECT doc_id, unnest(range(len(tk))) AS pos, unnest(tk) AS tok FROM t)
           |ORDER BY doc_id, pos""".stripMargin,
      "q74_local_supplier_volume" ->
        """SELECT n_name,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          |           (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
          |FROM customer JOIN orders ON c_custkey = o_custkey
          |  JOIN lineitem ON l_orderkey = o_orderkey
          |  JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
          |  JOIN nation ON n_nationkey = s_nationkey
          |  JOIN region ON r_regionkey = n_regionkey
          |WHERE r_name = 'ASIA'
          |  AND o_orderdate >= TIMESTAMP '1996-01-01'
          |  AND o_orderdate < TIMESTAMP '1997-01-01'
          |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
      "q75_small_qty_revenue" ->
        """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
          |FROM lineitem JOIN part ON p_partkey = l_partkey
          |  JOIN (SELECT l_partkey AS ap_partkey, avg(l_quantity) * CAST(0.2 AS DOUBLE) AS qbar
          |        FROM lineitem GROUP BY l_partkey) a ON ap_partkey = p_partkey
          |WHERE p_brand = 'Brand#1' AND l_quantity < qbar""".stripMargin,
      "q76_forward_fill" ->
        """SELECT event_id, user_id,
          |  last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
          |    OVER (PARTITION BY user_id ORDER BY ts, event_id
          |          ROWS UNBOUNDED PRECEDING) AS last_purchase_value
          |FROM events ORDER BY event_id""".stripMargin,
      "q77_rank_quartiles" ->
        """WITH per AS (SELECT user_id,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
          |  count(*) AS n FROM events GROUP BY user_id)
          |SELECT user_id, total, n,
          |  CAST(ntile(4) OVER w AS INT) AS quartile,
          |  percent_rank() OVER w AS pr,
          |  cume_dist() OVER w AS cd
          |FROM per WINDOW w AS (ORDER BY total DESC, user_id)
          |ORDER BY user_id""".stripMargin,
      "q78_stream_dedup" ->
        s"""SELECT event_type, count(*) AS n, $moneyV AS total_value
           |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "q79_bigram_topk" ->
        s"""WITH t AS (SELECT lang, $toks AS tk FROM documents),
           |t2 AS (SELECT lang, tk FROM t WHERE len(tk) >= 2),
           |bg AS (SELECT lang, unnest(range(1, len(tk))) AS i, tk FROM t2),
           |b2 AS (SELECT lang, tk[i] || ' ' || tk[i+1] AS bigram FROM bg),
           |c AS (SELECT lang, bigram, count(*) AS n FROM b2 GROUP BY lang, bigram),
           |r AS (SELECT lang, bigram, n, row_number() OVER
           |        (PARTITION BY lang ORDER BY n DESC, bigram) AS rk FROM c)
           |SELECT lang, bigram, n, CAST(rk AS INT) AS rk FROM r WHERE rk <= 5
           |ORDER BY lang, rk""".stripMargin,
      "q80_fuzzy_block_join" ->
        """WITH d AS (SELECT doc_id, lang, substr(text, 1, 24) AS pfx,
          |                  n_chars // 40 AS bkt FROM documents)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |  CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS dist
          |FROM d a JOIN d b ON a.lang = b.lang AND a.bkt = b.bkt
          |  AND a.doc_id < b.doc_id
          |WHERE levenshtein(a.pfx, b.pfx) <= 6
          |ORDER BY id_a, id_b""".stripMargin,
      "q81_knn_join" ->
        s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
           |base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 3),
           |c AS (SELECT q_id, vec_id, ${cosine("embedding", "qv")} AS cos FROM base, q),
           |r AS (SELECT q_id, vec_id, cos, row_number() OVER
           |        (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM c)
           |SELECT q_id, vec_id, cos, CAST(rk AS INT) AS rk FROM r WHERE rk <= 5
           |ORDER BY q_id, rk""".stripMargin,
      "q82_union_by_name" ->
        """SELECT event_id, user_id, value, event_type FROM (
          |  SELECT event_id, user_id, value FROM events WHERE event_id < 2000
          |  UNION ALL BY NAME
          |  SELECT event_id + 1000000 AS event_id, event_type, user_id
          |  FROM events WHERE event_id < 2000 AND event_type = 'purchase')
          |ORDER BY event_id""".stripMargin,
      "q83_regexp_extract_all" ->
        """SELECT doc_id,
          |  CAST(len(regexp_extract_all(text, '[a-z]{7,}')) AS INT) AS n_long,
          |  coalesce(regexp_extract_all(text, '[a-z]{7,}')[1], '') AS first_long
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q84_stream_interval_join" ->
        """WITH c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS cus
          |           FROM events WHERE event_type = 'click'),
          |b AS (SELECT user_id, event_id AS buy_id, epoch_us(ts) AS bus
          |      FROM events WHERE event_type = 'purchase')
          |SELECT buy_id, click_id, bus - cus AS gap_us
          |FROM b JOIN c ON b.user_id = c.user_id
          |  AND cus <= bus AND cus >= bus - 3600000000
          |ORDER BY buy_id, click_id""".stripMargin,
      "q85_asof_native" ->
        """SELECT user_id, event_id,
          |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
          |  strftime(prev_click_ts, '%Y-%m-%d %H:%M:%S') AS prev_click_s
          |FROM (
          |  SELECT b.user_id, b.event_id, b.ts,
          |         (SELECT max(c.ts) FROM events c
          |          WHERE c.user_id = b.user_id AND c.event_type = 'click'
          |            AND c.ts <= b.ts) AS prev_click_ts
          |  FROM events b WHERE b.event_type = 'purchase')
          |ORDER BY event_id""".stripMargin,
      "q86_bucketed_join" ->
        """SELECT o_orderpriority, count(*) AS n,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      "q87_dpp_join" ->
        """SELECT event_type, weight, count(*) AS n,
          |  CAST(sum(CAST(value * weight AS DECIMAL(18,2))) AS DOUBLE) AS weighted_value
          |FROM events
          |JOIN (VALUES ('click', 1), ('purchase', 5), ('signup', 3))
          |  AS dim(event_type, weight) USING (event_type)
          |GROUP BY event_type, weight ORDER BY event_type""".stripMargin,
      "q88_embed_centroids" ->
        """SELECT label, count(*) AS dim,
          |  round(sqrt(sum(c * c)), 3) AS centroid_norm
          |FROM (
          |  SELECT label, i, avg(v) AS c
          |  FROM (SELECT label,
          |          unnest(CAST(embedding AS DOUBLE[])) AS v,
          |          unnest(range(len(embedding))) AS i
          |        FROM embeddings)
          |  GROUP BY label, i)
          |GROUP BY label ORDER BY label""".stripMargin,
      "q89_vec_quantize" ->
        """SELECT label, count(*) AS n,
          |  round(avg(max_err / scale), 3) AS avg_err_lsb
          |FROM (
          |  SELECT label, scale,
          |    list_max(list_transform(emb,
          |      x -> abs(x - round(x / scale) * scale))) AS max_err
          |  FROM (
          |    SELECT label, emb,
          |      greatest(list_max(list_transform(emb, x -> abs(x))), 1e-12)
          |        / 127.0 AS scale
          |    FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS emb
          |          FROM embeddings)))
          |GROUP BY label ORDER BY label""".stripMargin,
      "q90_leakage_safe_split" ->
        s"""WITH RECURSIVE $simhashFp,
           |banded AS (SELECT doc_id, simhash, band, (simhash >> (band * 15)) & 32767 AS bits
           |           FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b),
           |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
           |                a.simhash AS sh_a, c.simhash AS sh_b
           |         FROM banded a JOIN banded c
           |           ON a.band = c.band AND a.bits = c.bits AND a.doc_id < c.doc_id),
           |pe AS (SELECT id_a, id_b FROM (
           |    SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming FROM cand)
           |  WHERE hamming <= 3),
           |ed AS (SELECT id_a AS src, id_b AS dst FROM pe
           |       UNION ALL SELECT id_b, id_a FROM pe),
           |nodes AS (SELECT DISTINCT src AS id FROM ed),
           |reach(id, lbl) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.dst, r.lbl FROM reach r JOIN ed e ON e.src = r.id),
           |comp AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
           |withc AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
           |          FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
           |SELECT doc_id, cluster_id,
           |  CASE WHEN m < 8 THEN 'train' WHEN m < 9 THEN 'valid' ELSE 'test' END AS split
           |FROM (SELECT doc_id, cluster_id,
           |        ('0x' || substr(sha256(CAST(cluster_id AS VARCHAR)), 1, 15))::BIGINT % 10 AS m
           |      FROM withc)
           |ORDER BY doc_id""".stripMargin,
      "q91_zorder_cells" ->
        s"""SELECT (z >> 10) AS cell, count(*) AS n, $moneyV AS total_value
           |FROM (SELECT ${graft.functions.ZValue.oracleSql("dd", "user_id", 11)} AS z, value
           |      FROM (SELECT greatest(date_diff('day', DATE '2024-01-01',
           |                                      CAST(ts AS DATE)), 0) AS dd,
           |                   user_id, value FROM events))
           |GROUP BY cell ORDER BY cell""".stripMargin,
      "q92_token_ids" ->
        s"""WITH vocab AS (
           |  SELECT tok, CAST(row_number() OVER (ORDER BY n DESC, tok) AS INTEGER) AS id
           |  FROM (SELECT tok, count(*) AS n
           |        FROM (SELECT unnest($toks) AS tok FROM documents)
           |        GROUP BY tok ORDER BY n DESC, tok LIMIT 16)),
           |tk AS (SELECT doc_id, unnest(range(len($toks))) AS pos,
           |              unnest($toks) AS tok FROM documents),
           |enc AS (SELECT t.doc_id, count(*) AS n_tokens,
           |               CAST(sum(CASE WHEN v.id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
           |               CAST(sum((t.pos + 1) * coalesce(v.id, 0)) AS BIGINT) AS ids_fingerprint
           |        FROM tk t LEFT JOIN vocab v ON t.tok = v.tok
           |        GROUP BY t.doc_id)
           |SELECT d.doc_id, coalesce(e.n_tokens, 0) AS n_tokens,
           |       coalesce(e.n_unk, 0) AS n_unk,
           |       coalesce(e.ids_fingerprint, 0) AS ids_fingerprint
           |FROM documents d LEFT JOIN enc e ON d.doc_id = e.doc_id
           |ORDER BY d.doc_id""".stripMargin,
      "q93_dynamic_partition_overwrite" ->
        """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date_s,
          |  count(*) AS n,
          |  CAST(sum(CAST(CASE WHEN CAST(ts AS DATE)
          |                       BETWEEN DATE '2024-01-10' AND DATE '2024-01-14'
          |                     THEN value * 2 ELSE value END
          |                AS DECIMAL(18,2))) AS DOUBLE) AS total_value
          |FROM events GROUP BY event_date_s ORDER BY event_date_s""".stripMargin,
      "q94_quality_audit" -> {
        val checks = Seq(
          "l_quantity_le_25" -> "l_quantity <= 25",
          "l_discount_le_5pct" -> "l_discount BETWEEN 0 AND 0.05",
          "l_shipdate_not_null" -> "l_shipdate IS NOT NULL",
          "l_extendedprice_positive" -> "l_extendedprice > 0",
          "l_returnflag_domain" -> "l_returnflag IN ('A', 'N', 'R')")
        checks.map { case (name, pred) =>
          s"""SELECT '$name' AS check_name,
             |  CAST(sum(CASE WHEN $pred THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
             |  CAST(sum(CASE WHEN $pred THEN 0 ELSE 1 END) AS BIGINT) AS n_fail
             |FROM lineitem""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY check_name")
      },
      "q95_stream_enrich" ->
        """SELECT event_type, weight, count(*) AS n,
          |  CAST(sum(CAST(value * weight AS DECIMAL(18,2))) AS DOUBLE) AS weighted_value
          |FROM events
          |JOIN (VALUES ('click', 1), ('view', 0), ('purchase', 5),
          |             ('signup', 3), ('logout', 0))
          |  AS dim(event_type, weight) USING (event_type)
          |GROUP BY event_type, weight ORDER BY event_type""".stripMargin,
      "q96_sequence_pack" ->
        s"""WITH tk AS (SELECT lang, doc_id,
           |              CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
           |c AS (SELECT lang, doc_id, n_tokens,
           |        coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
           |      FROM tk)
           |SELECT lang, CAST(floor(tokens_before / 512) AS BIGINT) AS pack_id,
           |       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
           |FROM c GROUP BY lang, pack_id ORDER BY lang, pack_id""".stripMargin,
      "q97_chunk_windows" ->
        """SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
          |       substr(text, CAST(i * 150 + 1 AS INT), 200) AS chunk
          |FROM (SELECT doc_id, text,
          |        unnest(range(0, greatest((length(text) - 1) // 150, 0) + 1)) AS i
          |      FROM documents WHERE length(text) > 0)
          |ORDER BY doc_id, chunk_idx""".stripMargin,
      "q98_pii_redact" -> {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        s"""WITH d AS (SELECT doc_id,
           |  text || ' contact user' || CAST(doc_id AS VARCHAR)
           |       || '@mail.example.com ref '
           |       || CAST(doc_id * 7919 + 1000000 AS VARCHAR) AS dirty
           |  FROM documents)
           |SELECT doc_id,
           |  regexp_replace(regexp_replace(dirty, '$email', '<EMAIL>', 'g'),
           |                 '[0-9]{6,}', '<ID>', 'g') AS redacted,
           |  coalesce(CAST(len(regexp_extract_all(dirty, '$email')) AS BIGINT), 0)
           |    AS n_emails,
           |  coalesce(CAST(len(regexp_extract_all(
           |    regexp_replace(dirty, '$email', '<EMAIL>', 'g'),
           |    '[0-9]{6,}')) AS BIGINT), 0) AS n_digit_runs
           |FROM d ORDER BY doc_id""".stripMargin
      },
      "q99_repetition_filter" ->
        s"""WITH tk AS (SELECT doc_id, $toks AS toks FROM documents),
           |bg AS (SELECT doc_id, toks,
           |         CASE WHEN len(toks) >= 2
           |           THEN list_transform(range(1, len(toks)),
           |                               i -> toks[i] || ' ' || toks[i+1])
           |           ELSE CAST([] AS VARCHAR[]) END AS bigrams
           |       FROM tk),
           |st AS (SELECT doc_id,
           |  coalesce(CAST(len(toks) AS BIGINT), 0) AS n_tokens,
           |  CASE WHEN len(toks) > 0
           |    THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
           |    ELSE 0.0 END AS dup_word_frac,
           |  CASE WHEN len(bigrams) > 0
           |    THEN 1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / CAST(len(bigrams) AS DOUBLE)
           |    ELSE 0.0 END AS dup_bigram_frac
           |  FROM bg)
           |SELECT doc_id, n_tokens, dup_word_frac, dup_bigram_frac,
           |       (dup_word_frac <= 0.4 AND dup_bigram_frac <= 0.25) AS keep
           |FROM st ORDER BY doc_id""".stripMargin,
      "q100_incremental_dedup" ->
        """WITH batch AS (
          |  SELECT doc_id + 1000000 AS doc_id,
          |         CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS text
          |  FROM documents WHERE doc_id % 7 = 0),
          |ck AS (SELECT DISTINCT ('0x' || substr(sha256(text), 1, 15))::BIGINT AS k
          |       FROM documents)
          |SELECT doc_id FROM batch
          |ANTI JOIN ck ON ('0x' || substr(sha256(batch.text), 1, 15))::BIGINT = ck.k
          |ORDER BY doc_id""".stripMargin,
      "q101_curate_pipeline" ->
        s"""WITH tk AS (SELECT doc_id, lang, text, $toks AS toks
           |            FROM documents WHERE source <> 'src0'),
           |bg AS (SELECT *, CASE WHEN len(toks) >= 2
           |         THEN list_transform(range(1, len(toks)),
           |                             i -> toks[i] || ' ' || toks[i+1])
           |         ELSE CAST([] AS VARCHAR[]) END AS bigrams FROM tk),
           |st AS (SELECT doc_id, lang, text, toks,
           |         CAST(len(toks) AS BIGINT) AS n_tokens,
           |         CASE WHEN len(toks) > 0
           |           THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
           |           ELSE 0.0 END AS dup_word_frac,
           |         CASE WHEN len(bigrams) > 0
           |           THEN 1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / CAST(len(bigrams) AS DOUBLE)
           |           ELSE 0.0 END AS dup_bigram_frac
           |       FROM bg),
           |gated AS (SELECT * FROM st
           |          WHERE dup_word_frac <= 0.4 AND dup_bigram_frac <= 0.25
           |            AND n_tokens >= 10),
           |deduped AS (SELECT * FROM (
           |    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS dup_rn
           |    FROM gated) WHERE dup_rn = 1),
           |tsh AS (SELECT doc_id, unnest(list_distinct(list_transform(
           |          range(1, greatest(len(toks) - 3, 1) + 1),
           |          i -> ('0x' || substr(sha256(array_to_string(toks[i:i+3], ' ')), 1, 15))::BIGINT))) AS h
           |        FROM deduped WHERE len(toks) > 0),
           |esh0 AS (SELECT $toks AS toks FROM documents WHERE source = 'src0'),
           |esh AS (SELECT DISTINCT unnest(list_distinct(list_transform(
           |          range(1, greatest(len(toks) - 3, 1) + 1),
           |          i -> ('0x' || substr(sha256(array_to_string(toks[i:i+3], ' ')), 1, 15))::BIGINT))) AS h
           |        FROM esh0 WHERE len(toks) > 0),
           |dirty AS (SELECT DISTINCT t.doc_id FROM tsh t JOIN esh e ON t.h = e.h),
           |clean AS (SELECT d.* FROM deduped d
           |          WHERE d.doc_id NOT IN (SELECT doc_id FROM dirty)),
           |capped AS (SELECT * FROM (
           |    SELECT lang, n_tokens, row_number() OVER (PARTITION BY lang
           |      ORDER BY ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
           |               doc_id) AS cap_rn
           |    FROM clean) WHERE cap_rn <= 40)
           |SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
           |FROM capped GROUP BY lang ORDER BY lang""".stripMargin,
      // identical to q61's oracle: the streamed session aggregation must
      // equal the batch one regardless of micro-batch boundaries
      "q102_stream_sessions" ->
        s"""WITH $sessionCte
           |SELECT user_id, min(us) AS session_start_us,
           |  max(us) + 43200000000 AS session_end_us, count(*) AS n_events,
           |  $moneyV AS total_value
           |FROM sess GROUP BY user_id, session_id
           |ORDER BY user_id, session_start_us""".stripMargin,
      "q114_profile" ->
        """SELECT * FROM (
          |  SELECT 'event_id' AS column_name, count(*) - count(event_id) AS n_nulls,
          |    count(DISTINCT event_id) AS n_distinct,
          |    CAST(min(event_id) AS DOUBLE) AS min_v, CAST(max(event_id) AS DOUBLE) AS max_v
          |  FROM events
          |  UNION ALL
          |  SELECT 'user_id', count(*) - count(user_id), count(DISTINCT user_id),
          |    CAST(min(user_id) AS DOUBLE), CAST(max(user_id) AS DOUBLE) FROM events
          |  UNION ALL
          |  SELECT 'value', count(*) - count(value), count(DISTINCT value),
          |    CAST(min(value) AS DOUBLE), CAST(max(value) AS DOUBLE) FROM events)
          |ORDER BY column_name""".stripMargin,
      "q115_outliers" ->
        """WITH st AS (SELECT event_id, user_id, value,
          |  sum(CAST(value AS DECIMAL(18,2))) OVER w AS s1,
          |  sum(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
          |      AS DECIMAL(38,4))) OVER w AS s2,
          |  count(*) OVER w AS cnt
          |  FROM events WINDOW w AS (PARTITION BY user_id))
          |SELECT event_id, user_id, value,
          |  CAST(s1 AS DOUBLE) / CAST(cnt AS DOUBLE) AS grp_mean,
          |  CAST(s2 AS DOUBLE) / CAST(cnt AS DOUBLE)
          |    - (CAST(s1 AS DOUBLE) / CAST(cnt AS DOUBLE))
          |      * (CAST(s1 AS DOUBLE) / CAST(cnt AS DOUBLE)) AS grp_var
          |FROM st
          |WHERE cnt >= 20 AND
          |  (value - CAST(s1 AS DOUBLE) / CAST(cnt AS DOUBLE))
          |    * (value - CAST(s1 AS DOUBLE) / CAST(cnt AS DOUBLE))
          |  > 9.0 * (CAST(s2 AS DOUBLE) / CAST(cnt AS DOUBLE)
          |    - (CAST(s1 AS DOUBLE) / CAST(cnt AS DOUBLE))
          |      * (CAST(s1 AS DOUBLE) / CAST(cnt AS DOUBLE)))
          |ORDER BY event_id""".stripMargin,
      "q118_triangles" ->
        """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
          |      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
          |      WHERE o_orderpriority = '1-URGENT'),
          |e0 AS (SELECT DISTINCT a.p AS a, b.p AS b
          |       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
          |deg AS (SELECT k, count(*) AS d FROM
          |        (SELECT a AS k FROM e0 UNION ALL SELECT b FROM e0) GROUP BY k),
          |e AS (SELECT CASE WHEN (da.d, e0.a) < (db.d, e0.b) THEN e0.a ELSE e0.b END AS u,
          |             CASE WHEN (da.d, e0.a) < (db.d, e0.b) THEN e0.b ELSE e0.a END AS v
          |      FROM e0 JOIN deg da ON da.k = e0.a JOIN deg db ON db.k = e0.b),
          |tri AS (SELECT e1.u AS ta, e1.v AS tb, e2.v AS tc
          |        FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
          |        JOIN e e3 ON least(e3.u, e3.v) = e1.v
          |                 AND greatest(e3.u, e3.v) = e2.v),
          |part_tri AS (SELECT ta AS part FROM tri UNION ALL
          |             SELECT tb FROM tri UNION ALL SELECT tc FROM tri)
          |SELECT part, count(*) AS n_tri FROM part_tri GROUP BY part
          |ORDER BY n_tri DESC, part LIMIT 20""".stripMargin,
      "q119_resample" ->
        """WITH p AS (SELECT user_id, CAST(ts AS DATE) AS d, value,
          |    row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
          |                       ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM events WHERE event_type = 'purchase'),
          |pd AS (SELECT user_id, d, value FROM p WHERE rn = 1),
          |grid AS (SELECT user_id, unnest(generate_series(min(d), max(d),
          |           INTERVAL 1 DAY))::DATE AS d FROM pd GROUP BY user_id),
          |f AS (SELECT g.user_id, g.d, pd.value,
          |  last_value(pd.value IGNORE NULLS) OVER wp AS pv,
          |  last_value(CASE WHEN pd.value IS NOT NULL THEN g.d END IGNORE NULLS)
          |    OVER wp AS pdte,
          |  first_value(pd.value IGNORE NULLS) OVER wn AS nv,
          |  first_value(CASE WHEN pd.value IS NOT NULL THEN g.d END IGNORE NULLS)
          |    OVER wn AS ndte
          |  FROM grid g LEFT JOIN pd ON g.user_id = pd.user_id AND g.d = pd.d
          |  WINDOW wp AS (PARTITION BY g.user_id ORDER BY g.d
          |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          |         wn AS (PARTITION BY g.user_id ORDER BY g.d
          |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
          |SELECT user_id, d,
          |  CASE WHEN value IS NOT NULL THEN value
          |       WHEN pv IS NULL THEN nv
          |       WHEN nv IS NULL THEN pv
          |       ELSE pv + (nv - pv) * (CAST(d - pdte AS DOUBLE)
          |                              / CAST(ndte - pdte AS DOUBLE)) END AS v_filled,
          |  value IS NOT NULL AS observed
          |FROM f ORDER BY user_id, d""".stripMargin,
      "q113_hybrid_rrf" -> {
        val bmTerm = (t: String) =>
          s"(CAST(n AS DOUBLE) - CAST(df_$t AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(df_$t AS DOUBLE) + CAST(0.5 AS DOUBLE))\n" +
            s"    * (CAST(tf_$t AS DOUBLE) * CAST(2.2 AS DOUBLE))\n" +
            s"    / (CAST(tf_$t AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))"
        s"""WITH b AS (SELECT doc_id, len($toks) AS dl,
           |  len(list_filter($toks, x -> x = 'join')) AS tf_join,
           |  len(list_filter($toks, x -> x = 'stream')) AS tf_stream,
           |  len(list_filter($toks, x -> x = 'window')) AS tf_window
           |  FROM documents),
           |g AS (SELECT count(*) AS n, sum(dl) AS sumdl,
           |        sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join,
           |        sum(CASE WHEN tf_stream > 0 THEN 1 ELSE 0 END) AS df_stream,
           |        sum(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS df_window
           |      FROM b),
           |sc AS (SELECT doc_id,
           |  ${bmTerm("join")}
           |  + ${bmTerm("stream")}
           |  + ${bmTerm("window")} AS score
           |  FROM b, g),
           |bm AS (SELECT doc_id, score FROM sc WHERE score > 0
           |       ORDER BY score DESC, doc_id LIMIT 100),
           |bmr AS (SELECT doc_id AS id, CAST(row_number() OVER
           |          (ORDER BY score DESC, doc_id) AS BIGINT) AS r_bm FROM bm),
           |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |cs AS (SELECT vec_id, ${cosine("embedding", "qv")} AS sim
           |       FROM embeddings, q WHERE vec_id <> 0
           |       ORDER BY sim DESC, vec_id LIMIT 100),
           |csr AS (SELECT vec_id AS id, CAST(row_number() OVER
           |          (ORDER BY sim DESC, vec_id) AS BIGINT) AS r_cos FROM cs),
           |f AS (SELECT coalesce(bmr.id, csr.id) AS id, r_bm, r_cos,
           |  coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(r_bm AS DOUBLE)), CAST(0.0 AS DOUBLE))
           |  + coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(r_cos AS DOUBLE)), CAST(0.0 AS DOUBLE)) AS rrf
           |  FROM bmr FULL OUTER JOIN csr ON bmr.id = csr.id)
           |SELECT id, rrf, r_bm, r_cos FROM f ORDER BY rrf DESC, id LIMIT 20""".stripMargin
      },
      "q116_weighted_sample" ->
        """WITH c AS (SELECT doc_id, n_chars AS w,
          |  CAST(sum(n_chars) OVER (ORDER BY doc_id
          |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
          |  CAST(sum(n_chars) OVER () AS BIGINT) AS t
          |  FROM documents)
          |SELECT doc_id, w, cum FROM c
          |WHERE cum // (t // 100) > (cum - w) // (t // 100)
          |ORDER BY doc_id""".stripMargin,
      "q117_heavy_hitters" ->
        s"""WITH t AS (SELECT unnest($toks) AS token FROM documents),
           |c AS (SELECT token, count(*) AS n,
           |        CAST(0 AS BIGINT) AS err_bound FROM t GROUP BY token)
           |SELECT token, n, err_bound FROM c ORDER BY n DESC, token LIMIT 10""".stripMargin,
      // q163: the bloom is a pure prefilter (no false negatives, FPs
      // removed by the exact confirm), so the oracle is q65's exact
      // replay verbatim — identical results on a different physical path
      // q198: both medians replayed by the direct rank definition (the
      // q155 hook); adev and the 3·1.4826·MAD cut in identical double
      // shape
      "q198_grouped_mad" ->
        """WITH n AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
          |r AS (SELECT event_type, value, event_id,
          |        row_number() OVER (PARTITION BY event_type
          |          ORDER BY value, event_id) AS rn FROM events),
          |med AS (SELECT r.event_type, max(CASE WHEN rn =
          |          greatest(CAST(ceil(0.5 * n.n) AS BIGINT), 1)
          |          THEN value END) AS m
          |        FROM r JOIN n USING (event_type) GROUP BY 1),
          |d AS (SELECT e.event_type, abs(e.value - med.m) AS adev,
          |        e.event_id, med.m
          |      FROM events e JOIN med USING (event_type)),
          |r2 AS (SELECT event_type, adev, m,
          |        row_number() OVER (PARTITION BY event_type
          |          ORDER BY adev, event_id) AS rn FROM d),
          |mad AS (SELECT r2.event_type, max(m) AS m,
          |          max(CASE WHEN rn =
          |            greatest(CAST(ceil(0.5 * n.n) AS BIGINT), 1)
          |            THEN adev END) AS mad
          |        FROM r2 JOIN n USING (event_type) GROUP BY 1),
          |o AS (SELECT d.event_type,
          |        sum(CASE WHEN d.adev > 3.0 * 1.4826 * mad.mad
          |          THEN 1 ELSE 0 END) AS n_outliers
          |      FROM d JOIN mad USING (event_type) GROUP BY 1)
          |SELECT mad.event_type AS event_type, n.n AS n, mad.m AS median,
          |  mad.mad AS mad, CAST(o.n_outliers AS BIGINT) AS n_outliers
          |FROM mad JOIN n USING (event_type) JOIN o USING (event_type)
          |ORDER BY event_type""".stripMargin,

      // q196: repetition-gate replay reuses q99's dup-word/dup-bigram
      // fractions (same thresholds); everything else is plain counting
      "q196_corpus_report" ->
        s"""WITH tkc AS (SELECT doc_id, n_chars, lang, source,
           |    len($toks) AS nt, $toks AS tk FROM documents),
           |rep AS (SELECT count(*) AS n_rep_flagged FROM (
           |  SELECT CASE WHEN len(tk) > 0
           |    THEN 1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) /
           |         CAST(len(tk) AS DOUBLE) ELSE 0.0 END AS dw,
           |    CASE WHEN len(tk) >= 2
           |    THEN 1.0 - CAST(len(list_distinct(list_transform(
           |        range(1, len(tk)),
           |        i -> tk[i] || ' ' || tk[i + 1]))) AS DOUBLE) /
           |      CAST(len(tk) - 1 AS DOUBLE) ELSE 0.0 END AS db
           |  FROM tkc) WHERE NOT (dw <= 0.4 AND db <= 0.25)),
           |dup AS (SELECT
           |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
           |      AS dup_docs,
           |    CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS dup_groups
           |  FROM (SELECT sha256(text) AS h, count(*) AS c
           |        FROM documents GROUP BY 1)),
           |base AS (SELECT count(*) AS n_docs, sum(nt) AS n_tokens,
           |    sum(n_chars) AS n_chars, count(DISTINCT lang) AS n_langs,
           |    count(DISTINCT source) AS n_sources FROM tkc)
           |SELECT metric, value FROM (
           |  SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value
           |    FROM base
           |  UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE) FROM base
           |  UNION ALL SELECT 'mean_chars',
           |    CAST(n_chars AS DOUBLE) / CAST(n_docs AS DOUBLE) FROM base
           |  UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM base
           |  UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM base
           |  UNION ALL SELECT 'rep_flagged', CAST(n_rep_flagged AS DOUBLE)
           |    FROM rep
           |  UNION ALL SELECT 'dup_docs', CAST(dup_docs AS DOUBLE) FROM dup
           |  UNION ALL SELECT 'dup_groups', CAST(dup_groups AS DOUBLE)
           |    FROM dup)
           |ORDER BY metric""".stripMargin,

      "q197_source_dup_matrix" ->
        s"""WITH g AS (SELECT sha256(array_to_string(($toks)[1:10], ' ')) AS h,
           |    source, count(*) AS c
           |  FROM documents GROUP BY 1, 2)
          |SELECT a.source AS src_a, b.source AS src_b,
          |  count(*) AS shared_groups,
          |  CAST(sum(CASE WHEN a.source < b.source THEN a.c * b.c
          |    ELSE (a.c * (a.c - 1)) // 2 END) AS BIGINT) AS dup_pairs
          |FROM g a JOIN g b ON a.h = b.h AND a.source <= b.source
          |  AND (a.source < b.source OR a.c > 1)
          |GROUP BY a.source, b.source ORDER BY src_a, src_b""".stripMargin,

      "q194_mann_whitney" ->
        """WITH v AS (SELECT value,
          |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS na,
          |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS nb
          |  FROM events WHERE event_type IN ('purchase', 'view')
          |  GROUP BY value),
          |p AS (SELECT na, nb, sum(na + nb) OVER (ORDER BY value) AS cum_t
          |      FROM v),
          |h AS (SELECT na, nb,
          |        2 * na * (cum_t - (na + nb)) + na * (na + nb + 1) AS hterm
          |      FROM p),
          |a AS (SELECT sum(na) AS n1, sum(nb) AS n2, sum(hterm) AS hsum
          |      FROM h)
          |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
          |  CAST(hsum - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u,
          |  1.0 - CAST(hsum - n1 * (n1 + 1) AS DOUBLE) /
          |    CAST(n1 * n2 AS DOUBLE) AS rank_biserial
          |FROM a""".stripMargin,

      "q195_ks_drift" ->
        """WITH v AS (SELECT value,
          |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS na,
          |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS nb
          |  FROM events WHERE event_type IN ('purchase', 'view')
          |  GROUP BY value),
          |p AS (SELECT na, nb,
          |    sum(na) OVER (ORDER BY value) AS cum_a,
          |    sum(na + nb) OVER (ORDER BY value) AS cum_t FROM v),
          |t AS (SELECT sum(na) AS n1, sum(nb) AS n2 FROM v)
          |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
          |  CAST(max(abs(cum_a * n2 - (cum_t - cum_a) * n1)) AS BIGINT)
          |    AS d_num,
          |  CAST(max(abs(cum_a * n2 - (cum_t - cum_a) * n1)) AS DOUBLE) /
          |    CAST(n1 * n2 AS DOUBLE) AS d
          |FROM p, t GROUP BY n1, n2""".stripMargin,

      // q192: the streamed full-outer ≡ this batch time-range full outer
      // once the sentinel watermark passes every real event
      "q192_stream_full_outer" ->
        """WITH c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
          |  FROM events WHERE event_type = 'click'),
          |b AS (SELECT user_id, event_id AS buy_id, ts AS buy_ts
          |  FROM events WHERE event_type = 'purchase')
          |SELECT click_id, buy_id,
          |  epoch_us(buy_ts) - epoch_us(click_ts) AS gap_us
          |FROM c FULL OUTER JOIN b ON c.user_id = b.user_id
          |  AND b.buy_ts >= c.click_ts
          |  AND b.buy_ts <= c.click_ts + INTERVAL 1 HOUR
          |ORDER BY click_id ASC NULLS LAST, buy_id ASC NULLS LAST""".stripMargin,

      // q193: bucket sums, the exact power-of-two weights, and the
      // k-ordered fold replayed verbatim; list_reduce's first-element
      // seed ≡ the engine's 0.0 + w₁
      "q193_decayed_score" ->
        """WITH md AS (SELECT max(CAST(ts AS DATE)) AS maxd FROM events),
          |bk AS (SELECT user_id,
          |    least((maxd - CAST(ts AS DATE)) // 7, 40) AS k,
          |    sum(CAST(value AS DECIMAL(18,2))) AS p
          |  FROM events, md GROUP BY 1, 2),
          |w AS (SELECT user_id, k,
          |    CAST(p AS DOUBLE) / CAST(1::BIGINT << k AS DOUBLE) AS w
          |  FROM bk)
          |SELECT user_id,
          |  list_reduce(list_transform(
          |    list_sort(list(struct_pack(k := k, w := w))), x -> x.w),
          |    (a, c) -> a + c) AS decayed_score
          |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,

      "q189_ratio_to_report" ->
        """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
          |    sum(CAST(value AS DECIMAL(18,2))) AS tvd
          |  FROM events GROUP BY 1, 2),
          |bt AS (SELECT event_type, sum(tvd) AS type_total
          |       FROM daily GROUP BY 1),
          |g AS (SELECT sum(tvd) AS grand_total FROM daily)
          |SELECT daily.event_type AS event_type, day,
          |  CAST(tvd AS DOUBLE) AS tv,
          |  CAST(tvd AS DOUBLE) / CAST(type_total AS DOUBLE) AS share_of_type,
          |  CAST(tvd AS DOUBLE) / CAST(grand_total AS DOUBLE) AS share_of_total
          |FROM daily JOIN bt ON daily.event_type = bt.event_type, g
          |ORDER BY event_type, day""".stripMargin,

      // q190: the initials string rebuilt with an ORDER BY inside
      // string_agg ≡ the engine's array_sort(collect_list(struct)) fold
      "q190_pattern_regex" ->
        """WITH p AS (SELECT user_id, CAST(ts AS DATE) AS day,
          |    string_agg(substr(event_type, 1, 1), ''
          |      ORDER BY ts, event_id) AS sig
          |  FROM events GROUP BY 1, 2)
          |SELECT count(*) AS n_journeys,
          |  CAST(sum(CASE WHEN regexp_matches(sig, '^v+c.*p$')
          |    THEN 1 ELSE 0 END) AS BIGINT) AS view_click_purchase,
          |  CAST(sum(CASE WHEN regexp_matches(sig, '^s')
          |    THEN 1 ELSE 0 END) AS BIGINT) AS signup_first,
          |  CAST(sum(CASE WHEN regexp_matches(sig, 'p.*p')
          |    THEN 1 ELSE 0 END) AS BIGINT) AS repeat_purchase
          |FROM p""".stripMargin,

      "q191_bucket_checksum" ->
        """WITH c AS (SELECT event_id, user_id,
          |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
          |  FROM events),
          |a AS (SELECT event_id % 64 AS bkt,
          |        bit_xor(('0x' || substr(sha256(CAST(event_id AS VARCHAR)
          |          || '|' || CAST(cents AS VARCHAR)), 1, 15))::BIGINT) AS fp,
          |        count(*) AS n
          |      FROM c GROUP BY 1),
          |c2 AS (SELECT event_id,
          |         CASE WHEN user_id = 7 THEN cents + 100 ELSE cents END
          |           AS cents FROM c),
          |b AS (SELECT event_id % 64 AS bkt,
          |        bit_xor(('0x' || substr(sha256(CAST(event_id AS VARCHAR)
          |          || '|' || CAST(cents AS VARCHAR)), 1, 15))::BIGINT) AS fp
          |      FROM c2 GROUP BY 1)
          |SELECT a.bkt AS bkt, a.n AS rows_to_resync
          |FROM a JOIN b ON a.bkt = b.bkt
          |WHERE a.fp <> b.fp ORDER BY bkt""".stripMargin,

      "q188_eager_agg" ->
        """SELECT l_orderkey, min(l_extendedprice) AS min_price,
          |  max(l_shipdate) AS max_ship
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |WHERE o_orderpriority = '1-URGENT'
          |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

      "q185_diversified_topk" ->
        s"""WITH sc AS (SELECT doc_id, source,
           |  CAST(len($stop) AS DOUBLE) / CAST(len($toks) AS DOUBLE) * 2.0
           |    + (CASE WHEN len($toks) BETWEEN 20 AND 400 THEN 1.0 ELSE 0.0 END)
           |    - CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
           |      / CAST(length(replace(text, ' ', '')) AS DOUBLE) AS quality
           |  FROM documents),
           |r AS (SELECT doc_id, source, quality, row_number() OVER
           |        (PARTITION BY source ORDER BY quality DESC, doc_id)
           |        AS src_rank
           |      FROM sc)
           |SELECT doc_id, source, quality, CAST(src_rank AS BIGINT) AS src_rank
           |FROM r WHERE src_rank <= 3
           |ORDER BY quality DESC, doc_id LIMIT 20""".stripMargin,

      "q186_quantile_normalize" ->
        s"""WITH sc AS (SELECT doc_id, source,
           |  CAST(len($stop) AS DOUBLE) / CAST(len($toks) AS DOUBLE) * 2.0
           |    + (CASE WHEN len($toks) BETWEEN 20 AND 400 THEN 1.0 ELSE 0.0 END)
           |    - CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
           |      / CAST(length(replace(text, ' ', '')) AS DOUBLE) AS quality
           |  FROM documents),
           |r AS (SELECT doc_id, source, quality,
           |        row_number() OVER (PARTITION BY source
           |          ORDER BY quality, doc_id) AS rk,
           |        count(*) OVER (PARTITION BY source) AS n FROM sc)
           |SELECT doc_id, source, quality,
           |  CAST(rk - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS pct
           |FROM r ORDER BY doc_id""".stripMargin,

      "q187_association_rules" ->
        """WITH u AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
          |    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
          |    WHERE o_orderpriority = '1-URGENT'),
          |nb AS (SELECT count(DISTINCT o) AS n FROM u),
          |it AS (SELECT p, count(*) AS c1 FROM u GROUP BY p),
          |pr AS (SELECT a.p AS pa, b.p AS pb, count(*) AS c2
          |       FROM u a JOIN u b ON a.o = b.o AND a.p < b.p
          |       GROUP BY 1, 2 HAVING count(*) >= 2)
          |SELECT pa, pb, c2 AS support,
          |  CAST(c2 AS DOUBLE) / CAST(ca.c1 AS DOUBLE) AS confidence,
          |  CAST(nb.n * c2 AS DOUBLE) / CAST(ca.c1 * cb.c1 AS DOUBLE) AS lift
          |FROM pr JOIN it ca ON ca.p = pr.pa JOIN it cb ON cb.p = pr.pb, nb
          |ORDER BY lift DESC, pa, pb LIMIT 25""".stripMargin,

      "q182_forget_cascade" ->
        """WITH f AS (SELECT c_custkey FROM customer WHERE c_custkey % 50 = 0),
          |od AS (SELECT o_orderkey FROM orders
          |       WHERE o_custkey IN (SELECT c_custkey FROM f)),
          |u AS (
          |  SELECT 'customer' AS tbl,
          |    (SELECT count(*) FROM customer) AS n_before,
          |    (SELECT count(*) FROM f) AS n_deleted
          |  UNION ALL SELECT 'orders',
          |    (SELECT count(*) FROM orders), (SELECT count(*) FROM od)
          |  UNION ALL SELECT 'lineitem',
          |    (SELECT count(*) FROM lineitem),
          |    (SELECT count(*) FROM lineitem
          |     WHERE l_orderkey IN (SELECT o_orderkey FROM od)))
          |SELECT tbl, n_before, n_deleted, n_before - n_deleted AS n_after
          |FROM u ORDER BY tbl""".stripMargin,

      // q183: the prefix blocking, integer gates, and both containment
      // directions replayed relationally — df-rank order (df, h) and the
      // (p·n + q−1) // q prefix length match the engine exactly
      "q183_containment" ->
        s"""WITH toks AS (
           |  SELECT doc_id, $toks AS tk FROM documents),
           |sh0 AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    range(1, greatest(len(tk) - 2, 1) + 1),
           |    i -> ('0x' || substr(sha256(array_to_string(tk[i:i+2], ' ')), 1, 15))::BIGINT)) AS sh
           |  FROM toks),
           |tok AS (SELECT doc_id AS id, unnest(sh) AS h FROM sh0),
           |df AS (SELECT h, count(*) AS df FROM tok GROUP BY h),
           |rk AS (SELECT h, row_number() OVER (ORDER BY df, h) AS r FROM df),
           |fl AS (SELECT tok.id, rk.r FROM tok JOIN rk USING (h)),
           |st AS (SELECT id, list_sort(list(r)) AS rs FROM fl GROUP BY id),
           |sz AS (SELECT id, rs, len(rs) AS n,
           |         len(rs) - ((4 * len(rs) + 4) // 5) + 1 AS plen FROM st),
           |pre AS (SELECT id AS id_a, unnest(list_slice(rs, 1, plen)) AS p
           |        FROM sz),
           |cand AS (SELECT DISTINCT least(a.id_a, b.id) AS id_a,
           |           greatest(a.id_a, b.id) AS id_b
           |         FROM pre a JOIN fl b ON a.p = b.r AND a.id_a <> b.id),
           |v AS (SELECT cand.id_a, cand.id_b,
           |        CAST(len(list_intersect(x.rs, y.rs)) AS BIGINT) AS inter,
           |        x.n AS n_a, y.n AS n_b
           |      FROM cand JOIN sz x ON x.id = cand.id_a
           |                JOIN sz y ON y.id = cand.id_b)
           |SELECT id_a, id_b,
           |  CAST(inter AS DOUBLE) / CAST(n_a AS DOUBLE) AS c_ab,
           |  CAST(inter AS DOUBLE) / CAST(n_b AS DOUBLE) AS c_ba,
           |  CASE WHEN CAST(inter AS DOUBLE) / CAST(n_a AS DOUBLE) >=
           |            CAST(inter AS DOUBLE) / CAST(n_b AS DOUBLE)
           |       THEN 'a_in_b' ELSE 'b_in_a' END AS direction
           |FROM v WHERE 5 * inter >= 4 * least(n_a, n_b)
           |ORDER BY id_a, id_b""".stripMargin,

      // q184: the oracle computes the DIRECT single-window skyline — the
      // engine's local-then-global pass must reproduce it row-for-row
      "q184_pareto_frontier" ->
        """WITH e AS (SELECT event_type, event_id, value, epoch_us(ts) AS tus
          |  FROM events),
          |f AS (SELECT *, max(tus) OVER (PARTITION BY event_type
          |        ORDER BY value DESC, tus DESC, event_id
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
          |      FROM e)
          |SELECT event_type, event_id, value, tus FROM f
          |WHERE pm IS NULL OR pm < tus
          |ORDER BY event_type, event_id""".stripMargin,

      "q179_k_anonymity" ->
        """WITH g AS (SELECT lang, source, n_chars // 100 AS len_bkt,
          |    count(*) AS grp_n
          |  FROM documents GROUP BY 1, 2, 3)
          |SELECT count(*) AS n_groups,
          |  CAST(sum(CASE WHEN grp_n < 5 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS risk_groups,
          |  CAST(sum(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) AS BIGINT)
          |    AS risk_rows,
          |  min(grp_n) AS min_group,
          |  CAST(sum(grp_n) AS BIGINT) AS n_rows
          |FROM g""".stripMargin,

      "q180_out_of_order" ->
        """WITH x AS (SELECT event_type, user_id, event_id, epoch_us(ts) AS tus,
          |    max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_max
          |  FROM events)
          |SELECT event_type, count(*) AS n,
          |  CAST(sum(CASE WHEN tus < prior_max THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_late,
          |  max(CASE WHEN tus < prior_max THEN prior_max - tus END)
          |    AS max_lateness_us
          |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin,

      // q181: floor-division credits are pure bigint arithmetic — no
      // float credit ever summed, so attribution replays exactly
      "q181_multi_touch" ->
        """WITH p AS (SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_tus,
          |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
          |  FROM events WHERE event_type = 'purchase'),
          |c AS (SELECT user_id, event_id AS c_id, epoch_us(ts) AS c_tus
          |  FROM events WHERE event_type = 'click'),
          |t AS (SELECT p_id, cents, count(*) AS n_touch
          |  FROM p JOIN c ON p.user_id = c.user_id
          |   AND c.c_tus < p.p_tus AND c.c_tus >= p.p_tus - 86400000000
          |  GROUP BY 1, 2),
          |cr AS (SELECT p_id, n_touch, cents // n_touch AS cpc,
          |         cents - (cents // n_touch) * n_touch AS resid FROM t)
          |SELECT count(*) AS n_attributed,
          |  CAST(sum(cpc * n_touch) AS BIGINT) AS attributed_cents,
          |  CAST(sum(resid) AS BIGINT) AS residual_cents,
          |  CAST(sum(n_touch) AS BIGINT) AS n_touches
          |FROM cr""".stripMargin,

      // q177: bitmap partials are engine-internal — exact distinct counts
      // are what the oracle checks, straight from count(DISTINCT)
      "q177_bitmap_distinct" ->
        """WITH pd AS (SELECT event_type, CAST(ts AS DATE) AS day,
          |        count(DISTINCT user_id) AS du
          |      FROM events GROUP BY 1, 2),
          |a AS (SELECT event_type, count(*) AS n_days,
          |        CAST(sum(du) AS BIGINT) AS sum_daily_distinct
          |      FROM pd GROUP BY 1),
          |t AS (SELECT event_type, count(DISTINCT user_id) AS distinct_users
          |      FROM events GROUP BY 1)
          |SELECT a.event_type AS event_type, n_days, sum_daily_distinct,
          |  distinct_users
          |FROM a JOIN t ON a.event_type = t.event_type
          |ORDER BY event_type""".stripMargin,

      // q178: identical DECIMAL sums, one double division per mean, the
      // same fixed-shape decomposition arithmetic (isodow−1 ≡ weekday)
      "q178_seasonal_decompose" ->
        """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
          |    sum(CAST(value AS DECIMAL(18,2))) AS tvd,
          |    isodow(CAST(ts AS DATE)) - 1 AS dow
          |  FROM events GROUP BY 1, 2, 4),
          |tr AS (SELECT event_type,
          |    CAST(sum(tvd) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m
          |  FROM daily GROUP BY 1),
          |se AS (SELECT event_type, dow,
          |    CAST(sum(tvd) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m_dow
          |  FROM daily GROUP BY 1, 2)
          |SELECT daily.event_type AS event_type, day,
          |  CAST(tvd AS DOUBLE) AS tv, m AS trend,
          |  m_dow - m AS seasonal,
          |  CAST(tvd AS DOUBLE) - m - (m_dow - m) AS residual
          |FROM daily
          |JOIN tr ON daily.event_type = tr.event_type
          |JOIN se ON daily.event_type = se.event_type AND daily.dow = se.dow
          |ORDER BY event_type, day""".stripMargin,

      // q175: the variant path replayed as a JSON extract; both sides
      // produce the same BIGINT per row so the aggregates agree exactly
      "q175_variant_extract" ->
        """WITH x AS (SELECT event_type,
          |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          |  FROM events)
          |SELECT event_type, count(*) AS n,
          |  CAST(sum(k) AS BIGINT) AS sum_k,
          |  min(k) AS min_k, max(k) AS max_k
          |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin,

      // q176: the oracle runs the plain inequality join — the binned
      // equi-join + exact verify must reproduce it pair-for-pair
      "q176_range_bin_join" ->
        """WITH p AS (SELECT event_id, CAST(ts AS DATE) AS day, value
          |  FROM events WHERE event_type = 'purchase')
          |SELECT a.event_id AS id_a, b.event_id AS id_b, a.day AS day,
          |  a.value AS va, b.value AS vb
          |FROM p a JOIN p b ON a.day = b.day AND a.event_id < b.event_id
          |  AND abs(a.value - b.value) <= 0.5
          |ORDER BY id_a, id_b""".stripMargin,

      // q173: the identical linear recursion — DECIMAL additions along a
      // fixed chain order are engine-independent
      "q173_recursive_chain" ->
        """WITH RECURSIVE b AS (
          |  SELECT l_orderkey, row_number() OVER (PARTITION BY l_orderkey
          |      ORDER BY l_linenumber, l_partkey, l_quantity) AS rn,
          |    l_partkey, l_quantity FROM lineitem
          |  JOIN orders ON l_orderkey = o_orderkey
          |  WHERE o_orderpriority = '1-URGENT'),
          |chain AS (
          |  SELECT l_orderkey, rn AS depth,
          |         CAST(l_partkey AS VARCHAR) AS path,
          |         CAST(l_quantity AS DECIMAL(18,2)) AS qty
          |  FROM b WHERE rn = 1
          |  UNION ALL
          |  SELECT b.l_orderkey, b.rn,
          |         c.path || '>' || CAST(b.l_partkey AS VARCHAR),
          |         CAST(c.qty + CAST(b.l_quantity AS DECIMAL(18,2))
          |           AS DECIMAL(18,2))
          |  FROM chain c JOIN b ON b.l_orderkey = c.l_orderkey
          |   AND b.rn = c.depth + 1)
          |SELECT l_orderkey, depth, path, CAST(qty AS DOUBLE) AS qty
          |FROM chain ORDER BY l_orderkey, depth""".stripMargin,

      "q174_lateral_topk" ->
        """SELECT c.o_custkey AS o_custkey, t.o_orderkey, t.o_totalprice
          |FROM (SELECT DISTINCT o_custkey FROM orders) c,
          |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
          |         WHERE orders.o_custkey = c.o_custkey
          |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
          |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin,

      // q170: per-bucket 0-based rank under (h, doc_id) ≡ the engine's
      // global (bucket, h, doc_id) rank re-based by the bucket minimum
      "q170_length_batching" ->
        s"""WITH d AS (SELECT doc_id, len($toks) AS n FROM documents),
           |b AS (SELECT doc_id, n,
           |        CAST(CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
           |          WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
           |          WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
           |          ELSE 1024 END AS BIGINT) AS bucket,
           |        ('0x' || substr(sha256('batch:' || CAST(doc_id AS VARCHAR)),
           |          1, 15))::BIGINT AS h
           |      FROM d),
           |r AS (SELECT doc_id, n, bucket,
           |        row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id)
           |          - 1 AS lr
           |      FROM b)
           |SELECT bucket, lr // 8 AS batch_id, count(*) AS n_seqs,
           |  CAST(sum(n) AS BIGINT) AS sum_tokens,
           |  CAST(sum(bucket - n) AS BIGINT) AS padding_waste,
           |  bit_xor(doc_id) AS fp
           |FROM r GROUP BY bucket, lr // 8
           |ORDER BY bucket, batch_id""".stripMargin,

      // q171: κ replayed in the identical fixed shape — every operand an
      // exact bigint/bigint double division, products and subtractions
      // in the same order as the engine's Column expression tree
      "q171_weak_labels" -> {
        def r(s: String) = s"(CAST($s AS DOUBLE) / CAST(n AS DOUBLE))"
        def kap(a: String, sx: String, sy: String) =
          s"(${r(a)} - (${r(sx)} * ${r(sy)} + (1.0 - ${r(sx)}) * (1.0 - ${r(sy)})))" +
            s" / (1.0 - (${r(sx)} * ${r(sy)} + (1.0 - ${r(sx)}) * (1.0 - ${r(sy)})))"
        s"""WITH v AS (SELECT
           |    CASE WHEN len(list_filter($toks, x -> x = 'the')) > 0
           |      THEN 1 ELSE 0 END AS v1,
           |    CASE WHEN len($toks) > 50 THEN 1 ELSE 0 END AS v2,
           |    CASE WHEN len($stop) * 5 > len($toks) THEN 1 ELSE 0 END AS v3
           |  FROM documents),
           |a AS (SELECT count(*) AS n,
           |        sum(v1) AS s1, sum(v2) AS s2, sum(v3) AS s3,
           |        sum(CASE WHEN v1 = v2 THEN 1 ELSE 0 END) AS a12,
           |        sum(CASE WHEN v1 = v3 THEN 1 ELSE 0 END) AS a13,
           |        sum(CASE WHEN v2 = v3 THEN 1 ELSE 0 END) AS a23
           |      FROM v)
           |SELECT * FROM (
           |  SELECT 'lf1~lf2' AS pair, n, ${r("a12")} AS p_o,
           |    ${kap("a12", "s1", "s2")} AS kappa FROM a
           |  UNION ALL SELECT 'lf1~lf3', n, ${r("a13")},
           |    ${kap("a13", "s1", "s3")} FROM a
           |  UNION ALL SELECT 'lf2~lf3', n, ${r("a23")},
           |    ${kap("a23", "s2", "s3")} FROM a)
           |ORDER BY pair""".stripMargin
      },

      // q172: the turn assembly replayed as the identical substring
      // windows + role parity; xor fingerprints are order-free so the
      // flatten needs no ordering anywhere
      "q172_chat_assembly" ->
        """WITH t AS (SELECT lang, unnest(list_filter(list_transform(
          |    range(0, 3), i -> struct_pack(
          |      role := CASE WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END,
          |      content := substr(text, CAST(1 + i * 160 AS INTEGER), 160))),
          |    s -> length(s.content) > 0)) AS turn
          |  FROM documents)
          |SELECT lang, turn.role AS role, count(*) AS n_turns,
          |  CAST(sum(length(turn.content)) AS BIGINT) AS total_chars,
          |  bit_xor(('0x' || substr(sha256(turn.content), 1, 15))::BIGINT) AS fp
          |FROM t GROUP BY lang, turn.role ORDER BY lang, role""".stripMargin,

      // q168: the oracle never sees the staged JSONL — it doesn't need
      // to: a lossless round-trip means the parquet-native aggregate is
      // the same relation; bit_xor is the order-free exact fingerprint
      "q168_jsonl_stage" ->
        """SELECT lang, count(*) AS n_docs,
          |  bit_xor(('0x' || substr(sha256(text), 1, 15))::BIGINT) AS fp,
          |  CAST(sum(length(text)) AS BIGINT) AS n_chars
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

      "q169_orc_roundtrip" ->
        s"""SELECT user_id, count(*) AS n, $moneyV AS total
           |FROM events WHERE event_type = 'purchase' AND value > 100.0
           |GROUP BY user_id ORDER BY user_id""".stripMargin,

      // q166: model counts, the int/int probability divisions, and the
      // position-ordered fold all replayed relationally; list_reduce's
      // no-init fold (p1 as seed) ≡ the engine's 0.0+p1 seed exactly
      "q166_bigram_lm_score" ->
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents
           |           WHERE len($toks) >= 2),
           |i AS (SELECT doc_id, unnest(range(1, len(tk))) AS i, tk FROM t),
           |b AS (SELECT doc_id, i - 1 AS pos, tk[i] AS w1, tk[i + 1] AS w2
           |      FROM i),
           |c2 AS (SELECT w1, w2, count(*) AS c2 FROM b GROUP BY w1, w2),
           |c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1),
           |m AS (SELECT c2.w1, c2.w2,
           |        CAST(c2.c2 AS DOUBLE) / CAST(c1.c1 AS DOUBLE) AS p
           |      FROM c2 JOIN c1 ON c2.w1 = c1.w1),
           |j AS (SELECT b.doc_id, b.pos, m.p
           |      FROM b JOIN m ON b.w1 = m.w1 AND b.w2 = m.w2),
           |s AS (SELECT doc_id, count(*) AS n_bigrams,
           |        list_reduce(list_transform(
           |          list_sort(list(struct_pack(pos := pos, p := p))),
           |          x -> x.p), (a, c) -> a + c) AS psum
           |      FROM j GROUP BY doc_id)
           |SELECT doc_id, n_bigrams,
           |  psum / CAST(n_bigrams AS DOUBLE) AS score
           |FROM s ORDER BY doc_id""".stripMargin,

      // q167: identical moment shapes — bigint Σ/Σ² per dimension, then
      // the one fixed IEEE expression (q − sq/n) / sqrt(sqq/n − mean²)
      "q167_embed_standardize" ->
        """WITH q AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
          |             x -> CAST(floor(x * 1024) AS BIGINT)) AS qv
          |           FROM embeddings),
          |e AS (SELECT vec_id, unnest(qv) AS q, unnest(range(len(qv))) AS d
          |      FROM q),
          |st AS (SELECT d, count(*) AS n, sum(q) AS sq, sum(q * q) AS sqq
          |       FROM e GROUP BY d),
          |m AS (SELECT d, CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
          |        sqrt(CAST(sqq AS DOUBLE) / CAST(n AS DOUBLE) -
          |          (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)) *
          |          (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))) AS std
          |      FROM st)
          |SELECT e.vec_id, e.d AS d, (CAST(e.q AS DOUBLE) - m.mean) / m.std AS z
          |FROM e JOIN m ON e.d = m.d ORDER BY e.vec_id, e.d""".stripMargin,

      // q165: the ListState buffer replayed as lag() windows over the
      // (ts, event_id) per-user total order — the streaming emitted set
      // equals this batch scan because state crosses batches in time order
      "q165_liststate_pattern" ->
        """WITH o AS (SELECT user_id, event_id, event_type,
          |    lag(event_type, 1) OVER
          |      (PARTITION BY user_id ORDER BY ts, event_id) AS p1,
          |    lag(event_type, 2) OVER
          |      (PARTITION BY user_id ORDER BY ts, event_id) AS p2
          |  FROM events)
          |SELECT user_id, event_id FROM o
          |WHERE p2 = 'view' AND p1 = 'click' AND event_type = 'purchase'
          |ORDER BY user_id, event_id""".stripMargin,

      // q164: each hop replayed as a rank-1 row under the (h, dst) order —
      // row_number ≡ the engine's min_by(dst, struct(h, dst)); the hash is
      // the repo-wide sha-60 over the identical "walk:step:dst" string
      "q164_random_walks" -> {
        def hop(i: Int): String =
          s"""s$i AS (SELECT walk_id,
             |  ('0x' || substr(sha256(CAST(walk_id AS VARCHAR) || ':$i:' ||
             |     CAST(dst AS VARCHAR)), 1, 15))::BIGINT AS h, dst
             |  FROM w${i - 1} JOIN d ON d.src = w${i - 1}.v),
             |w$i AS (SELECT walk_id, dst AS v FROM (
             |  SELECT walk_id, dst,
             |    row_number() OVER (PARTITION BY walk_id ORDER BY h, dst) AS rn
             |  FROM s$i) WHERE rn = 1)""".stripMargin
        s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
           |      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
           |      WHERE o_orderpriority = '1-URGENT'),
           |e0 AS (SELECT DISTINCT a.p AS a, b.p AS b
           |       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
           |d AS (SELECT a AS src, b AS dst FROM e0
           |      UNION ALL SELECT b, a FROM e0),
           |w0 AS (SELECT v AS walk_id, v FROM
           |       (SELECT DISTINCT src AS v FROM d) WHERE v < 10),
           |${(1 to 4).map(hop).mkString(",\n")}
           |SELECT walk_id, 0 AS step, v FROM w0
           |UNION ALL SELECT walk_id, 1 AS step, v FROM w1
           |UNION ALL SELECT walk_id, 2 AS step, v FROM w2
           |UNION ALL SELECT walk_id, 3 AS step, v FROM w3
           |UNION ALL SELECT walk_id, 4 AS step, v FROM w4
           |ORDER BY walk_id, step""".stripMargin
      },

      "q163_decontaminate_bloom" ->
        s"""WITH tk AS (SELECT doc_id, source, $toks AS tk FROM documents
           |            WHERE len($toks) > 0),
           |sh0 AS (SELECT doc_id, source, list_distinct(list_transform(
           |    range(1, greatest(len(tk) - 3, 1) + 1),
           |    i -> ('0x' || substr(sha256(array_to_string(tk[i:i+3], ' ')), 1, 15))::BIGINT)) AS sh
           |  FROM tk),
           |t AS (SELECT doc_id, unnest(sh) AS h FROM sh0 WHERE source <> 'src0'),
           |b AS (SELECT DISTINCT unnest(sh) AS h FROM sh0 WHERE source = 'src0')
           |SELECT doc_id, count(DISTINCT t.h) AS n_hits
           |FROM t JOIN b ON t.h = b.h
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      // q162: open/close replayed as rank-1 rows under the (ts, event_id)
      // total order (min_by/max_by over a struct key ≡ argmin/argmax on
      // that order); high/low/count/decimal-volume are plain aggregates
      "q162_ohlc_bars" ->
        s"""WITH r AS (SELECT user_id, CAST(ts AS DATE) AS day, value,
           |  row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
           |                     ORDER BY ts, event_id) AS rn_a,
           |  row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
           |                     ORDER BY ts DESC, event_id DESC) AS rn_d
           | FROM events)
           |SELECT user_id, day,
           |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
           |  max(value) AS high, min(value) AS low,
           |  max(CASE WHEN rn_d = 1 THEN value END) AS close,
           |  count(*) AS n_ticks,
           |  $moneyV AS volume
           |FROM r GROUP BY user_id, day ORDER BY user_id, day""".stripMargin,

      // q161: weights re-materialized as the identical exact rationals
      // (<int>/1000.0), the score as an ordered list_reduce over the
      // token stream — bit-for-bit the expression's left-to-right fold
      "q161_feature_hash_gate" -> {
        val w = (0 until graft.functions.FeatureHashScore.Slots)
          .map(i => s"${graft.functions.FeatureHashScore.weightInt(i)}/1000.0")
          .mkString("[", ", ", "]")
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
           |s AS (SELECT doc_id,
           |        CASE WHEN len(tk) = 0 THEN 0.0
           |             ELSE list_reduce(list_transform(tk,
           |               tok -> ($w)[CAST(('0x' || substr(sha256(tok), 1, 15))::BIGINT % 64 AS INTEGER) + 1]),
           |               (a, b) -> a + b) END AS score
           |      FROM t)
           |SELECT doc_id, score, score > 0.0 AS keep
           |FROM s ORDER BY doc_id""".stripMargin
      },

      // q160: the UDTF's fold replayed relationally — parallel unnest of
      // (token, position), then min(pos)/count per (doc, token)
      "q160_token_stats_udtf" ->
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
           |p AS (SELECT doc_id, unnest(tk) AS token,
           |             unnest(range(len(tk))) AS pos FROM t)
           |SELECT doc_id, token, min(pos) AS first_pos, count(*) AS n
           |FROM p GROUP BY doc_id, token
           |ORDER BY doc_id, first_pos""".stripMargin,

      // q159: the q55 pipeline replayed from raw text (the oracle can't
      // see the engine's sketch table — it doesn't need to: signatures
      // are deterministic, so recompute ≡ read-back), with candidates
      // restricted to pairs touching the doc_id%10=0 batch
      "q159_incremental_minhash" ->
        s"""WITH toks AS (
           |  SELECT doc_id, $toks AS tk FROM documents),
           |sh0 AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    range(1, greatest(len(tk) - 2, 1) + 1),
           |    i -> ('0x' || substr(sha256(array_to_string(tk[i:i+2], ' ')), 1, 15))::BIGINT)) AS sh
           |  FROM toks),
           |sigs AS (SELECT doc_id, sh, $minhashSigs FROM sh0),
           |keys AS (SELECT doc_id, sh, $minhashKeys FROM sigs),
           |cand AS (
           |  SELECT a.doc_id AS id_a, c.doc_id AS id_b, a.sh AS sh_a, c.sh AS sh_b
           |  FROM keys a JOIN keys c ON a.doc_id < c.doc_id
           |   AND (a.doc_id % 10 = 0 OR c.doc_id % 10 = 0)
           |   AND (a.b0 = c.b0 OR a.b1 = c.b1 OR a.b2 = c.b2 OR a.b3 = c.b3))
           |SELECT id_a, id_b, jaccard FROM (
           |  SELECT id_a, id_b,
           |    CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) /
           |      (CAST(len(sh_a) + len(sh_b) AS DOUBLE) -
           |       CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)) AS jaccard
           |  FROM cand)
           |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,

      // q158: thresholds re-derived from scratch — Σ√n as an ordered
      // list_reduce matching the driver's source-name fold, the same
      // ((√n/Σ√n)·⌊0.5·N⌋)/n → cap → ⌊·10⁶⌋ double chain, keep = sha-60
      // mod 10⁶ under threshold
      "q158_temperature_mix" ->
        """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
          |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM c),
          |sw AS (SELECT list_reduce(list(sqrt(CAST(n AS DOUBLE)) ORDER BY source),
          |                          (a, b) -> a + b) AS sumw FROM c),
          |th AS (SELECT source, n,
          |        CAST(floor(least(1.0,
          |          sqrt(CAST(n AS DOUBLE)) / sumw * floor(0.5 * nt) / CAST(n AS DOUBLE))
          |          * 1000000.0) AS BIGINT) AS thresh
          |       FROM c, tot, sw)
          |SELECT d.source, count(*) AS n_docs, any_value(th.thresh) AS thresh,
          |       CAST(sum(CASE WHEN ('0x' || substr(sha256(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
          |                          % 1000000 < th.thresh
          |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
          |FROM documents d JOIN th ON d.source = th.source
          |GROUP BY d.source ORDER BY d.source""".stripMargin,

      // q157: the oracle replays the whole prefix-filter chain — df
      // ranks from the identical (df, h) total order, the n−⌈t·n⌉+1
      // prefix, the two-sided length filter, rank-set Jaccard — so the
      // blocking itself is verified, not just the survivors
      "q157_prefix_filter_join" ->
        """WITH w AS (SELECT doc_id,
          |         list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS ws
          |       FROM documents),
          |s AS (SELECT doc_id,
          |        list_distinct(list_transform(ws, t -> ('0x' || substr(sha256(t), 1, 15))::BIGINT)) AS hs
          |      FROM w),
          |f AS (SELECT doc_id, hs FROM s WHERE len(hs) > 0),
          |tok AS (SELECT doc_id, unnest(hs) AS h FROM f),
          |dfc AS (SELECT h, count(*) AS df FROM tok GROUP BY h),
          |rk AS (SELECT h, row_number() OVER (ORDER BY df, h) AS r FROM dfc),
          |sets AS (SELECT doc_id, list_sort(list(rk.r)) AS rs, count(*) AS n
          |         FROM tok JOIN rk USING (h) GROUP BY doc_id),
          |pre AS (SELECT doc_id, n,
          |          unnest(list_slice(rs, 1, CAST(n - ceil(0.8 * n) + 1 AS BIGINT))) AS p,
          |          unnest(range(CAST(n - ceil(0.8 * n) + 1 AS BIGINT))) AS i
          |        FROM sets),
          |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          |         FROM pre a JOIN pre b ON a.p = b.p AND a.doc_id < b.doc_id
          |          AND b.n >= ceil(0.8 * a.n) AND a.n >= ceil(0.8 * b.n)
          |          AND least(a.n - a.i, b.n - b.i) >= ceil(0.8 / (1 + 0.8) * (a.n + b.n)))
          |SELECT id_a, id_b, jaccard FROM (
          |  SELECT id_a, id_b,
          |    CAST(len(list_intersect(sa.rs, sb.rs)) AS DOUBLE) /
          |      (CAST(sa.n + sb.n AS DOUBLE) -
          |       CAST(len(list_intersect(sa.rs, sb.rs)) AS DOUBLE)) AS jaccard
          |  FROM cand JOIN sets sa ON cand.id_a = sa.doc_id
          |            JOIN sets sb ON cand.id_b = sb.doc_id)
          |WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin,

      // q156: the emitted milestone set ≡ {powers of two ≤ final count}
      // per (user, type) under any micro-batch split — replayed as a
      // plain count + power-list filter
      "q156_stream_milestones" ->
        """WITH c AS (SELECT user_id, event_type, count(*) AS n
          |           FROM events GROUP BY user_id, event_type)
          |SELECT user_id, event_type,
          |       unnest(list_filter(
          |         [1,2,4,8,16,32,64,128,256,512,1024,2048,4096,8192,16384,
          |          32768,65536,131072,262144,524288,1048576]::BIGINT[],
          |         p -> p <= n)) AS milestone
          |FROM c ORDER BY user_id, event_type, milestone""".stripMargin,

      // q155: the oracle is the direct rank definition — value at 1-based
      // rank ⌈p·n⌉ under the (value, event_id) total order; ⌈p·n⌉ is the
      // same IEEE double → ceil in both engines, and the result is an
      // actual data value, so no interpolation semantics to align
      "q155_twopass_quantiles" ->
        """WITH n AS (SELECT event_type, count(*) AS n FROM events GROUP BY event_type),
          |r AS (SELECT event_type, value,
          |        row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn
          |      FROM events),
          |sel AS (SELECT r.event_type,
          |         max(CASE WHEN rn = greatest(CAST(ceil(0.5 * n.n) AS BIGINT), 1) THEN value END) AS p50,
          |         max(CASE WHEN rn = greatest(CAST(ceil(0.9 * n.n) AS BIGINT), 1) THEN value END) AS p90
          |        FROM r JOIN n USING (event_type) GROUP BY r.event_type)
          |SELECT sel.event_type, n.n AS n, p50, p90
          |FROM sel JOIN n USING (event_type) ORDER BY event_type""".stripMargin,

      // q154: the oracle re-derives the sign matrix from sha256 (bit k of
      // sha60('rp:j')), replays the projection as an ordered list_reduce
      // fold (the expression's left-to-right sum), then the same
      // shortlist → exact-re-rank chain; cosine arithmetic is the shared
      // fixed-shape double form
      "q154_jl_ann" ->
        s"""WITH masks AS (SELECT list_transform(range(64), j ->
           |    ('0x' || substr(sha256('rp:' || CAST(j AS VARCHAR)), 1, 15))::BIGINT) AS m),
           |proj AS (
           |  SELECT vec_id, embedding,
           |    list_transform(range(16), k ->
           |      list_reduce(list_transform(range(len(embedding)), j ->
           |        CASE WHEN ((m[j+1] >> k) & 1) = 1
           |             THEN CAST(embedding[j+1] AS DOUBLE)
           |             ELSE -CAST(embedding[j+1] AS DOUBLE) END),
           |        (a, b) -> a + b)) AS p
           |  FROM embeddings, masks),
           |q AS (SELECT p AS pq, embedding AS qv FROM proj WHERE vec_id = 0),
           |cand AS (
           |  SELECT vec_id, embedding, ${cosine("p", "pq")} AS psim
           |  FROM proj, q WHERE vec_id <> 0
           |  ORDER BY psim DESC, vec_id LIMIT 50)
           |SELECT vec_id, psim, ${cosine("embedding", "qv")} AS sim
           |FROM cand, q
           |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

      // q153: the oracle replays ShingleHashSha's window semantics
      // exactly — nWindows = max(len-(W-1), 1), end-clamped slices, the
      // degenerate whole-text window for short docs, per-doc distinct —
      // then the same occurrence-count/roll-up; the one double division
      // is IEEE-exact in both engines
      "q153_substring_dedup" ->
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
           |wd AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    range(1, greatest(len(tk) - 9, 1) + 1),
           |    i -> ('0x' || substr(sha256(array_to_string(tk[i:i+9], ' ')), 1, 15))::BIGINT)) AS ws
           |  FROM t),
           |wins AS (SELECT doc_id, unnest(ws) AS w FROM wd),
           |cnt AS (SELECT doc_id, w, count(*) OVER (PARTITION BY w) AS ndocs FROM wins),
           |perdoc AS (
           |  SELECT doc_id, count(*) AS n_windows,
           |         CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
           |  FROM cnt GROUP BY doc_id)
           |SELECT doc_id, n_windows, n_dup_windows,
           |       CAST(n_dup_windows AS DOUBLE) / CAST(n_windows AS DOUBLE) AS dup_frac
           |FROM perdoc WHERE n_dup_windows > 0 ORDER BY doc_id""".stripMargin,

      // q152: sketch set-algebra replay — per-type 64-smallest distinct
      // hashes, pair union re-sliced to 64, membership counts; the
      // single double division is exact IEEE in both engines
      "q152_kmv_jaccard" ->
        """WITH h AS (SELECT DISTINCT event_type,
          |    ('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
          |  FROM events),
          |r AS (SELECT event_type, h,
          |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM h),
          |s AS (SELECT event_type, list(h ORDER BY h) AS kmv
          |      FROM r WHERE rn <= 64 GROUP BY event_type),
          |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
          |        a.kmv AS sa, b.kmv AS sb
          |      FROM s a JOIN s b ON a.event_type < b.event_type),
          |u AS (SELECT type_a, type_b, sa, sb,
          |        list_sort(list_distinct(list_concat(sa, sb)))[1:64] AS uk FROM p)
          |SELECT type_a, type_b,
          |  CAST(len(uk) AS BIGINT) AS n_union_k,
          |  CAST(len(list_filter(uk, x -> list_contains(sa, x) AND list_contains(sb, x))) AS BIGINT) AS n_both,
          |  CAST(len(list_filter(uk, x -> list_contains(sa, x) AND list_contains(sb, x))) AS DOUBLE)
          |    / CAST(len(uk) AS DOUBLE) AS j_est
          |FROM u ORDER BY type_a, type_b""".stripMargin,
      // q151: the streamed grid equals the batch grid cell-for-cell
      // (order-free merge), so the oracle is the q146 shape over
      // events/user_id — no streaming machinery to replay
      "q151_stream_countmin" ->
        """WITH t AS (SELECT event_type,
          |    ('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
          |  FROM events),
          |cells AS (SELECT event_type, i,
          |    (((h % 2147483647) * (2*i + 1) + 7919*(i + 1)) % 2147483647) % 64 AS j,
          |    count(*) AS cnt
          |  FROM t CROSS JOIN (SELECT unnest(range(0, 2)) AS i) r
          |  GROUP BY event_type, i, j)
          |SELECT event_type, CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, cnt
          |FROM cells ORDER BY event_type, i, j""".stripMargin,
      // q150: three BPE rounds as chained CTEs — same positional pair
      // counts, same (cnt DESC, pair) argmax, same left-to-right fuse
      // fold (list_reduce with a prepended empty accumulator)
      "q150_bpe_merges" -> {
        def round(i: Int): String = {
          val prev = s"s${i - 1}"
          s"""p$i AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
             |  SELECT freq, unnest(list_transform(range(1, len(seq)),
             |    j -> seq[j] || '|' || seq[j+1])) AS pair FROM $prev)
             |  GROUP BY pair),
             |m$i AS (SELECT $i AS step, pair, cnt,
             |    string_split(pair, '|')[1] AS a, string_split(pair, '|')[2] AS b
             |  FROM p$i ORDER BY cnt DESC, pair LIMIT 1),
             |s$i AS (SELECT freq,
             |    list_reduce(
             |      list_prepend(CAST([] AS VARCHAR[]), list_transform(seq, c -> [c])),
             |      (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m.a AND x[1] = m.b
             |                  THEN list_append(acc[1:len(acc)-1], m.a || m.b)
             |                  ELSE list_concat(acc, x) END) AS seq
             |  FROM ${if (i == 1) "s0" else prev} CROSS JOIN m$i m)""".stripMargin
        }
        s"""WITH w AS (
           |  SELECT tok AS word, count(*) AS freq
           |  FROM (SELECT unnest($toks) AS tok FROM documents) t
           |  WHERE regexp_matches(tok, '^[a-z]+$$') AND strlen(tok) >= 2
           |  GROUP BY tok),
           |s0 AS (SELECT freq,
           |  list_transform(range(1, strlen(word) + 1), i -> word[i]) AS seq FROM w),
           |${round(1)},
           |${round(2)},
           |${round(3)}
           |SELECT step, pair, cnt FROM m1
           |UNION ALL SELECT step, pair, cnt FROM m2
           |UNION ALL SELECT step, pair, cnt FROM m3
           |ORDER BY step""".stripMargin
      },
      // q148/q149: both Lloyd rounds replayed relationally — explode to
      // (vec_id, dim, x), join the centroid long-form, bigint distance
      // sums, argmin via row_number with the same (dist, cid) tie order,
      // centroid update as the same exact floor(sum/count)
      "q148_kmeans" ->
        s"""WITH $kmeansCtes
           |SELECT vec_id, cid FROM s2 ORDER BY vec_id""".stripMargin,
      // q149: SemDeDup end-to-end — the q148 clusters become the
      // similarity blocking, so the pair search replays the identical
      // learned partition before the exact cosine verify
      "q149_semdedup_pairs" ->
        s"""WITH $kmeansCtes,
           |emb2 AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, s2.cid
           |         FROM embeddings e JOIN s2 ON e.vec_id = s2.vec_id)
           |SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b,
           |  ${cosine("a.v", "b.v")} AS sim
           |FROM emb2 a JOIN emb2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
           |WHERE ${cosine("a.v", "b.v")} >= 0.35
           |ORDER BY id_a, id_b""".stripMargin,
      // q147: the bottom-k sample is the rn <= k prefix of the
      // (hash, value) ordering; quartile indices use integer division so
      // both engines pick the identical sample element
      "q147_sample_quantiles" ->
        """WITH h AS (SELECT event_type, CAST(value AS DOUBLE) AS value,
          |    ('0x' || substr(sha256(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT AS h
          |  FROM events),
          |s AS (SELECT event_type, value,
          |    row_number() OVER (PARTITION BY event_type ORDER BY h, value) AS rn FROM h),
          |smp AS (SELECT event_type, value FROM s WHERE rn <= 256),
          |st AS (SELECT event_type, value,
          |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS vr,
          |    count(*) OVER (PARTITION BY event_type) AS n FROM smp)
          |SELECT event_type, max(n) AS n_sample,
          |  max(CASE WHEN vr = (n-1) // 4 + 1 THEN value END) AS q25,
          |  max(CASE WHEN vr = (n-1) // 2 + 1 THEN value END) AS q50,
          |  max(CASE WHEN vr = ((n-1) * 3) // 4 + 1 THEN value END) AS q75
          |FROM st GROUP BY event_type ORDER BY event_type""".stripMargin,
      // q146: each cell of the Count-Min grid is, by construction, the
      // count of token occurrences whose permuted sha-60 hash lands
      // there — so the oracle builds the identical grid as a GROUP BY
      // over (lang, row, permuted-hash mod width)
      "q146_countmin" ->
        s"""WITH t AS (SELECT lang,
           |    ('0x' || substr(sha256(tok), 1, 15))::BIGINT AS h
           |  FROM (SELECT lang, unnest($toks) AS tok FROM documents)),
           |cells AS (SELECT lang, i,
           |    (((h % 2147483647) * (2*i + 1) + 7919*(i + 1)) % 2147483647) % 256 AS j,
           |    count(*) AS cnt
           |  FROM t CROSS JOIN (SELECT unnest(range(0, 4)) AS i) r
           |  GROUP BY lang, i, j)
           |SELECT lang, CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, cnt
           |FROM cells ORDER BY lang, i, j""".stripMargin,
      "q120_funnel" ->
        """WITH s1 AS (SELECT user_id, ts, event_type,
          |  min(CASE WHEN event_type = 'view' THEN ts END)
          |    OVER (PARTITION BY user_id) AS t1 FROM events),
          |s2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
          |         OVER (PARTITION BY user_id) AS t2 FROM s1),
          |s3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
          |         OVER (PARTITION BY user_id) AS t3 FROM s2),
          |g AS (SELECT
          |  count(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END) AS n1,
          |  count(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END) AS n2,
          |  count(DISTINCT CASE WHEN t3 IS NOT NULL THEN user_id END) AS n3 FROM s3)
          |SELECT 'view' AS stage, n1 AS n_users FROM g
          |UNION ALL SELECT 'view>click', n2 FROM g
          |UNION ALL SELECT 'view>click>purchase', n3 FROM g
          |ORDER BY stage""".stripMargin,
      "q121_retention" ->
        """WITH byday AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
          |c AS (SELECT user_id, min(d) AS c0 FROM byday GROUP BY user_id)
          |SELECT c0 AS cohort_date, CAST(b.d - c.c0 AS INT) AS day_offset,
          |  count(DISTINCT b.user_id) AS n_users
          |FROM byday b JOIN c ON b.user_id = c.user_id
          |WHERE b.d - c.c0 <= 7
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "q122_grouped_corr" ->
        """WITH g AS (SELECT l_returnflag, count(*) AS n,
          |  sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
          |  sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
          |  sum(CAST(CAST(l_quantity AS DECIMAL(18,2))
          |      * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxx,
          |  sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
          |      * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS syy,
          |  sum(CAST(CAST(l_quantity AS DECIMAL(18,2))
          |      * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxy
          |  FROM lineitem GROUP BY l_returnflag)
          |SELECT l_returnflag, n,
          |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          |  / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          |       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          |     * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
          |       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_qty_price
          |FROM g ORDER BY l_returnflag""".stripMargin,
      // batch replay of the hopping-window assignment: every event joins
      // the two epoch-aligned 2-day windows starting at day(ts)-1 and
      // day(ts); decimal sums make the totals split-invariant
      "q123_stream_hopping" ->
        s"""WITH x AS (SELECT CAST(ts AS DATE) AS d, event_type, value FROM events),
           |w AS (SELECT d - off AS w_start, event_type, value
           |      FROM x, unnest([0, 1]) AS t(off))
           |SELECT w_start, w_start + 2 AS w_end, event_type,
           |  count(*) AS n, $moneyV AS total_value
           |FROM w GROUP BY w_start, event_type
           |ORDER BY w_start, event_type""".stripMargin,
      "q124_histogram" ->
        s"""WITH b AS (SELECT event_type,
           |  CAST(floor(value / 50.0) AS INT) AS bin, value FROM events)
           |SELECT event_type, bin, count(*) AS n, $moneyV AS bin_value,
           |  CAST(bin * 50 AS DOUBLE) AS bin_lo
           |FROM b GROUP BY event_type, bin ORDER BY event_type, bin""".stripMargin,
      "q125_gap_detect" ->
        """WITH ids AS (SELECT DISTINCT event_id FROM events WHERE event_id % 97 <> 0),
          |r AS (SELECT event_id, event_id - row_number()
          |        OVER (ORDER BY event_id) AS grp FROM ids),
          |i AS (SELECT min(event_id) AS lo, max(event_id) AS hi FROM r GROUP BY grp),
          |k AS (SELECT lo, hi, row_number() OVER (ORDER BY lo) AS irn FROM i)
          |SELECT a.hi + 1 AS gap_start, b.lo - 1 AS gap_end
          |FROM k a JOIN k b ON b.irn = a.irn + 1
          |ORDER BY gap_start""".stripMargin,
      "q126_transition_matrix" ->
        """WITH p AS (SELECT event_type AS prev_type,
          |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          |    AS next_type FROM events),
          |c AS (SELECT prev_type, next_type, count(*) AS n FROM p
          |      WHERE next_type IS NOT NULL GROUP BY prev_type, next_type)
          |SELECT prev_type, next_type, n,
          |  CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY prev_type)
          |    AS DOUBLE) AS p
          |FROM c ORDER BY prev_type, next_type""".stripMargin,
      "q127_journey_paths" ->
        """WITH j AS (SELECT user_id, CAST(ts AS DATE) AS day,
          |  string_agg(event_type, '>' ORDER BY ts, event_id) AS path
          |  FROM events GROUP BY user_id, CAST(ts AS DATE))
          |SELECT path, count(*) AS n_journeys
          |FROM j GROUP BY path
          |ORDER BY n_journeys DESC, path LIMIT 20""".stripMargin,
      "q128_pq_adc" -> pqOracleSql,
      "q129_rolling_active" ->
        """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
          |days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
          |SELECT day, count(DISTINCT user_id) AS active_7d
          |FROM days JOIN ud ON ud.d BETWEEN day - 6 AND day
          |GROUP BY day ORDER BY day""".stripMargin,
      "q130_ewma" ->
        s"""WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
           |  $moneyV AS v FROM events GROUP BY user_id, CAST(ts AS DATE))
           |SELECT user_id, count(*) AS n_days,
           |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(v ORDER BY day)),
           |    (acc, x) -> (acc * CAST(0.8 AS DOUBLE)) + (x * CAST(0.2 AS DOUBLE)))
           |    AS ewma
           |FROM daily GROUP BY user_id ORDER BY user_id""".stripMargin,
      "q131_stream_left_join" ->
        """WITH c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS cus
          |           FROM events WHERE event_type = 'click'),
          |b AS (SELECT user_id, event_id AS buy_id, epoch_us(ts) AS bus
          |      FROM events WHERE event_type = 'purchase')
          |SELECT click_id, buy_id, bus - cus AS gap_us
          |FROM c LEFT JOIN b ON b.user_id = c.user_id
          |  AND bus >= cus AND bus <= cus + 3600000000
          |ORDER BY click_id, buy_id""".stripMargin,
      "q132_topk_agg" ->
        """SELECT event_type, CAST(rn AS INT) AS rk, value, event_id FROM (
          |  SELECT event_type, value, event_id, row_number() OVER
          |    (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
          |  FROM events) t
          |WHERE rn <= 3 ORDER BY event_type, rk""".stripMargin,
      "q133_pagerank" -> pagerankOracleSql(3),
      "q134_welch_ttest" ->
        """WITH g AS (SELECT event_type, count(*) AS n,
          |    sum(CAST(value AS DECIMAL(18,2))) AS s,
          |    sum(CAST(CAST(value AS DECIMAL(18,2))
          |        * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS ss
          |  FROM events GROUP BY event_type),
          |a AS (SELECT event_type AS grp, n AS n1, s AS s1, ss AS ss1
          |      FROM g WHERE event_type <> 'view'),
          |b AS (SELECT n AS n2, s AS s2, ss AS ss2
          |      FROM g WHERE event_type = 'view'),
          |j AS (SELECT grp, n1, n2,
          |    CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d,
          |    CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
          |    CAST(ss1 AS DOUBLE) AS ss1d, CAST(ss2 AS DOUBLE) AS ss2d
          |  FROM a CROSS JOIN b)
          |SELECT grp, n1, n2,
          |  ((s1d / n1d) - (s2d / n2d)) /
          |  sqrt((((ss1d - ((s1d * s1d) / n1d)) / (n1d - 1.0)) / n1d)
          |     + (((ss2d - ((s2d * s2d) / n2d)) / (n2d - 1.0)) / n2d))
          |    AS t_welch
          |FROM j ORDER BY grp""".stripMargin,
      "q135_incremental_agg" ->
        s"""SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n,
           |  $moneyV AS total_value
           |FROM events GROUP BY user_id, CAST(ts AS DATE)
           |ORDER BY user_id, day""".stripMargin,
      "q136_bfs_hops" ->
        """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
          |      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
          |      WHERE o_orderpriority = '1-URGENT'),
          |e0 AS (SELECT DISTINCT a.p AS a, b.p AS b
          |       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
          |d AS (SELECT a AS src, b AS dst FROM e0
          |      UNION ALL SELECT b, a FROM e0),
          |v AS (SELECT DISTINCT src AS v FROM d),
          |h0 AS (SELECT v, 0 AS hop FROM v WHERE v < 10),
          |n1 AS (SELECT DISTINCT d.dst AS v FROM h0 JOIN d ON d.src = h0.v),
          |h1 AS (SELECT * FROM h0 UNION ALL
          |       SELECT v, 1 FROM n1 ANTI JOIN h0 USING (v)),
          |n2 AS (SELECT DISTINCT d.dst AS v
          |       FROM h1 JOIN d ON d.src = h1.v AND h1.hop = 1),
          |h2 AS (SELECT * FROM h1 UNION ALL
          |       SELECT v, 2 FROM n2 ANTI JOIN h1 USING (v)),
          |n3 AS (SELECT DISTINCT d.dst AS v
          |       FROM h2 JOIN d ON d.src = h2.v AND h2.hop = 2),
          |h3 AS (SELECT * FROM h2 UNION ALL
          |       SELECT v, 3 FROM n3 ANTI JOIN h2 USING (v))
          |SELECT v, hop FROM h3 ORDER BY hop, v""".stripMargin,
      "q137_group_regression" ->
        """WITH g AS (SELECT l_returnflag, count(*) AS n,
          |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
          |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
          |    sum(CAST(CAST(l_quantity AS DECIMAL(18,2))
          |        * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxx,
          |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
          |        * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS syy,
          |    sum(CAST(CAST(l_quantity AS DECIMAL(18,2))
          |        * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxy
          |  FROM lineitem GROUP BY l_returnflag),
          |j AS (SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
          |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
          |    CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd,
          |    CAST(sxy AS DOUBLE) AS sxyd FROM g),
          |k AS (SELECT l_returnflag, n, nd, sxd, syd, syyd, sxxd, sxyd,
          |    ((nd * sxyd) - (sxd * syd)) / ((nd * sxxd) - (sxd * sxd)) AS slope,
          |    ((nd * sxyd) - (sxd * syd)) /
          |      (sqrt((nd * sxxd) - (sxd * sxd)) * sqrt((nd * syyd) - (syd * syd)))
          |      AS r
          |  FROM j)
          |SELECT l_returnflag, n, slope,
          |  (syd - (slope * sxd)) / nd AS intercept, r * r AS r2
          |FROM k ORDER BY l_returnflag""".stripMargin,
      "q138_cusum" ->
        """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
          |    sum(CAST(value AS DECIMAL(18,2))) AS tv
          |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
          |p AS (SELECT event_type, day,
          |    sum(tv - CAST(2500 AS DECIMAL(18,2))) OVER
          |      (PARTITION BY event_type ORDER BY day) AS p
          |  FROM daily)
          |SELECT event_type, day,
          |  CAST(p - least(CAST(0 AS DECIMAL(38,2)),
          |    min(p) OVER (PARTITION BY event_type ORDER BY day)) AS DOUBLE)
          |    AS cusum
          |FROM p ORDER BY event_type, day""".stripMargin,
      "q139_entity_resolution" ->
        """WITH RECURSIVE d AS (SELECT doc_id, lang, substr(text, 1, 24) AS pfx,
          |                  n_chars // 40 AS bkt FROM documents),
          |pe AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          |       FROM d a JOIN d b ON a.lang = b.lang AND a.bkt = b.bkt
          |         AND a.doc_id < b.doc_id
          |       WHERE levenshtein(a.pfx, b.pfx) <= 6),
          |ed AS (SELECT id_a AS src, id_b AS dst FROM pe
          |       UNION ALL SELECT id_b, id_a FROM pe),
          |nodes AS (SELECT DISTINCT src AS id FROM ed),
          |reach(id, lbl) AS (
          |  SELECT id, id FROM nodes
          |  UNION
          |  SELECT e.dst, r.lbl FROM reach r JOIN ed e ON e.src = r.id),
          |comp AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
          |SELECT doc_id, coalesce(comp.cluster_id, doc_id) AS canon_id
          |FROM documents LEFT JOIN comp ON comp.id = doc_id
          |ORDER BY doc_id""".stripMargin,
      "q140_tokenize_pack" ->
        s"""WITH vocab AS (
           |  SELECT tok, CAST(row_number() OVER (ORDER BY n DESC, tok) AS INTEGER) AS id
           |  FROM (SELECT tok, count(*) AS n
           |        FROM (SELECT unnest($toks) AS tok FROM documents)
           |        GROUP BY tok ORDER BY n DESC, tok LIMIT 16)),
           |d0 AS (SELECT doc_id, lang, $toks AS toks FROM documents),
           |pre AS (SELECT doc_id, coalesce(CAST(sum(len(toks)) OVER
           |          (PARTITION BY lang ORDER BY doc_id
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |          AS BIGINT), 0) AS before FROM d0),
           |tk AS (SELECT doc_id, lang, unnest(range(len(toks))) AS pos,
           |              unnest(toks) AS tok FROM d0),
           |st AS (SELECT tk.doc_id, tk.lang, pre.before + tk.pos AS p,
           |              coalesce(v.id, 0) AS id
           |       FROM tk LEFT JOIN vocab v ON v.tok = tk.tok
           |       JOIN pre ON pre.doc_id = tk.doc_id)
           |SELECT lang, p // 128 AS block_id, count(*) AS n_tokens,
           |  count(DISTINCT doc_id) AS n_docs,
           |  CAST(sum(((p % 128) + 1) * id) AS BIGINT) AS ids_fingerprint,
           |  CAST(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
           |FROM st GROUP BY lang, p // 128 ORDER BY lang, block_id""".stripMargin,
      "q141_stream_records" ->
        """WITH r AS (SELECT user_id, event_id, value,
          |    max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
          |  FROM events)
          |SELECT user_id, event_id, value FROM r
          |WHERE prev_max IS NULL OR value > prev_max
          |ORDER BY user_id, event_id""".stripMargin,
      "q142_typed_wmean" ->
        """WITH c AS (SELECT event_type,
          |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
          |    (event_id % 3) + 1 AS w
          |  FROM events)
          |SELECT event_type,
          |  CAST(sum(cents * w) AS DOUBLE) /
          |    (CAST(sum(w) AS DOUBLE) * 100.0) AS wmean
          |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
      "q143_sketch_rollup" ->
        """WITH h AS (SELECT DISTINCT event_type,
          |    ('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
          |  FROM events),
          |r AS (SELECT event_type, h,
          |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
          |      FROM h)
          |SELECT event_type, CAST(count(*) AS BIGINT) AS k_size,
          |  max(h) AS kth_min, CAST(sum(h) AS BIGINT) AS mins_sum
          |FROM r WHERE rn <= 16
          |GROUP BY event_type ORDER BY event_type""".stripMargin,

      // q199: every stage exact integers until the final sqrt·sqrt
      // division; idf surrogate (n_docs·1000)//df avoids transcendental
      // log so the replay is bit-identical
      "q199_tfidf_docsim" ->
        s"""WITH tk AS (SELECT doc_id, $toks AS ts FROM documents),
           |sh AS (SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS sh
           |       FROM tk, unnest(range(1, len(ts) - 1)) AS r(i)
           |       WHERE len(ts) >= 3),
           |tf AS (SELECT doc_id, sh, count(*) AS tf FROM sh GROUP BY 1, 2),
           |dfc AS (SELECT sh, count(*) AS df FROM tf GROUP BY 1),
           |nd AS (SELECT count(*) AS n_docs FROM documents),
           |w AS (SELECT tf.doc_id, tf.sh, dfc.df,
           |        tf.tf * ((nd.n_docs * 1000) // dfc.df) AS w
           |      FROM tf JOIN dfc USING (sh) CROSS JOIN nd
           |      WHERE dfc.df * 5 < nd.n_docs),
           |nm AS (SELECT doc_id, sum(w * w) AS n2 FROM w GROUP BY 1),
           |dt AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |         sum(a.w * b.w) AS dot
           |       FROM w a JOIN w b ON a.sh = b.sh AND a.doc_id < b.doc_id
           |       WHERE a.df >= 2 GROUP BY 1, 2)
           |SELECT doc_a, doc_b,
           |  CAST(dt.dot AS DOUBLE) /
           |  (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS sim
           |FROM dt JOIN nm na ON na.doc_id = dt.doc_a
           |        JOIN nm nb ON nb.doc_id = dt.doc_b
           |ORDER BY sim DESC, doc_a, doc_b LIMIT 20""".stripMargin,

      "q200_label_propagation" -> lpaOracleSql(3),

      // q201/q202: same dense-grid CTEs; interpolation/ACF are
      // fixed-shape double arithmetic over exact BIGINT anchors
      "q201_linear_interp" ->
        s"""WITH $hourGridCtes,
           |nb AS (SELECT event_type, h, eh, c,
           |    last_value(c IGNORE NULLS) OVER wp AS pv,
           |    last_value(CASE WHEN c IS NOT NULL THEN eh END IGNORE NULLS)
           |      OVER wp AS ph,
           |    first_value(c IGNORE NULLS) OVER wn AS nv,
           |    first_value(CASE WHEN c IS NOT NULL THEN eh END IGNORE NULLS)
           |      OVER wn AS nh
           |  FROM ser
           |  WINDOW wp AS (PARTITION BY event_type ORDER BY h
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           |  wn AS (PARTITION BY event_type ORDER BY h
           |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
           |SELECT event_type, h, pv, nv, ph, nh,
           |  CASE WHEN pv IS NULL THEN CAST(nv AS DOUBLE)
           |       WHEN nv IS NULL THEN CAST(pv AS DOUBLE)
           |       ELSE CAST(pv AS DOUBLE) + CAST(nv - pv AS DOUBLE) *
           |         (CAST(eh - ph AS DOUBLE) / CAST(nh - ph AS DOUBLE))
           |  END AS filled
           |FROM nb WHERE c IS NULL ORDER BY event_type, h""".stripMargin,

      "q202_acf" ->
        s"""WITH $hourGridCtes,
           |s2 AS (SELECT event_type, eh, CAST(coalesce(c, 0) AS BIGINT) AS c
           |       FROM ser),
           |lg AS (SELECT unnest(range(1, 6)) AS lag_h),
           |p AS (SELECT a.event_type, lg.lag_h, a.c AS x, b.c AS y
           |      FROM s2 a CROSS JOIN lg
           |      JOIN s2 b ON b.event_type = a.event_type
           |                AND b.eh = a.eh - lg.lag_h),
           |m AS (SELECT event_type, lag_h, count(*) AS n,
           |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           |        CAST(sum(x * y) AS BIGINT) AS sxy,
           |        CAST(sum(x * x) AS BIGINT) AS sxx,
           |        CAST(sum(y * y) AS BIGINT) AS syy
           |      FROM p GROUP BY 1, 2)
           |SELECT event_type, lag_h, n,
           |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
           |  (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
           |   sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
           |     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS acf
           |FROM m ORDER BY event_type, lag_h""".stripMargin,

      // q203: median replayed by the direct rank definition (the q155/
      // q198 hook); mode as (count DESC, value ASC) row_number — exactly
      // the engine's max(struct(c, −value)) argmax
      "q203_mode_median" ->
        """WITH n AS (SELECT l_returnflag, count(*) AS n
          |           FROM lineitem GROUP BY 1),
          |r AS (SELECT l_returnflag, l_quantity, row_number() OVER (
          |        PARTITION BY l_returnflag
          |        ORDER BY l_quantity, l_orderkey) AS rn FROM lineitem),
          |med AS (SELECT r.l_returnflag, max(CASE WHEN rn =
          |          greatest(CAST(ceil(0.5 * n.n) AS BIGINT), 1)
          |          THEN l_quantity END) AS median_qty
          |        FROM r JOIN n USING (l_returnflag) GROUP BY 1),
          |m0 AS (SELECT l_returnflag, l_quantity, count(*) AS c
          |       FROM lineitem GROUP BY 1, 2),
          |md AS (SELECT l_returnflag, l_quantity AS mode_qty, c AS mode_n
          |       FROM (SELECT *, row_number() OVER (PARTITION BY l_returnflag
          |               ORDER BY c DESC, l_quantity) AS rn FROM m0)
          |       WHERE rn = 1)
          |SELECT n.l_returnflag, n.n, med.median_qty, md.mode_qty, md.mode_n
          |FROM n JOIN med USING (l_returnflag) JOIN md USING (l_returnflag)
          |ORDER BY l_returnflag""".stripMargin,

      "q204_listagg" ->
        """WITH r AS (SELECT c_mktsegment, c_name, row_number() OVER (
          |        PARTITION BY c_mktsegment
          |        ORDER BY c_acctbal DESC, c_name) AS rn FROM customer),
          |t AS (SELECT c_mktsegment,
          |        string_agg(c_name, ',' ORDER BY rn) AS top_names
          |      FROM r WHERE rn <= 5 GROUP BY 1),
          |n AS (SELECT c_mktsegment, count(*) AS n_cust
          |      FROM customer GROUP BY 1)
          |SELECT n.c_mktsegment AS segment, n.n_cust, t.top_names
          |FROM n JOIN t ON t.c_mktsegment = n.c_mktsegment
          |ORDER BY segment""".stripMargin,

      // q205: the nine Benford constants must be the SAME doubles on
      // both sides — but DuckDB parses a decimal literal through
      // DECIMAL(w,s) and its decimal→double conversion is off by 1 ulp
      // for log10(4/3), so each constant ships as mantissa/2^57: both
      // operands are exactly representable and the power-of-two division
      // is exact, reproducing Java's double bit-for-bit. floor()
      // mirrors Spark's truncating double→long cast.
      "q205_benford" ->
        s"""WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice)
           |      AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
           |    FROM orders),
           |e(digit, p_exp) AS (VALUES ${(1 to 9).map { d =>
             val p = math.log10(1.0 + 1.0 / d)
             val num = new java.math.BigDecimal(p)
               .multiply(new java.math.BigDecimal(
                 java.math.BigInteger.TWO.pow(57))).toBigIntegerExact
             s"($d, CAST($num AS DOUBLE) / CAST(144115188075855872 AS DOUBLE))"
           }.mkString(", ")}),
           |o AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY 1),
           |t AS (SELECT count(*) AS n_total FROM orders)
           |SELECT o.digit, o.n_obs, t.n_total,
           |  CAST(t.n_total AS DOUBLE) * e.p_exp AS n_exp,
           |  CAST(o.n_obs AS DOUBLE) /
           |    (CAST(t.n_total AS DOUBLE) * e.p_exp) AS excess
           |FROM o CROSS JOIN t JOIN e ON e.digit = o.digit
           |ORDER BY o.digit""".stripMargin,

      "q206_chi2_cells" ->
        """WITH j AS (SELECT c_mktsegment AS segment,
          |        o_orderpriority AS priority
          |      FROM orders JOIN customer ON o_custkey = c_custkey),
          |obs AS (SELECT segment, priority, count(*) AS n_obs
          |        FROM j GROUP BY 1, 2),
          |rt AS (SELECT segment, count(*) AS rt FROM j GROUP BY 1),
          |ct AS (SELECT priority, count(*) AS ct FROM j GROUP BY 1),
          |t AS (SELECT count(*) AS n FROM j),
          |e AS (SELECT obs.segment, obs.priority, obs.n_obs,
          |        CAST(rt.rt * ct.ct AS DOUBLE) / CAST(t.n AS DOUBLE) AS n_exp
          |      FROM obs JOIN rt USING (segment) JOIN ct USING (priority)
          |      CROSS JOIN t)
          |SELECT segment, priority, n_obs, n_exp,
          |  ((CAST(n_obs AS DOUBLE) - n_exp) *
          |   (CAST(n_obs AS DOUBLE) - n_exp)) / n_exp AS chi2_cell
          |FROM e ORDER BY segment, priority""".stripMargin,

      // q207: p10/p90 replayed by the rank definition (ceil(p·n), max 1,
      // ordered by (value, orderkey)) — the twoPassExact hook — then the
      // same value-based trim/clamp with DECIMAL-exact sums
      "q207_trimmed_stats" ->
        """WITH n AS (SELECT l_returnflag, count(*) AS n
          |           FROM lineitem GROUP BY 1),
          |r AS (SELECT l_returnflag, l_extendedprice, row_number() OVER (
          |        PARTITION BY l_returnflag
          |        ORDER BY l_extendedprice, l_orderkey) AS rn FROM lineitem),
          |c AS (SELECT r.l_returnflag,
          |        max(CASE WHEN rn = greatest(CAST(ceil(0.1 * n.n) AS BIGINT),
          |          1) THEN l_extendedprice END) AS p10,
          |        max(CASE WHEN rn = greatest(CAST(ceil(0.9 * n.n) AS BIGINT),
          |          1) THEN l_extendedprice END) AS p90
          |      FROM r JOIN n USING (l_returnflag) GROUP BY 1),
          |t AS (SELECT li.l_returnflag, count(*) AS n_kept,
          |        sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS ts
          |      FROM lineitem li JOIN c USING (l_returnflag)
          |      WHERE l_extendedprice >= c.p10 AND l_extendedprice <= c.p90
          |      GROUP BY 1),
          |w AS (SELECT li.l_returnflag, count(*) AS n,
          |        sum(CAST(least(greatest(l_extendedprice, c.p10), c.p90)
          |          AS DECIMAL(18,2))) AS ws
          |      FROM lineitem li JOIN c USING (l_returnflag) GROUP BY 1)
          |SELECT c.l_returnflag, w.n, t.n_kept, c.p10, c.p90,
          |  CAST(t.ts AS DOUBLE) / CAST(t.n_kept AS DOUBLE) AS trimmed_mean,
          |  CAST(w.ws AS DOUBLE) / CAST(w.n AS DOUBLE) AS winsor_mean
          |FROM c JOIN t USING (l_returnflag) JOIN w USING (l_returnflag)
          |ORDER BY l_returnflag""".stripMargin,

      "q208_sliding_distinct" ->
        """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS d, user_id
          |           FROM events),
          |mx AS (SELECT max(d) AS dmax FROM e),
          |o AS (SELECT CAST(unnest(range(0, 7)) AS INTEGER) AS o),
          |x AS (SELECT event_type, user_id, d + o.o AS day
          |      FROM e CROSS JOIN o)
          |SELECT event_type, day, count(DISTINCT user_id) AS n_users_7d
          |FROM x CROSS JOIN mx WHERE day <= mx.dmax
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      "q209_sorted_neighborhood" ->
        """WITH r AS (SELECT p_partkey, p_name, p_type, row_number() OVER (
          |        ORDER BY p_name, p_partkey) AS rk FROM part),
          |o AS (SELECT unnest(range(1, 4)) AS off),
          |p AS (SELECT a.p_type AS p_type, a.p_name AS name_a,
          |        b.p_name AS name_b
          |      FROM r a CROSS JOIN o
          |      JOIN r b ON b.rk = a.rk + o.off AND b.p_type = a.p_type)
          |SELECT p_type, count(*) AS n_pairs,
          |  CAST(sum(CASE WHEN name_a = name_b THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_same_name
          |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,

      "q210_ngram_novelty" ->
        s"""WITH tk AS (SELECT doc_id, source, $toks AS ts FROM documents),
           |sh0 AS (SELECT doc_id, source,
           |          ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' ||
           |          ts[i+3] || ' ' || ts[i+4] AS g
           |        FROM tk, unnest(range(1, len(ts) - 3)) AS r(i)
           |        WHERE len(ts) >= 5),
           |sh AS (SELECT DISTINCT doc_id, source, g FROM sh0),
           |f AS (SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY 1)
           |SELECT source, count(*) AS n_grams,
           |  CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_first_seen,
           |  CAST(CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
           |    AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
           |FROM sh JOIN f USING (g) GROUP BY 1 ORDER BY 1""".stripMargin,

      "q211_token_burstiness" ->
        s"""WITH t AS (SELECT doc_id, unnest($toks) AS token FROM documents),
           |tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
           |m AS (SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS stf,
           |        CAST(sum(tf * tf) AS BIGINT) AS stf2 FROM tf GROUP BY 1)
           |SELECT token, df, stf AS tf_total,
           |  CAST(df * stf2 - stf * stf AS DOUBLE) /
           |    CAST(df * stf AS DOUBLE) AS fano
           |FROM m WHERE df >= 20 ORDER BY fano DESC, token""".stripMargin,

      "q212_l_diversity" ->
        """WITH g AS (SELECT c_nationkey,
          |        CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bkt,
          |        count(DISTINCT c_mktsegment) AS l_div, count(*) AS grp_n
          |      FROM customer GROUP BY 1, 2)
          |SELECT l_div, count(*) AS n_groups,
          |  CAST(sum(grp_n) AS BIGINT) AS n_rows,
          |  CAST(max(CASE WHEN l_div < 3 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS at_risk
          |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,

      "q213_link_prediction" ->
        """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
          |      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
          |      WHERE o_orderpriority = '1-URGENT'),
          |e0 AS (SELECT DISTINCT a.p AS a, b.p AS b
          |       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
          |d0 AS (SELECT a AS src, b AS dst FROM e0
          |       UNION ALL SELECT b, a FROM e0),
          |dg AS (SELECT src, count(*) AS deg FROM d0 GROUP BY 1),
          |dc AS (SELECT src, dst FROM (
          |         SELECT src, dst, row_number() OVER (
          |           PARTITION BY src ORDER BY dst) AS rn FROM d0)
          |       WHERE rn <= 64),
          |cn AS (SELECT a.dst AS u, b.dst AS v2, count(*) AS c
          |       FROM dc a JOIN dc b ON a.src = b.src AND a.dst < b.dst
          |       GROUP BY 1, 2),
          |ne AS (SELECT cn.u, cn.v2, cn.c FROM cn
          |       ANTI JOIN e0 ON cn.u = e0.a AND cn.v2 = e0.b)
          |SELECT ne.u AS part_a, ne.v2 AS part_b, ne.c,
          |  CAST(ne.c AS DOUBLE) /
          |    CAST(da.deg + db.deg - ne.c AS DOUBLE) AS jac
          |FROM ne JOIN dg da ON da.src = ne.u JOIN dg db ON db.src = ne.v2
          |ORDER BY jac DESC, part_a, part_b LIMIT 20""".stripMargin,

      "q214_pseudonymize" ->
        """WITH cu AS (SELECT c_custkey, c_mktsegment,
          |        ('0x' || substr(sha256('pid:' || CAST(c_custkey AS VARCHAR)),
          |          1, 15))::BIGINT AS pid
          |      FROM customer)
          |SELECT c_mktsegment AS segment, count(*) AS n_orders,
          |  count(DISTINCT pid) AS n_pseudonyms,
          |  count(DISTINCT c_custkey) AS n_customers,
          |  bit_xor(pid) AS pid_checksum
          |FROM orders JOIN cu ON o_custkey = c_custkey
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "q215_two_proportion" ->
        """WITH a AS (SELECT user_id % 2 AS arm, count(*) AS n,
          |        CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
          |          END) AS BIGINT) AS x
          |      FROM events GROUP BY 1),
          |w AS (SELECT CAST(sum(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n0,
          |        CAST(sum(CASE WHEN arm = 0 THEN x END) AS BIGINT) AS x0,
          |        CAST(sum(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n1,
          |        CAST(sum(CASE WHEN arm = 1 THEN x END) AS BIGINT) AS x1
          |      FROM a)
          |SELECT n0, x0, n1, x1,
          |  CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0,
          |  CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
          |  (CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE)
          |     - CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)) /
          |  sqrt((((CAST(x0 AS DOUBLE) + CAST(x1 AS DOUBLE)) /
          |          (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))) *
          |        (1.0 - ((CAST(x0 AS DOUBLE) + CAST(x1 AS DOUBLE)) /
          |          (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))))) *
          |       ((1.0 / CAST(n0 AS DOUBLE)) + (1.0 / CAST(n1 AS DOUBLE))))
          |    AS z
          |FROM w""".stripMargin,

      "q216_token_drift_cells" ->
        s"""WITH t AS (SELECT source, unnest($toks) AS token FROM documents),
           |obs AS (SELECT source, token, count(*) AS n_obs
           |        FROM t GROUP BY 1, 2),
           |st AS (SELECT source, count(*) AS src_tot FROM t GROUP BY 1),
           |tt AS (SELECT token, count(*) AS tok_tot FROM t GROUP BY 1),
           |g AS (SELECT count(*) AS grand FROM t),
           |e AS (SELECT obs.source, obs.token, obs.n_obs,
           |        CAST(st.src_tot * tt.tok_tot AS DOUBLE) /
           |          CAST(g.grand AS DOUBLE) AS n_exp
           |      FROM obs JOIN st USING (source) JOIN tt USING (token)
           |      CROSS JOIN g)
           |SELECT source, token, n_obs, n_exp,
           |  ((CAST(n_obs AS DOUBLE) - n_exp) *
           |   (CAST(n_obs AS DOUBLE) - n_exp)) / n_exp AS chi2_cell
           |FROM e ORDER BY source, token""".stripMargin,

      "q217_equidepth_hist" -> {
        val cases = octiles.map { p =>
          val name = "p" + math.round(p * 100)
          s"max(CASE WHEN rn = greatest(CAST(ceil($p * n.n) AS BIGINT), 1)" +
            s" THEN value END) AS $name"
        }.mkString(",\n          |        ").stripMargin
        s"""WITH n AS (SELECT event_type, count(*) AS n
           |           FROM events GROUP BY 1),
           |r AS (SELECT event_type, value, row_number() OVER (
           |        PARTITION BY event_type
           |        ORDER BY value, event_id) AS rn FROM events),
           |q AS (SELECT r.event_type, max(n.n) AS n,
           |        $cases
           |      FROM r JOIN n USING (event_type) GROUP BY 1)
           |SELECT * FROM q ORDER BY event_type""".stripMargin
      },

      "q218_weighted_median" ->
        s"""WITH d AS (SELECT source, doc_id,
           |        len($toks) AS nt, n_chars AS w FROM documents),
           |c AS (SELECT source, doc_id, nt, w,
           |        CAST(sum(w) OVER (PARTITION BY source ORDER BY nt, doc_id
           |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           |      FROM d),
           |t AS (SELECT source, CAST(sum(w) AS BIGINT) AS w_total
           |      FROM d GROUP BY 1),
           |q AS (SELECT c.source, c.nt, row_number() OVER (
           |        PARTITION BY c.source ORDER BY c.nt, c.doc_id) AS rn
           |      FROM c JOIN t USING (source)
           |      WHERE c.cum * 2 >= t.w_total)
           |SELECT q.source, t.w_total, q.nt AS wmedian_nt
           |FROM q JOIN t USING (source) WHERE q.rn = 1
           |ORDER BY source""".stripMargin,

      "q219_gini" ->
        """WITH sp AS (SELECT o_custkey,
          |        sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
          |      FROM orders GROUP BY 1),
          |cu AS (SELECT c_mktsegment AS segment, c_custkey, x
          |       FROM customer JOIN sp ON o_custkey = c_custkey),
          |r AS (SELECT segment, x, row_number() OVER (PARTITION BY segment
          |        ORDER BY x, c_custkey) AS i FROM cu),
          |a AS (SELECT segment, count(*) AS n, sum(x) AS sx,
          |        sum(i * x) AS sixi FROM r GROUP BY 1)
          |SELECT segment, n, CAST(sx AS DOUBLE) AS total_spend,
          |  CAST(2 * sixi - (n + 1) * sx AS DOUBLE) /
          |    CAST(n * sx AS DOUBLE) AS gini
          |FROM a ORDER BY segment""".stripMargin,

      // q220: the SpaceSaving exactness hook — domain (64) < m (128)
      // means the streamed sketch IS the exact count with err 0
      "q220_stream_spacesaving" ->
        """SELECT event_type, CAST(user_id % 64 AS VARCHAR) AS token,
          |  count(*) AS cnt, CAST(0 AS BIGINT) AS err
          |FROM events GROUP BY 1, 2 ORDER BY event_type, token""".stripMargin,

      "q221_span_corruption" ->
        s"""WITH tk AS (SELECT doc_id, source, $toks AS ts FROM documents),
           |p AS (SELECT doc_id, source, i - 1 AS pos
           |      FROM tk, unnest(range(1, len(ts) + 1)) AS r(i)),
           |m AS (SELECT doc_id, source, pos,
           |        CASE WHEN ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)
           |          || ':' || CAST(pos AS VARCHAR)), 1, 15))::BIGINT
           |          % 100 < 15 THEN 1 ELSE 0 END AS m
           |      FROM p),
           |sp AS (SELECT source, m, CASE WHEN m = 1 AND
           |         coalesce(lag(m) OVER (PARTITION BY doc_id
           |           ORDER BY pos), 0) = 0 THEN 1 ELSE 0 END AS start
           |       FROM m)
           |SELECT source, count(*) AS n_tokens,
           |  CAST(sum(m) AS BIGINT) AS n_masked,
           |  CAST(sum(start) AS BIGINT) AS n_spans,
           |  CAST(CAST(sum(m) AS BIGINT) AS DOUBLE) /
           |    CAST(count(*) AS DOUBLE) AS mask_rate,
           |  CASE WHEN CAST(sum(start) AS BIGINT) > 0 THEN
           |    CAST(CAST(sum(m) AS BIGINT) AS DOUBLE) /
           |      CAST(CAST(sum(start) AS BIGINT) AS DOUBLE) END
           |    AS mean_span_len
           |FROM sp GROUP BY 1 ORDER BY source""".stripMargin,

      "q222_mix_rebalance" ->
        """WITH per AS (SELECT source, count(*) AS n_docs
          |             FROM documents GROUP BY 1),
          |t AS (SELECT count(*) AS n_total,
          |        count(DISTINCT source) AS n_sources FROM documents)
          |SELECT source, n_docs,
          |  CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE)
          |    AS natural_share,
          |  CAST(n_total AS DOUBLE) / CAST(n_sources * n_docs AS DOUBLE)
          |    AS weight,
          |  CAST(CASE WHEN n_docs * n_sources < n_total THEN 1 ELSE 0 END
          |    AS BIGINT) AS upsampled
          |FROM per CROSS JOIN t ORDER BY source""".stripMargin,

      "q223_negative_sampling" ->
        """WITH e AS (SELECT vec_id, label,
          |        ('0x' || substr(sha256('ring:' || CAST(vec_id AS VARCHAR)),
          |          1, 15))::BIGINT AS h
          |      FROM embeddings),
          |r AS (SELECT vec_id, label,
          |        row_number() OVER (ORDER BY h, vec_id) AS rk,
          |        count(*) OVER () AS n_all FROM e),
          |o AS (SELECT unnest(range(1, 6)) AS off),
          |c AS (SELECT a.vec_id, a.label, o.off,
          |        ((a.rk + o.off - 1) % a.n_all) + 1 AS crk
          |      FROM r a CROSS JOIN o),
          |j AS (SELECT c.vec_id, c.off, b.vec_id AS neg_id,
          |        row_number() OVER (PARTITION BY c.vec_id
          |          ORDER BY c.off) AS rn
          |      FROM c JOIN r b ON b.rk = c.crk WHERE b.label <> c.label)
          |SELECT vec_id, off, neg_id FROM j WHERE rn <= 3
          |ORDER BY vec_id, off""".stripMargin,

      "q224_overlap_curve" -> {
        val blocks = (1 to 5).map { n =>
          val g = (0 until n).map(k => s"ts[i+$k]").mkString(" || ' ' || ")
          val rng = s"unnest(range(1, len(ts) + ${2 - n})) AS r(i)"
          s"""ev$n AS (SELECT DISTINCT $g AS g FROM tke, $rng
             |         WHERE len(ts) >= $n),
             |tr$n AS (SELECT DISTINCT $g AS g FROM tkt, $rng
             |         WHERE len(ts) >= $n)""".stripMargin
        }.mkString(",\n")
        val rows = (1 to 5).map { n =>
          s"""SELECT CAST($n AS BIGINT) AS n,
             |  (SELECT count(*) FROM ev$n) AS n_eval,
             |  (SELECT count(*) FROM
             |    (SELECT g FROM ev$n INTERSECT SELECT g FROM tr$n))
             |    AS n_shared""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH tke AS (SELECT $toks AS ts FROM documents
           |             WHERE source = 'src0'),
           |tkt AS (SELECT $toks AS ts FROM documents WHERE source <> 'src0'),
           |$blocks,
           |u AS ($rows)
           |SELECT n, n_eval, n_shared,
           |  CAST(n_shared AS DOUBLE) / CAST(n_eval AS DOUBLE) AS overlap
           |FROM u ORDER BY n""".stripMargin
      },

      "q225_tokenizer_fertility" -> {
        val sub = "list_filter(string_split_regex(lower(text), " +
          "'[^a-z0-9]+'), x -> x <> '')"
        s"""SELECT lang, count(*) AS n_docs,
           |  CAST(sum(len($toks)) AS BIGINT) AS n_words,
           |  CAST(sum(len($sub)) AS BIGINT) AS n_subwords,
           |  CAST(CAST(sum(len($sub)) AS BIGINT) AS DOUBLE) /
           |    CAST(CAST(sum(len($toks)) AS BIGINT) AS DOUBLE) AS fertility
           |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin
      },

      "q226_shard_balance" ->
        """WITH per AS (SELECT
          |        ('0x' || substr(sha256('shard:' || CAST(doc_id AS VARCHAR)),
          |          1, 15))::BIGINT % 32 AS shard,
          |        count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
          |      FROM documents GROUP BY 1),
          |t AS (SELECT count(*) AS n_total FROM documents)
          |SELECT shard, n_docs, n_chars,
          |  CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE) AS share
          |FROM per CROSS JOIN t ORDER BY shard""".stripMargin,

      "q227_bag_setops" ->
        """SELECT
          |  (SELECT count(*) FROM events WHERE event_type = 'click')
          |    AS n_clicks,
          |  (SELECT count(*) FROM events WHERE event_type = 'view')
          |    AS n_views,
          |  (SELECT count(*) FROM (
          |     SELECT user_id FROM events WHERE event_type = 'click'
          |     INTERSECT ALL
          |     SELECT user_id FROM events WHERE event_type = 'view'))
          |    AS n_intersect_all,
          |  (SELECT count(*) FROM (
          |     SELECT user_id FROM events WHERE event_type = 'click'
          |     EXCEPT ALL
          |     SELECT user_id FROM events WHERE event_type = 'view'))
          |    AS n_except_all""".stripMargin,

      // q228: the q56 IVF lattice replay extended to 10 queries — cells,
      // probes, and both top-10 arms from ONE shared cosine relation
      "q228_ann_recall" ->
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
           |           FROM embeddings WHERE vec_id < 10),
           |d AS (SELECT vec_id, embedding, $cellDots
           |      FROM embeddings WHERE vec_id >= 10),
           |a AS (SELECT vec_id, embedding, CAST($cellCase AS BIGINT) AS cell
           |      FROM (SELECT *, greatest(${(0 until 8).map("d" + _)
                  .mkString(", ")}) AS m FROM d)),
           |cq AS (${(0 until 8).map(p =>
                  s"SELECT qid, $p AS cid, ${centDot("qv", p)} AS dq FROM q")
                  .mkString(" UNION ALL ")}),
           |probe AS (SELECT qid, cid FROM (
           |  SELECT qid, cid, row_number() OVER (PARTITION BY qid
           |    ORDER BY dq DESC, cid) AS rn FROM cq) WHERE rn <= 2),
           |sims AS (SELECT q.qid, a.vec_id, a.cell,
           |           ${cosine("embedding", "qv")} AS sim
           |         FROM a CROSS JOIN q),
           |ex AS (SELECT qid, vec_id FROM (
           |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
           |    ORDER BY sim DESC, vec_id) AS rn FROM sims) WHERE rn <= 10),
           |iv AS (SELECT qid, vec_id FROM (
           |  SELECT s.qid, s.vec_id, row_number() OVER (PARTITION BY s.qid
           |    ORDER BY s.sim DESC, s.vec_id) AS rn
           |  FROM sims s JOIN probe p ON p.qid = s.qid AND p.cid = s.cell)
           |  WHERE rn <= 10),
           |h AS (SELECT ex.qid, count(*) AS n_hits FROM ex
           |      JOIN iv ON ex.qid = iv.qid AND ex.vec_id = iv.vec_id
           |      GROUP BY 1)
           |SELECT q.qid, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 10.0 AS recall_at_10
           |FROM q LEFT JOIN h ON h.qid = q.qid ORDER BY q.qid""".stripMargin,

      // q229: the Σ S_g²/n_g fold is written in the SAME fixed level
      // order as the engine's reduce — cross-engine doubles only survive
      // a deterministic association
      "q229_anova_f" -> {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val moments = types.map(t =>
          s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS n_$t,\n" +
            s"        sum(CASE WHEN event_type = '$t' THEN CAST(value AS DECIMAL(18,2)) END) AS s_$t")
          .mkString(",\n        ")
        val sumB = types.map(t =>
          s"((CAST(s_$t AS DOUBLE) * CAST(s_$t AS DOUBLE)) / CAST(n_$t AS DOUBLE))")
          .mkString(" + ")
        s"""WITH w AS (SELECT
           |        $moments,
           |        count(*) AS n_tot,
           |        sum(CAST(value AS DECIMAL(18,2))) AS s_tot,
           |        sum(CAST(CAST(value AS DECIMAL(18,2)) *
           |          CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS ss_tot
           |      FROM events),
           |t AS (SELECT n_tot, $sumB AS sum_b,
           |        CAST(s_tot AS DOUBLE) AS sd, CAST(ss_tot AS DOUBLE) AS ssd
           |      FROM w)
           |SELECT CAST(5 AS BIGINT) AS k, n_tot,
           |  sum_b - ((sd * sd) / CAST(n_tot AS DOUBLE)) AS ss_between,
           |  ssd - sum_b AS ss_within,
           |  ((sum_b - ((sd * sd) / CAST(n_tot AS DOUBLE))) / 4.0) /
           |    ((ssd - sum_b) / (CAST(n_tot AS DOUBLE) - 5.0)) AS f_stat
           |FROM t""".stripMargin
      },

      "q230_poisson_bootstrap" ->
        """WITH rr AS (SELECT unnest(range(0, 32)) AS r),
          |e AS (SELECT rr.r,
          |        ('0x' || substr(sha256('boot:' || CAST(rr.r AS VARCHAR)
          |          || ':' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
          |          % 100 AS h,
          |        CAST(value AS DECIMAL(18,2)) AS x
          |      FROM events CROSS JOIN rr WHERE event_type = 'purchase'),
          |w AS (SELECT r, CASE WHEN h < 37 THEN 0 WHEN h < 74 THEN 1
          |        WHEN h < 92 THEN 2 WHEN h < 98 THEN 3 ELSE 4 END AS w, x
          |      FROM e),
          |a AS (SELECT r, CAST(sum(w) AS BIGINT) AS n_eff,
          |        sum(CAST(w * x AS DECIMAL(38,2))) AS tv
          |      FROM w GROUP BY 1)
          |SELECT r, n_eff, CAST(tv AS DOUBLE) / CAST(n_eff AS DOUBLE)
          |  AS boot_mean
          |FROM a ORDER BY r""".stripMargin,

      "q231_mom_growth" ->
        """WITH m AS (SELECT date_trunc('month', o_orderdate) AS month,
          |        count(*) AS n_orders,
          |        sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
          |      FROM orders GROUP BY 1)
          |SELECT month, n_orders, CAST(rev AS DOUBLE) AS revenue,
          |  (CAST(rev AS DOUBLE) - CAST(lag(rev) OVER (ORDER BY month)
          |     AS DOUBLE)) /
          |    CAST(lag(rev) OVER (ORDER BY month) AS DOUBLE) AS mom_growth
          |FROM m ORDER BY month""".stripMargin,

      "q232_top_movers" ->
        """WITH y AS (SELECT max(year(l_shipdate)) AS y1 FROM lineitem),
          |per AS (SELECT l_partkey,
          |    sum(CASE WHEN year(l_shipdate) = y.y1 - 1 THEN
          |      CAST(l_extendedprice AS DECIMAL(18,2)) *
          |      (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
          |      END) AS rev0,
          |    sum(CASE WHEN year(l_shipdate) = y.y1 THEN
          |      CAST(l_extendedprice AS DECIMAL(18,2)) *
          |      (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
          |      END) AS rev1
          |  FROM lineitem CROSS JOIN y GROUP BY 1)
          |SELECT l_partkey, CAST(rev0 AS DOUBLE) AS rev_y0,
          |  CAST(rev1 AS DOUBLE) AS rev_y1,
          |  (CAST(rev1 AS DOUBLE) - CAST(rev0 AS DOUBLE)) /
          |    CAST(rev0 AS DOUBLE) AS growth
          |FROM per WHERE rev0 IS NOT NULL AND rev1 IS NOT NULL AND rev0 > 0
          |ORDER BY growth DESC, l_partkey LIMIT 20""".stripMargin,

      // q233: rho via minimal-width bin() length — identical string
      // semantics in both engines, no float log2 anywhere
      "q233_hll_registers" ->
        """WITH h AS (SELECT event_type,
          |        ('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 15))
          |          ::BIGINT AS h
          |      FROM events),
          |b AS (SELECT event_type, h >> 54 AS bucket,
          |        h & ((1::BIGINT << 54) - 1) AS low FROM h),
          |r AS (SELECT event_type, bucket, CASE WHEN low = 0 THEN 55
          |        ELSE 55 - length(bin(low)) END AS rho FROM b),
          |p AS (SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
          |        CAST(max(rho) AS BIGINT) AS register FROM r GROUP BY 1, 2),
          |a AS (SELECT '__all' AS event_type, bucket,
          |        CAST(max(register) AS BIGINT) AS register
          |      FROM p GROUP BY 2)
          |SELECT * FROM (SELECT * FROM p UNION ALL SELECT * FROM a)
          |ORDER BY event_type, bucket""".stripMargin,

      "q234_stratified_folds" ->
        """WITH e AS (SELECT label,
          |        ('0x' || substr(sha256('fold:' || CAST(vec_id AS VARCHAR)),
          |          1, 15))::BIGINT % 5 AS fold
          |      FROM embeddings),
          |per AS (SELECT label, fold, count(*) AS n FROM e GROUP BY 1, 2),
          |t AS (SELECT label, count(*) AS n_label FROM e GROUP BY 1)
          |SELECT per.label, per.fold, per.n,
          |  CAST(per.n AS DOUBLE) / CAST(t.n_label AS DOUBLE) AS share
          |FROM per JOIN t USING (label) ORDER BY label, fold""".stripMargin,

      "q235_eventually_follows" ->
        """WITH f AS (SELECT user_id, event_type, min(ts) AS t0
          |           FROM events GROUP BY 1, 2),
          |t AS (SELECT count(DISTINCT user_id) AS n_users FROM events),
          |p AS (SELECT a.event_type AS t_from, b.event_type AS t_to,
          |        count(*) AS n_users
          |      FROM f a JOIN f b ON a.user_id = b.user_id
          |        AND a.event_type <> b.event_type AND a.t0 < b.t0
          |      GROUP BY 1, 2)
          |SELECT p.t_from, p.t_to, p.n_users,
          |  CAST(p.n_users AS DOUBLE) / CAST(t.n_users AS DOUBLE) AS share
          |FROM p CROSS JOIN t ORDER BY t_from, t_to""".stripMargin,

      "q236_diversity_index" ->
        """WITH per AS (SELECT source, lang, count(*) AS n
          |             FROM documents GROUP BY 1, 2),
          |a AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
          |        count(*) AS richness, CAST(sum(n * n) AS BIGINT) AS s2,
          |        max(n) AS nmax
          |      FROM per GROUP BY 1)
          |SELECT source, n_docs, richness,
          |  CAST(n_docs * n_docs - s2 AS DOUBLE) /
          |    CAST(n_docs * n_docs AS DOUBLE) AS simpson,
          |  CAST(nmax AS DOUBLE) / CAST(n_docs AS DOUBLE) AS berger_parker
          |FROM a ORDER BY source""".stripMargin,

      "q237_typed_cogroup" ->
        """SELECT user_id,
          |  CAST(sum(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_first,
          |  CAST(sum(CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_second,
          |  CAST(sum(CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END) AS BIGINT) -
          |  CAST(sum(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS delta
          |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin,

      "q238_hierarchy_shares" ->
        """WITH rev AS (SELECT c_nationkey,
          |        sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
          |      FROM orders JOIN customer ON o_custkey = c_custkey
          |      GROUP BY 1),
          |n AS (SELECT r_name AS region, n_name AS nation, rev.rev
          |      FROM rev JOIN nation ON c_nationkey = n_nationkey
          |      JOIN region ON n_regionkey = r_regionkey),
          |rt AS (SELECT region, sum(rev) AS reg_rev FROM n GROUP BY 1),
          |t AS (SELECT sum(rev) AS tot_rev FROM n)
          |SELECT n.region, n.nation, CAST(n.rev AS DOUBLE) AS revenue,
          |  CAST(n.rev AS DOUBLE) / CAST(rt.reg_rev AS DOUBLE)
          |    AS share_of_region,
          |  CAST(n.rev AS DOUBLE) / CAST(t.tot_rev AS DOUBLE)
          |    AS share_of_total
          |FROM n JOIN rt USING (region) CROSS JOIN t
          |ORDER BY region, nation""".stripMargin,

      // q239: the two-phase quantile rank replay over first-view →
      // first-later-purchase latencies
      "q239_conversion_latency" ->
        """WITH v AS (SELECT user_id, min(ts) AS tv FROM events
          |           WHERE event_type = 'view' GROUP BY 1),
          |l AS (SELECT e.user_id,
          |        epoch_us(min(e.ts)) - epoch_us(v.tv) AS lat_us
          |      FROM events e JOIN v USING (user_id)
          |      WHERE e.event_type = 'purchase' AND e.ts > v.tv
          |      GROUP BY e.user_id, v.tv),
          |n AS (SELECT count(*) AS n FROM l),
          |r AS (SELECT lat_us, user_id, row_number() OVER (
          |        ORDER BY lat_us, user_id) AS rn FROM l)
          |SELECT n.n AS n_converters,
          |  (SELECT max(CASE WHEN rn = greatest(CAST(ceil(0.5 * n.n)
          |     AS BIGINT), 1) THEN lat_us END) FROM r) AS p50_us,
          |  (SELECT max(CASE WHEN rn = greatest(CAST(ceil(0.9 * n.n)
          |     AS BIGINT), 1) THEN lat_us END) FROM r) AS p90_us
          |FROM n""".stripMargin,

      "q240_longest_run" ->
        s"""WITH tk AS (SELECT doc_id, source, ts[i] AS tok, i
           |       FROM (SELECT doc_id, source, $toks AS ts FROM documents),
           |            unnest(range(1, len(ts) + 1)) AS r(i)),
           |c AS (SELECT doc_id, source, i,
           |        CASE WHEN lag(tok) OVER w IS NULL
           |               OR lag(tok) OVER w <> tok THEN 1 ELSE 0 END AS chg
           |      FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
           |ri AS (SELECT doc_id, source,
           |         sum(chg) OVER (PARTITION BY doc_id ORDER BY i
           |           ROWS UNBOUNDED PRECEDING) AS run_id
           |       FROM c),
           |rl AS (SELECT doc_id, source, run_id, count(*) AS len
           |       FROM ri GROUP BY 1, 2, 3),
           |mx AS (SELECT doc_id, source, max(len) AS max_run
           |       FROM rl GROUP BY 1, 2)
           |SELECT source, count(*) AS n_docs,
           |  CAST(max(max_run) AS BIGINT) AS max_run,
           |  CAST(sum(CASE WHEN max_run >= 3 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_run3,
           |  CAST(CAST(sum(max_run) AS BIGINT) AS DOUBLE) /
           |    CAST(count(*) AS DOUBLE) AS mean_max_run
           |FROM mx GROUP BY 1 ORDER BY source""".stripMargin,

      "q241_bayes_shrinkage" ->
        """WITH per AS (SELECT l_partkey, count(*) AS n,
          |        sum(CAST(l_discount AS DECIMAL(18,2))) AS sx
          |      FROM lineitem GROUP BY 1),
          |g AS (SELECT CAST(sum(n) AS BIGINT) AS ng, sum(sx) AS sg FROM per)
          |SELECT l_partkey, n,
          |  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS raw_mean,
          |  (CAST(sx AS DOUBLE) +
          |     50.0 * (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE))) /
          |    (CAST(n AS DOUBLE) + 50.0) AS smoothed
          |FROM per CROSS JOIN g
          |ORDER BY smoothed DESC, l_partkey LIMIT 20""".stripMargin,

      "q242_fk_integrity" ->
        """SELECT * FROM (
          |  SELECT 'orders->customer' AS fk_edge,
          |    (SELECT count(*) FROM orders) AS n_rows,
          |    (SELECT count(*) FROM orders ANTI JOIN customer
          |       ON o_custkey = c_custkey) AS n_orphans
          |  UNION ALL SELECT 'lineitem->orders',
          |    (SELECT count(*) FROM lineitem),
          |    (SELECT count(*) FROM lineitem ANTI JOIN orders
          |       ON l_orderkey = o_orderkey)
          |  UNION ALL SELECT 'lineitem->part',
          |    (SELECT count(*) FROM lineitem),
          |    (SELECT count(*) FROM lineitem ANTI JOIN part
          |       ON l_partkey = p_partkey)
          |  UNION ALL SELECT 'lineitem->supplier',
          |    (SELECT count(*) FROM lineitem),
          |    (SELECT count(*) FROM lineitem ANTI JOIN supplier
          |       ON l_suppkey = s_suppkey)
          |  UNION ALL SELECT 'customer->nation',
          |    (SELECT count(*) FROM customer),
          |    (SELECT count(*) FROM customer ANTI JOIN nation
          |       ON c_nationkey = n_nationkey)
          |  UNION ALL SELECT 'nation->region',
          |    (SELECT count(*) FROM nation),
          |    (SELECT count(*) FROM nation ANTI JOIN region
          |       ON n_regionkey = r_regionkey))
          |ORDER BY fk_edge""".stripMargin,

      "q243_data_contract" ->
        """SELECT * FROM (
          |  SELECT 'events.user_id_nonnull' AS check_name,
          |    count(*) AS n_rows,
          |    CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n_violations FROM events
          |  UNION ALL SELECT 'events.value_nonnegative', count(*),
          |    CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
          |    FROM events
          |  UNION ALL SELECT 'events.type_in_domain', count(*),
          |    CAST(sum(CASE WHEN event_type NOT IN
          |      ('click','error','purchase','signup','view')
          |      THEN 1 ELSE 0 END) AS BIGINT) FROM events
          |  UNION ALL SELECT 'events.ts_in_2024', count(*),
          |    CAST(sum(CASE WHEN year(ts) <> 2024 THEN 1 ELSE 0 END)
          |      AS BIGINT) FROM events
          |  UNION ALL SELECT 'orders.totalprice_positive', count(*),
          |    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
          |      AS BIGINT) FROM orders
          |  UNION ALL SELECT 'orders.status_in_domain', count(*),
          |    CAST(sum(CASE WHEN o_orderstatus NOT IN ('F','O','P')
          |      THEN 1 ELSE 0 END) AS BIGINT) FROM orders
          |  UNION ALL SELECT 'lineitem.qty_range_1_50', count(*),
          |    CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
          |      THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
          |  UNION ALL SELECT 'lineitem.discount_rate', count(*),
          |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1
          |      THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem)
          |ORDER BY check_name""".stripMargin,

      "q244_pk_audit" ->
        """SELECT * FROM (
          |  SELECT 'customer.c_custkey' AS pk, count(*) AS n_rows,
          |    count(DISTINCT CAST(c_custkey AS VARCHAR)) AS n_distinct,
          |    count(*) - count(DISTINCT CAST(c_custkey AS VARCHAR))
          |      AS n_dup_rows FROM customer
          |  UNION ALL SELECT 'orders.o_orderkey', count(*),
          |    count(DISTINCT CAST(o_orderkey AS VARCHAR)),
          |    count(*) - count(DISTINCT CAST(o_orderkey AS VARCHAR))
          |    FROM orders
          |  UNION ALL SELECT 'lineitem.(okey,line)', count(*),
          |    count(DISTINCT CAST(l_orderkey AS VARCHAR) || ':' ||
          |      CAST(l_linenumber AS VARCHAR)),
          |    count(*) - count(DISTINCT CAST(l_orderkey AS VARCHAR) || ':' ||
          |      CAST(l_linenumber AS VARCHAR)) FROM lineitem
          |  UNION ALL SELECT 'part.p_partkey', count(*),
          |    count(DISTINCT CAST(p_partkey AS VARCHAR)),
          |    count(*) - count(DISTINCT CAST(p_partkey AS VARCHAR))
          |    FROM part
          |  UNION ALL SELECT 'events.event_id', count(*),
          |    count(DISTINCT CAST(event_id AS VARCHAR)),
          |    count(*) - count(DISTINCT CAST(event_id AS VARCHAR))
          |    FROM events
          |  UNION ALL SELECT 'documents.doc_id', count(*),
          |    count(DISTINCT CAST(doc_id AS VARCHAR)),
          |    count(*) - count(DISTINCT CAST(doc_id AS VARCHAR))
          |    FROM documents)
          |ORDER BY pk""".stripMargin,

      "q245_asof_forward" ->
        """SELECT user_id, event_id,
          |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
          |  strftime(next_click_ts, '%Y-%m-%d %H:%M:%S') AS next_click_s
          |FROM (
          |  SELECT b.user_id, b.event_id, b.ts,
          |         (SELECT min(c.ts) FROM events c
          |          WHERE c.user_id = b.user_id AND c.event_type = 'click'
          |            AND c.ts >= b.ts) AS next_click_ts
          |  FROM events b WHERE b.event_type = 'purchase')
          |ORDER BY event_id""".stripMargin,

      "q246_cumulative_uniques" ->
        """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS day
          |           FROM events GROUP BY 1),
          |d AS (SELECT day, count(*) AS n_new FROM f GROUP BY 1),
          |t AS (SELECT count(*) AS n_total FROM f)
          |SELECT day, n_new,
          |  CAST(sum(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
          |    AS BIGINT) AS cum_users,
          |  CAST(CAST(sum(n_new) OVER (ORDER BY day ROWS UNBOUNDED
          |    PRECEDING) AS BIGINT) AS DOUBLE) / CAST(t.n_total AS DOUBLE)
          |    AS frac_of_total
          |FROM d CROSS JOIN t ORDER BY day""".stripMargin,

      "q247_revenue_bridge" ->
        """WITH m AS (SELECT max(date_trunc('month', o_orderdate)) AS m1
          |           FROM orders),
          |per AS (SELECT o_custkey,
          |    sum(CASE WHEN date_trunc('month', o_orderdate) =
          |      m.m1 - INTERVAL 1 MONTH
          |      THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS r0,
          |    sum(CASE WHEN date_trunc('month', o_orderdate) = m.m1
          |      THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS r1
          |  FROM orders CROSS JOIN m GROUP BY 1),
          |c AS (SELECT CASE WHEN r0 IS NULL THEN 'new'
          |        WHEN r1 IS NULL THEN 'churned'
          |        WHEN r1 > r0 THEN 'expanded'
          |        WHEN r1 < r0 THEN 'contracted'
          |        ELSE 'flat' END AS category, r0, r1
          |      FROM per WHERE r0 IS NOT NULL OR r1 IS NOT NULL)
          |SELECT category, count(*) AS n_customers,
          |  CAST(sum(coalesce(r0, 0)) AS DOUBLE) AS rev_prev,
          |  CAST(sum(coalesce(r1, 0)) AS DOUBLE) AS rev_cur,
          |  CAST(sum(coalesce(r1, 0)) - sum(coalesce(r0, 0)) AS DOUBLE)
          |    AS delta
          |FROM c GROUP BY 1 ORDER BY category""".stripMargin,

      "q248_cohort_ltv" ->
        """WITH mo AS (SELECT o_custkey, o_totalprice,
          |        CAST(year(o_orderdate) * 12 + month(o_orderdate)
          |          AS BIGINT) AS mi
          |      FROM orders),
          |f AS (SELECT o_custkey, min(mi) AS cohort FROM mo GROUP BY 1),
          |r AS (SELECT f.cohort, mo.mi - f.cohort AS age,
          |        count(*) AS n_orders,
          |        sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
          |      FROM mo JOIN f USING (o_custkey) GROUP BY 1, 2)
          |SELECT cohort, age, n_orders, CAST(rev AS DOUBLE) AS revenue,
          |  CAST(sum(rev) OVER (PARTITION BY cohort ORDER BY age
          |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_revenue
          |FROM r WHERE age <= 6 ORDER BY cohort, age""".stripMargin,

      "q249_rfm" ->
        """WITH mx AS (SELECT max(o_orderdate) AS dmax FROM orders),
          |per AS (SELECT o_custkey,
          |    min(datediff('day', o_orderdate, mx.dmax)) AS recency,
          |    count(*) AS frequency,
          |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
          |  FROM orders CROSS JOIN mx GROUP BY 1),
          |sc AS (SELECT o_custkey, monetary,
          |    ntile(5) OVER (ORDER BY recency, o_custkey) AS r_score,
          |    ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
          |    ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
          |  FROM per)
          |SELECT CAST(r_score AS BIGINT) AS r_score,
          |  CAST(f_score AS BIGINT) AS f_score,
          |  CAST(m_score AS BIGINT) AS m_score,
          |  count(*) AS n_customers,
          |  CAST(sum(monetary) AS DOUBLE) AS total_monetary
          |FROM sc GROUP BY 1, 2, 3 ORDER BY r_score, f_score, m_score""".stripMargin,

      "q250_hilbert_cells" ->
        s"""WITH base AS (SELECT least(greatest(date_diff('day',
           |        DATE '2024-01-01', CAST(ts AS DATE)), 0), 255) AS dx,
           |        user_id % 256 AS uy, value
           |      FROM events),
           |${graft.functions.HilbertIndex.oracleCtes("base", "dx", "uy", 8)}
           |SELECT (hd >> 8) AS cell, count(*) AS n, $moneyV AS total_value
           |FROM hf GROUP BY 1 ORDER BY cell""".stripMargin,

      "q251_volume_bars" ->
        s"""WITH e AS (SELECT event_id, ts, value,
           |        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
           |          AS cents
           |      FROM events WHERE event_type = 'purchase'),
           |c AS (SELECT *, CAST(sum(cents) OVER (ORDER BY ts, event_id
           |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM e)
           |SELECT (cum - 1) // 50000 AS bar, count(*) AS n_events,
           |  min(ts) AS t_open, max(ts) AS t_close, $moneyV AS bar_value
           |FROM c GROUP BY 1 ORDER BY bar""".stripMargin,

      "q252_stream_join_agg" ->
        """WITH c AS (SELECT user_id, ts AS click_ts FROM events
          |           WHERE event_type = 'click'),
          |b AS (SELECT user_id, event_id, ts AS buy_ts FROM events
          |      WHERE event_type = 'purchase'),
          |j AS (SELECT b.buy_ts,
          |        epoch_us(b.buy_ts) - epoch_us(c.click_ts) AS gap
          |      FROM b JOIN c ON b.user_id = c.user_id
          |        AND c.click_ts <= b.buy_ts
          |        AND c.click_ts >= b.buy_ts - INTERVAL 1 HOUR)
          |SELECT date_trunc('day', buy_ts) AS day, count(*) AS n_pairs,
          |  CAST(sum(gap) AS BIGINT) AS gap_us_total
          |FROM j GROUP BY 1 ORDER BY day""".stripMargin,

      "q253_knn_eval" ->
        s"""WITH p AS (SELECT vec_id AS qid, embedding AS qv,
           |        label AS qlabel FROM embeddings WHERE vec_id < 100),
           |sims AS (SELECT p.qid, p.qlabel, e.vec_id, e.label,
           |           ${cosine("e.embedding", "p.qv")} AS sim
           |         FROM embeddings e CROSS JOIN p
           |         WHERE e.vec_id <> p.qid),
           |top AS (SELECT qid, qlabel, label FROM (
           |  SELECT qid, qlabel, label, row_number() OVER (
           |    PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
           |  FROM sims) WHERE rn <= 5),
           |v AS (SELECT qid, qlabel, label, count(*) AS c
           |      FROM top GROUP BY 1, 2, 3),
           |pr AS (SELECT qid, qlabel, label AS pred FROM (
           |  SELECT qid, qlabel, label, row_number() OVER (
           |    PARTITION BY qid ORDER BY c DESC, label) AS rn
           |  FROM v) WHERE rn = 1)
           |SELECT qlabel AS label, count(*) AS n_probes,
           |  CAST(sum(CASE WHEN pred = qlabel THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_correct,
           |  CAST(sum(CASE WHEN pred = qlabel THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) AS accuracy
           |FROM pr GROUP BY 1 ORDER BY label""".stripMargin,

      "q254_var_f_test" ->
        """WITH m AS (SELECT event_type, count(*) AS n,
          |        sum(CAST(value AS DECIMAL(18,2))) AS sx,
          |        sum(CAST(CAST(value AS DECIMAL(18,2)) *
          |          CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxx
          |      FROM events GROUP BY 1),
          |v AS (SELECT event_type, n,
          |        (CAST(sxx AS DOUBLE) - ((CAST(sx AS DOUBLE) *
          |           CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE))) /
          |          (CAST(n AS DOUBLE) - 1.0) AS s2
          |      FROM m)
          |SELECT a.event_type AS grp, a.n AS n1, b.n AS n2,
          |  a.s2 AS var1, b.s2 AS var2, a.s2 / b.s2 AS f_ratio
          |FROM v a CROSS JOIN (SELECT * FROM v
          |  WHERE event_type = 'view') b
          |WHERE a.event_type <> 'view' ORDER BY grp""".stripMargin,

      "q255_pareto_8020" ->
        """WITH sp AS (SELECT o_custkey,
          |        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
          |          AS BIGINT) AS cents
          |      FROM orders GROUP BY 1),
          |c AS (SELECT cents, CAST(sum(cents) OVER (ORDER BY cents DESC,
          |        o_custkey ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
          |        CAST(sum(cents) OVER () AS BIGINT) AS total_cents
          |      FROM sp),
          |n AS (SELECT count(*) AS n_cust FROM sp),
          |h AS (SELECT count(*) AS hits, min(total_cents) AS total_cents
          |      FROM c WHERE cum * 5 >= total_cents * 4)
          |SELECT n.n_cust, n.n_cust - h.hits + 1 AS n_top_customers,
          |  CAST(n.n_cust - h.hits + 1 AS DOUBLE) /
          |    CAST(n.n_cust AS DOUBLE) AS top_frac,
          |  h.total_cents
          |FROM n CROSS JOIN h""".stripMargin,

      // q256: the staged file is documents + exactly one malformed line
      // by construction, so the oracle is a plain count/sum
      "q256_corrupt_records" ->
        """SELECT count(*) AS n_good, CAST(1 AS BIGINT) AS n_bad,
          |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total
          |FROM documents""".stripMargin,

      "q257_spearman" ->
        s"""WITH t AS (SELECT doc_id, unnest($toks) AS token FROM documents),
           |tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
           |m AS (SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS stf,
           |        CAST(sum(tf * tf) AS BIGINT) AS stf2 FROM tf GROUP BY 1),
           |f AS (SELECT token, df,
           |        CAST(df * stf2 - stf * stf AS DOUBLE) /
           |          CAST(df * stf AS DOUBLE) AS fano
           |      FROM m),
           |r AS (SELECT token,
           |        CAST(row_number() OVER (ORDER BY df DESC, token)
           |          AS BIGINT) AS r_df,
           |        CAST(row_number() OVER (ORDER BY fano DESC, token)
           |          AS BIGINT) AS r_fano
           |      FROM f),
           |a AS (SELECT count(*) AS n,
           |        CAST(sum((r_df - r_fano) * (r_df - r_fano)) AS BIGINT)
           |          AS sd2
           |      FROM r)
           |SELECT n, sd2,
           |  1.0 - (6.0 * CAST(sd2 AS DOUBLE)) /
           |    CAST(n * (n * n - 1) AS DOUBLE) AS spearman_rho
           |FROM a""".stripMargin,

      // q258: both snapshots replayed as date predicates over the same
      // rows the engine committed to the TxnLog table (v1 = pre-1998
      // create, current = v1 + appended rest — append-only history)
      "q258_time_travel" ->
        """SELECT o_orderstatus,
          |  CAST(sum(CASE WHEN o_orderdate < DATE '1998-01-01'
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_v1,
          |  count(*) AS n_v2,
          |  CAST(sum(CASE WHEN o_orderdate >= DATE '1998-01-01'
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q259: the Derby hop is lossless, so the oracle is the plain
      // dim-fact join over the fixture tables
      "q259_jdbc_roundtrip" ->
        """SELECT n_name AS nation, count(*) AS n_customers,
          |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_acctbal
          |FROM customer JOIN nation ON c_nationkey = n_nationkey
          |GROUP BY 1 ORDER BY nation""".stripMargin,

      // q261: same integer-cents binning, BIGINT/exact sums per bin,
      // fixed-shape double gaps
      "q261_ece_calibration" ->
        """WITH e AS (SELECT least(CAST(CAST(value AS DECIMAL(18,2)) * 100
          |        AS BIGINT), 999) AS p_mil,
          |        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
          |      FROM events),
          |b AS (SELECT (p_mil * 10) // 1000 AS bin, count(*) AS n,
          |        CAST(sum(p_mil) AS BIGINT) AS sum_mil,
          |        CAST(sum(y) AS BIGINT) AS n_pos
          |      FROM e GROUP BY 1),
          |t AS (SELECT count(*) AS n_total FROM e)
          |SELECT bin, n,
          |  CAST(sum_mil AS DOUBLE) / CAST(n * 1000 AS DOUBLE) AS conf,
          |  CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS acc,
          |  abs(CAST(sum_mil AS DOUBLE) / CAST(n * 1000 AS DOUBLE)
          |      - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
          |    * (CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)) AS ece_term
          |FROM b CROSS JOIN t ORDER BY bin""".stripMargin,

      // q262: the generic PageRank chain over the token bigram graph
      "q262_textrank" -> pagerankChainSql(
        s"""tk AS (SELECT $toks AS ts FROM documents),
           |bg AS (SELECT ts[i] AS x, ts[i+1] AS y
           |       FROM tk, unnest(range(1, len(ts))) AS r(i)
           |       WHERE len(ts) >= 2),
           |e0 AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
           |       FROM bg WHERE x <> y)""".stripMargin,
        3, "token"),

      // q263: q67's recursive-CTE closure + the survivorship rank
      "q263_golden_record" ->
        s"""WITH RECURSIVE $simhashFp,
           |banded AS (SELECT doc_id, simhash, band, (simhash >> (band * 15)) & 32767 AS bits
           |           FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b),
           |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
           |                a.simhash AS sh_a, c.simhash AS sh_b
           |         FROM banded a JOIN banded c
           |           ON a.band = c.band AND a.bits = c.bits AND a.doc_id < c.doc_id),
           |pe AS (SELECT id_a, id_b FROM (
           |    SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming FROM cand)
           |  WHERE hamming <= 3),
           |ed AS (SELECT id_a AS src, id_b AS dst FROM pe
           |       UNION ALL SELECT id_b, id_a FROM pe),
           |nodes AS (SELECT DISTINCT src AS id FROM ed),
           |reach(id, lbl) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.dst, r.lbl FROM reach r JOIN ed e ON e.src = r.id),
           |comp AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
           |m AS (SELECT c.cluster_id, d.doc_id,
           |        CAST(strlen(d.text) AS BIGINT) AS len
           |      FROM comp c JOIN documents d ON d.doc_id = c.id),
           |r AS (SELECT cluster_id, doc_id, len,
           |        row_number() OVER (PARTITION BY cluster_id
           |          ORDER BY len DESC, doc_id) AS rk,
           |        count(*) OVER (PARTITION BY cluster_id) AS n_members
           |      FROM m)
           |SELECT cluster_id, CAST(n_members AS BIGINT) AS n_members,
           |  doc_id AS canonical_doc_id, len AS canonical_len
           |FROM r WHERE rk = 1 ORDER BY cluster_id""".stripMargin,

      // q265: exact quantiles replayed; the sketch-health flag is TRUE
      // by the sketch's own error contract
      "q265_approx_quantile_gate" ->
        """SELECT event_type, count(*) AS n,
          |  quantile_cont(value, 0.5) AS p50,
          |  quantile_cont(value, 0.95) AS p95,
          |  true AS within_bound
          |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

      // q266: the observed single-pass metrics as plain aggregates
      "q266_observed_metrics" ->
        s"""SELECT count(*) AS n_rows, $moneyV AS total_value,
           |  CAST(sum(CASE WHEN value <= 0 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_nonpositive,
           |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_event_types
           |FROM events""".stripMargin,

      // q267: skipping is superset + residual filter, so the oracle is
      // the plain year aggregate
      "q267_txn_data_skipping" ->
        """SELECT o_orderstatus, count(*) AS n_orders,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM orders
          |WHERE o_orderdate BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'
          |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q268: the change window (v1, v3] is exactly the 1997-onward rows
      "q268_txn_change_feed" ->
        """SELECT o_orderstatus, count(*) AS n_changed,
          |  min(o_orderdate) AS first_date,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM orders WHERE o_orderdate >= DATE '1997-01-01'
          |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q269: the CDF rows replayed from date predicates — matched keys
      // are the 1997-H2 orders (update pre/post pair), inserts the
      // 1998-H1 ones; updates carry the doubled price
      "q269_txn_cdf_upsert" ->
        """WITH upd AS (SELECT * FROM orders
          |  WHERE o_orderdate BETWEEN DATE '1997-06-01'
          |    AND DATE '1998-06-30'),
          |f AS (
          |  SELECT 'insert' AS _change_type, o_totalprice * 2 AS p
          |  FROM upd WHERE o_orderdate >= DATE '1998-01-01'
          |  UNION ALL
          |  SELECT 'update_preimage', o_totalprice
          |  FROM upd WHERE o_orderdate < DATE '1998-01-01'
          |  UNION ALL
          |  SELECT 'update_postimage', o_totalprice * 2
          |  FROM upd WHERE o_orderdate < DATE '1998-01-01')
          |SELECT _change_type, count(*) AS n_rows,
          |  CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total_price
          |FROM f GROUP BY 1 ORDER BY _change_type""".stripMargin,

      // q270: merged state replayed with CASE — 1997 rows doubled in
      // place, 1998 rows inserted doubled, everything earlier untouched
      "q270_txn_partitioned_upsert" ->
        """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
          |  count(*) AS n_orders,
          |  CAST(sum(CAST(CASE WHEN year(o_orderdate) >= 1997
          |    THEN o_totalprice * 2 ELSE o_totalprice END
          |    AS DECIMAL(18,2))) AS DOUBLE) AS total_price
          |FROM orders WHERE year(o_orderdate) <= 1998
          |GROUP BY 1 ORDER BY o_year""".stripMargin,

      // q271: the evolved column is null exactly on pre-evolution rows
      "q271_txn_schema_evolution" ->
        """SELECT o_orderstatus, count(*) AS n_orders,
          |  CAST(sum(CASE WHEN o_orderdate < DATE '1998-01-01'
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy,
          |  CAST(sum(CASE WHEN o_orderdate >= DATE '1998-01-01'
          |    AND o_totalprice > 200000 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_big
          |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q272: the delete feed is exactly the predicate's victims
      "q272_txn_delete_cdf" ->
        """SELECT o_orderstatus, count(*) AS n_deleted,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM orders WHERE o_orderdate < DATE '1998-01-01'
          |  AND o_totalprice > 300000
          |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q273: the compaction contributes no feed rows, so the window is
      // the two data commits — 1997's and 1998+'s — and every status
      // draws from exactly those two
      "q273_txn_compaction" ->
        """SELECT o_orderstatus, count(*) AS n_changed,
          |  CAST(count(DISTINCT CASE WHEN o_orderdate < DATE '1998-01-01'
          |    THEN 1 ELSE 2 END) AS BIGINT) AS n_commits,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM orders WHERE o_orderdate >= DATE '1997-01-01'
          |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q274: superset pruning + residual filters on both columns, so
      // the oracle is the plain two-predicate aggregate
      "q274_txn_multicol_skipping" ->
        """SELECT o_orderstatus, count(*) AS n_orders,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM orders
          |WHERE o_orderdate BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'
          |  AND o_totalprice BETWEEN 250000.0 AND 499999.0
          |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q277: pruning is layout + superset + residual, so the oracle is
      // the plain 1997 aggregate regardless of clustering
      // q286: only the two appended batches (pre-1998) — a rewrite row
      // leaking from the compact/upsert would inflate counts and fail
      "q286_txn_append_stream" ->
        """SELECT o_orderstatus, count(*) AS n_rows,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM orders WHERE o_orderdate < DATE '1998-01-01'
          |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q306: the streaming-source replay = the two append commits
      // (compaction invisible, the upsert's rewrite skipped)
      "q306_stream_txnlog_source" ->
        """SELECT o_orderstatus, count(*) AS n_rows,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM orders WHERE o_orderdate < DATE '1998-01-01'
          |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q288: the SQL-path read is the same 1997 aggregate as q267 —
      // skipping is superset + Spark's own residual filters
      "q288_txnlog_sql_pushdown" ->
        """SELECT o_orderstatus, count(*) AS n_orders,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM orders
          |WHERE o_orderdate BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'
          |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q289: the restore window is the delete victims twice — once as
      // the journaled deletes, once as the synthesized re-inserts
      "q289_txn_restore_cdf" ->
        """WITH victims AS (
          |  SELECT o_orderstatus, o_totalprice FROM orders
          |  WHERE o_orderdate < DATE '1998-01-01'
          |    AND o_totalprice > 300000),
          |feed AS (
          |  SELECT 'delete' AS _change_type, * FROM victims
          |  UNION ALL
          |  SELECT 'insert' AS _change_type, * FROM victims)
          |SELECT _change_type, o_orderstatus, count(*) AS n_rows,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM feed GROUP BY 1, 2
          |ORDER BY _change_type, o_orderstatus""".stripMargin,

      // q295: merged snapshot (H1-1997 doubled in place) + exactly
      // 2 CDF rows (pre+post) per updated key — a double-applied
      // replay would double n_change_rows and fail
      "q295_stream_txnlog_merge" ->
        """SELECT o_orderstatus, count(*) AS n_orders,
          |  CAST(sum(CAST(CASE WHEN o_orderdate >= DATE '1997-01-01'
          |      AND o_orderdate < DATE '1997-07-01'
          |    THEN o_totalprice * 2 ELSE o_totalprice END
          |    AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
          |  CAST(2 * sum(CASE WHEN o_orderdate >= DATE '1997-01-01'
          |      AND o_orderdate < DATE '1997-07-01' THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_change_rows
          |FROM orders WHERE o_orderdate < DATE '1998-01-01'
          |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q293: the metadata answer must equal the real aggregates;
      // canonical space = epoch days for the date column
      "q293_txn_meta_minmax" ->
        """SELECT min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
          |  CAST(date_diff('day', DATE '1970-01-01',
          |    CAST(min(o_orderdate) AS DATE)) AS BIGINT) AS min_day,
          |  CAST(date_diff('day', DATE '1970-01-01',
          |    CAST(max(o_orderdate) AS DATE)) AS BIGINT) AS max_day
          |FROM orders""".stripMargin,

      // q294: both shortlists replayed with the same ranks and
      // tie-breaks, fused with the same 1/(60+r) doubles
      "q294_rrf_hybrid" ->
        s"""WITH lex0 AS (
           |  SELECT doc_id AS id, CAST(len(list_filter(
           |      string_split(text, ' '), x -> x = 'query')) AS DOUBLE)
           |    AS s
           |  FROM documents WHERE doc_id <> 0),
           |lex1 AS (SELECT id, s FROM lex0 WHERE s > 0
           |         ORDER BY s DESC, id LIMIT 50),
           |lex AS (SELECT id,
           |          row_number() OVER (ORDER BY s DESC, id) AS r
           |        FROM lex1),
           |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |sem1 AS (SELECT vec_id AS id,
           |           ${cosine("embedding", "qv")} AS s
           |         FROM embeddings, q WHERE vec_id <> 0
           |         ORDER BY s DESC, id LIMIT 50),
           |sem AS (SELECT id,
           |          row_number() OVER (ORDER BY s DESC, id) AS r
           |        FROM sem1)
           |SELECT coalesce(lex.id, sem.id) AS doc_id,
           |  coalesce(1.0/(60 + lex.r), 0.0) +
           |  coalesce(1.0/(60 + sem.r), 0.0) AS rrf
           |FROM lex FULL JOIN sem ON lex.id = sem.id
           |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,

      // q292: pruning is layout + superset + residual, so the oracle is
      // the plain two-predicate aggregate regardless of the curve
      "q292_txn_hilbert_cluster" ->
        """SELECT o_orderstatus, count(*) AS n_orders,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM orders
          |WHERE o_custkey BETWEEN 1 AND 500
          |  AND o_orderdate BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'
          |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q291: the swapped table replayed with CASE — 1997 doubled in
      // place, every other year untouched
      "q291_txn_replace_partition" ->
        """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
          |  count(*) AS n_orders,
          |  CAST(sum(CAST(CASE WHEN year(o_orderdate) = 1997
          |    THEN o_totalprice * 2 ELSE o_totalprice END
          |    AS DECIMAL(18,2))) AS DOUBLE) AS total_price
          |FROM orders GROUP BY 1 ORDER BY o_year""".stripMargin,

      // q290: the DV-masked snapshot is the doubly-filtered table, and
      // the metadata count must equal the real live count
      "q290_txn_deletion_vectors" ->
        """WITH live AS (
          |  SELECT * FROM orders
          |  WHERE o_totalprice <= 300000
          |    AND o_orderdate < DATE '1998-01-01')
          |SELECT o_orderstatus, count(*) AS n_orders,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price,
          |  (SELECT count(*) FROM live) AS meta_total
          |FROM live GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q296: the DV survivors, filtered and aggregated — a resurrected
      // (or doubly deleted) row changes a bucket's count/sum
      "q296_txn_dv_sql_read" ->
        """SELECT o_orderstatus, count(*) AS n_orders,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM orders
          |WHERE o_totalprice <= 300000 AND o_orderkey <= 15000
          |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q297: the two format-string writes reassemble the full table
      "q297_txnlog_write_path" ->
        """SELECT o_orderstatus, count(*) AS n_orders,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q298: create + SQL INSERT reassemble the whole nation table
      "q298_txnlog_sql_insert" ->
        """SELECT n_regionkey, count(*) AS n_nations,
          |  min(n_name) AS first_name
          |FROM nation GROUP BY 1 ORDER BY n_regionkey""".stripMargin,

      // q299: pre- and post-rename files serve ONE logical column — a
      // mapping bug surfaces as nulls (count/sum drift)
      "q299_txn_rename_column" ->
        """SELECT o_orderstatus, count(*) AS n_orders,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q300: the undo window is the 1997 swap replayed — doubled rows
      // out as deletes, originals back as inserts
      "q300_txn_restore_swap_cdf" ->
        """WITH y97 AS (
          |  SELECT o_orderstatus, o_totalprice FROM orders
          |  WHERE year(CAST(o_orderdate AS DATE)) = 1997),
          |feed AS (
          |  SELECT 'delete' AS _change_type, o_orderstatus,
          |    o_totalprice * 2 AS p FROM y97
          |  UNION ALL
          |  SELECT 'insert', o_orderstatus, o_totalprice FROM y97)
          |SELECT _change_type, o_orderstatus, count(*) AS n_rows,
          |  CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total_price
          |FROM feed GROUP BY 1, 2
          |ORDER BY _change_type, o_orderstatus""".stripMargin,

      // q287: the pruned merge's state replayed with CASE — low keys
      // doubled in place, everything else byte-identical (its files
      // were never rewritten)
      "q287_txn_pruned_merge" ->
        """SELECT o_orderstatus, count(*) AS n_orders,
          |  CAST(sum(CAST(CASE WHEN o_orderkey < 1000
          |    THEN o_totalprice * 2 ELSE o_totalprice END
          |    AS DECIMAL(18,2))) AS DOUBLE) AS total_price
          |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q285: the evolved-merge state replayed by predicates — rows the
      // upsert never touched land in the pre-evolution (null) band
      "q285_txn_evolving_upsert" ->
        """WITH st AS (
          |  SELECT o_totalprice AS p, 'pre-evolution' AS band FROM orders
          |  WHERE o_orderdate < DATE '1997-06-01'
          |  UNION ALL
          |  SELECT o_totalprice,
          |    CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END
          |  FROM orders
          |  WHERE o_orderdate BETWEEN DATE '1997-06-01'
          |    AND DATE '1998-06-30')
          |SELECT band, count(*) AS n_orders,
          |  CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total_price
          |FROM st GROUP BY 1 ORDER BY band""".stripMargin,

      // q284: the metadata answer must equal the real per-year counts
      // after the delete — a stale or double-counted rowcount line
      // hash-fails
      "q284_txn_metadata_count" ->
        """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
          |  count(*) AS n_orders
          |FROM orders WHERE o_totalprice <= 450000
          |GROUP BY 1 ORDER BY o_year""".stripMargin,

      // q283: the probed row replayed directly — a bloom false negative
      // (wrongly skipped file) would drop the row and hash-fail
      "q283_txn_bloom_skipping" ->
        """SELECT o_orderkey, o_orderstatus,
          |  CAST(o_orderdate AS DATE) AS o_date, o_totalprice
          |FROM orders WHERE o_orderkey = (
          |  SELECT min(o_orderkey) FROM orders
          |  WHERE o_orderdate >= DATE '1997-03-15'
          |    AND o_orderdate < DATE '1997-03-16')
          |ORDER BY o_orderkey""".stripMargin,

      // q278: the identical 3-round bound as a recursive CTE — UNION
      // (not UNION ALL) dedups states, and the state space is bounded
      // by vertex × dist ≤ 21 × hop ≤ 3, so the replay stays tiny
      "q278_sssp_weighted" ->
        """WITH RECURSIVE op AS (
          |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
          |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
          |  WHERE o_orderpriority = '1-URGENT'),
          |e0 AS (SELECT DISTINCT a.p AS a, b.p AS b
          |       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
          |e AS (SELECT a AS src, b AS dst, (a + b) % 7 + 1 AS w FROM e0
          |      UNION ALL SELECT b, a, (a + b) % 7 + 1 FROM e0),
          |sd AS (SELECT DISTINCT src AS v FROM e WHERE src < 50),
          |walk(v, dist, hop) AS (
          |  SELECT v, CAST(0 AS BIGINT), 0 FROM sd
          |  UNION
          |  SELECT e.dst, walk.dist + e.w, walk.hop + 1
          |  FROM walk JOIN e ON e.src = walk.v WHERE walk.hop < 3)
          |SELECT v AS part, min(dist) AS dist FROM walk
          |GROUP BY v ORDER BY part""".stripMargin,

      // q279: the declared contract — this exact scripted operation
      // sequence, straight from the commit log's op actions
      "q279_txn_history" ->
        """SELECT CAST(v AS BIGINT) AS version, op AS operation
          |FROM (VALUES (1, 'create'), (2, 'append'), (3, 'upsert'),
          |             (4, 'compact'), (5, 'delete'), (6, 'restore'))
          |  t(v, op)
          |ORDER BY version""".stripMargin,

      // q280: the maintained MV must equal the final state recomputed
      // directly — create(<1998) ∘ upsert(97H2–98H1 doubled) ∘
      // delete(>900k): survivors are pre-window originals plus doubled
      // window rows at most 900k
      "q280_txn_incremental_mv" ->
        """WITH st AS (
          |  SELECT o_orderstatus AS s, o_totalprice AS p FROM orders
          |  WHERE o_orderdate < DATE '1997-06-01'
          |  UNION ALL
          |  SELECT o_orderstatus, o_totalprice * 2 FROM orders
          |  WHERE o_orderdate BETWEEN DATE '1997-06-01'
          |    AND DATE '1998-06-30')
          |SELECT s AS o_orderstatus, count(*) AS n_orders,
          |  CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total_price
          |FROM st WHERE p <= 900000
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      // q281: exact integer moments over the bidirected degree-joined
      // edges, then the one double Pearson formula — identical IEEE ops
      "q281_degree_assortativity" ->
        """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
          |      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
          |      WHERE o_orderpriority = '1-URGENT'),
          |e0 AS (SELECT DISTINCT a.p AS a, b.p AS b
          |       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
          |d0 AS (SELECT a AS src, b AS dst FROM e0
          |       UNION ALL SELECT b, a FROM e0),
          |dg AS (SELECT src, count(*) AS d FROM d0 GROUP BY src),
          |j AS (SELECT x.d AS dx, y.d AS dy FROM d0
          |      JOIN dg x ON x.src = d0.src JOIN dg y ON y.src = d0.dst),
          |ag AS (SELECT count(*) AS m, sum(dx) AS sx, sum(dy) AS sy,
          |              sum(dx*dy) AS sxy, sum(dx*dx) AS sxx,
          |              sum(dy*dy) AS syy FROM j)
          |SELECT m,
          |  (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
          |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
          |  (sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
          |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
          |   sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
          |     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
          |    AS assortativity
          |FROM ag""".stripMargin,

      // q282: EMD over ordered acctbal buckets — integer cross-
      // multiplied cumulative gaps, buckets densified so empty cells
      // still carry their cumulative term
      "q282_t_closeness" ->
        """WITH c AS (SELECT c_mktsegment AS seg,
          |  LEAST(3, GREATEST(0, CAST(floor(
          |    (CAST(c_acctbal AS DOUBLE) + 1000) / 2750) AS INTEGER)))
          |    AS b FROM customer),
          |cnt AS (SELECT seg, b, count(*) AS n FROM c GROUP BY 1, 2),
          |dense AS (SELECT s.seg, bb.b, coalesce(cnt.n, 0) AS n
          |  FROM (SELECT DISTINCT seg FROM cnt) s
          |  CROSS JOIN (SELECT unnest(range(4)) AS b) bb
          |  LEFT JOIN cnt ON cnt.seg = s.seg AND cnt.b = bb.b),
          |wc AS (SELECT seg, b, n,
          |  sum(n) OVER (PARTITION BY seg ORDER BY b) AS cumg FROM dense),
          |gl AS (SELECT b, sum(n) AS gn FROM dense GROUP BY b),
          |gc AS (SELECT b, sum(gn) OVER (ORDER BY b) AS cumG FROM gl),
          |tt AS (SELECT seg, sum(n) AS ng FROM dense GROUP BY seg),
          |nn AS (SELECT sum(n) AS N FROM dense)
          |SELECT wc.seg, CAST(tt.ng AS BIGINT) AS n_customers,
          |  CAST(sum(abs(wc.cumg * nn.N - gc.cumG * tt.ng)) AS DOUBLE) /
          |    (CAST(tt.ng AS DOUBLE) * CAST(nn.N AS DOUBLE) * 3.0)
          |    AS t_closeness
          |FROM wc JOIN gc ON gc.b = wc.b JOIN tt ON tt.seg = wc.seg
          |CROSS JOIN nn
          |WHERE wc.b < 3
          |GROUP BY wc.seg, tt.ng, nn.N
          |ORDER BY wc.seg""".stripMargin,

      "q277_txn_cluster_optimize" ->
        """SELECT o_orderstatus, count(*) AS n_orders,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM orders
          |WHERE o_orderdate BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'
          |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q276: the restored snapshot is exactly the pre-1998 rows
      "q276_txn_restore" ->
        """SELECT o_orderstatus, count(*) AS n_orders,
          |  max(o_orderdate) AS last_date,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM orders WHERE o_orderdate < DATE '1998-01-01'
          |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q275: the journaled feed replayed from predicates — matched
      // keys pre/post (1997-H2), inserts (1998-H1), deletes (doubled
      // price over 900k, i.e. original over 450k in the upsert window)
      "q275_txn_change_stream" ->
        """WITH upd AS (SELECT * FROM orders
          |  WHERE o_orderdate BETWEEN DATE '1997-06-01'
          |    AND DATE '1998-06-30'),
          |f AS (
          |  SELECT 'insert' AS _change_type, o_totalprice * 2 AS p
          |  FROM upd WHERE o_orderdate >= DATE '1998-01-01'
          |  UNION ALL
          |  SELECT 'update_preimage', o_totalprice
          |  FROM upd WHERE o_orderdate < DATE '1998-01-01'
          |  UNION ALL
          |  SELECT 'update_postimage', o_totalprice * 2
          |  FROM upd WHERE o_orderdate < DATE '1998-01-01'
          |  UNION ALL
          |  SELECT 'delete', o_totalprice * 2
          |  FROM upd WHERE o_totalprice * 2 > 900000)
          |SELECT _change_type, count(*) AS n_rows,
          |  CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total_price
          |FROM f GROUP BY 1 ORDER BY _change_type""".stripMargin,

      // q308: the streaming change-feed source replays q275's journal
      // with _commit_version — updates/inserts from the upsert (v2),
      // deletes from the delete commit (v3)
      "q308_stream_txnlog_cdf" ->
        """WITH upd AS (SELECT * FROM orders
          |  WHERE o_orderdate BETWEEN DATE '1997-06-01'
          |    AND DATE '1998-06-30'),
          |f AS (
          |  SELECT 'insert' AS _change_type, o_totalprice * 2 AS p,
          |    2 AS v
          |  FROM upd WHERE o_orderdate >= DATE '1998-01-01'
          |  UNION ALL
          |  SELECT 'update_preimage', o_totalprice, 2
          |  FROM upd WHERE o_orderdate < DATE '1998-01-01'
          |  UNION ALL
          |  SELECT 'update_postimage', o_totalprice * 2, 2
          |  FROM upd WHERE o_orderdate < DATE '1998-01-01'
          |  UNION ALL
          |  SELECT 'delete', o_totalprice * 2, 3
          |  FROM upd WHERE o_totalprice * 2 > 900000)
          |SELECT _change_type, count(*) AS n_rows,
          |  CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price,
          |  CAST(min(v) AS BIGINT) AS first_v
          |FROM f GROUP BY 1 ORDER BY _change_type""".stripMargin,

      // q264: exactly-once makes the streaming+replay pipeline equal
      // the plain batch aggregate
      "q264_stream_txnlog_sink" ->
        s"""SELECT event_type, count(*) AS n_events, $moneyV AS total_value
           |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

      // q301: a doubled (replayed) landing would double n_events and
      // total_value — the oracle holds only under exactly-once
      "q301_stream_txnlog_format" ->
        s"""SELECT event_type, count(*) AS n_events,
           |  $moneyV AS total_value, max(value) AS max_value
           |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

      // q302: the (v1, v3] feed replayed from predicates — matched
      // window rows as pre/post pairs, post-97H2 arrivals as inserts,
      // then the >300k deletes evaluated on the POST-merge state
      "q302_txn_cdf_sql_read" ->
        """WITH w_upd AS (
          |  SELECT o_orderstatus, o_totalprice FROM orders
          |  WHERE o_orderdate >= DATE '1997-07-01'
          |    AND o_orderdate < DATE '1998-01-01'),
          |w_ins AS (
          |  SELECT o_orderstatus, o_totalprice FROM orders
          |  WHERE o_orderdate >= DATE '1998-01-01'
          |    AND o_orderdate <= DATE '1998-12-31'),
          |state AS (
          |  SELECT o_orderstatus,
          |    CASE WHEN o_orderdate >= DATE '1997-07-01'
          |      THEN o_totalprice + 10 ELSE o_totalprice END AS p
          |  FROM orders WHERE o_orderdate <= DATE '1998-12-31'),
          |feed AS (
          |  SELECT 'update_preimage' AS _change_type, o_orderstatus,
          |    o_totalprice AS p FROM w_upd
          |  UNION ALL SELECT 'update_postimage', o_orderstatus,
          |    o_totalprice + 10 FROM w_upd
          |  UNION ALL SELECT 'insert', o_orderstatus,
          |    o_totalprice + 10 FROM w_ins
          |  UNION ALL SELECT 'delete', o_orderstatus, p
          |  FROM state WHERE p > 300000)
          |SELECT _change_type, o_orderstatus, count(*) AS n_rows,
          |  CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total_price
          |FROM feed GROUP BY 1, 2
          |ORDER BY _change_type, o_orderstatus""".stripMargin,

      // q303: catalog create + guarded SQL INSERT reassemble nation
      "q303_txn_catalog_table" ->
        """SELECT n_regionkey, count(*) AS n_nations,
          |  min(n_name) AS first_name
          |FROM nation GROUP BY 1 ORDER BY n_regionkey""".stripMargin,

      // q304: v1 = pre-1998 subset, head = whole table — both read back
      // via SQL time-travel syntax
      "q304_txn_sql_time_travel" ->
        """WITH v1 AS (
          |  SELECT o_orderstatus, count(*) AS n_orders FROM orders
          |  WHERE o_orderdate < DATE '1998-01-01' GROUP BY 1),
          |h AS (
          |  SELECT o_orderstatus, count(*) AS n_orders FROM orders
          |  GROUP BY 1)
          |SELECT h.o_orderstatus, v1.n_orders AS n_v1,
          |  h.n_orders AS n_head
          |FROM h LEFT JOIN v1 ON v1.o_orderstatus = h.o_orderstatus
          |ORDER BY h.o_orderstatus""".stripMargin,

      // q305: the SQL MERGE replayed — keys < 1000 doubled (updates),
      // the +20M-key copies of keys < 300 arrive as inserts
      "q305_txn_sql_merge" ->
        """WITH st AS (
          |  SELECT o_orderstatus,
          |    CASE WHEN o_orderkey < 1000 THEN o_totalprice * 2
          |      ELSE o_totalprice END AS p
          |  FROM orders
          |  UNION ALL
          |  SELECT o_orderstatus, o_totalprice + 1000000
          |  FROM orders WHERE o_orderkey < 300)
          |SELECT o_orderstatus, count(*) AS n_orders,
          |  CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM st GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q307: the UPDATE doubles low keys, the DELETE then drops the
      // expensive rows — replayed as CASE + filter
      "q307_txn_sql_update_delete" ->
        """WITH st AS (
          |  SELECT o_orderstatus,
          |    CASE WHEN o_orderkey < 1000 THEN o_totalprice * 2
          |      ELSE o_totalprice END AS p
          |  FROM orders)
          |SELECT o_orderstatus, count(*) AS n_orders,
          |  CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM st WHERE p <= 300000
          |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q309: optimize + vacuum are layout/lifecycle-only — the
      // aggregate equals the plain table
      "q309_txn_maintenance_sql" ->
        """SELECT o_orderstatus, count(*) AS n_orders,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q310: after RESTORE TO VERSION AS OF 1 the table is the
      // pre-1998 create batch again
      "q310_txn_sql_restore" ->
        """SELECT o_orderstatus, count(*) AS n_orders,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM orders WHERE o_orderdate < DATE '1998-01-01'
          |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q311: original rows read the added column as null (→ -1), the
      // appended copies carry their scores through the rename; the
      // dropped n_regionkey is gone from the output shape
      "q311_txn_sql_alter_columns" ->
        """WITH t AS (
          |  SELECT n_nationkey, n_name, -1 AS quality FROM nation
          |  UNION ALL
          |  SELECT n_nationkey + 100, n_name || '_S',
          |    n_regionkey * 10 FROM nation)
          |SELECT n_nationkey, n_name, quality FROM t
          |ORDER BY n_nationkey""".stripMargin,

      // q321: the recency guard applies ONLY the newer re-extract
      // (the lowest 1% of keys doubled); the stale next 1% is skipped
      // entirely, and the +20M copies of the lowest 1/300 arrive as
      // inserts
      "q321_txn_sql_merge_recency" ->
        """WITH mk AS (SELECT max(o_orderkey) AS m FROM orders),
          |st AS (
          |  SELECT o_orderstatus,
          |    CASE WHEN o_orderkey * 100 < mk.m THEN o_totalprice * 2
          |      ELSE o_totalprice END AS p
          |  FROM orders, mk
          |  UNION ALL
          |  SELECT o_orderstatus, o_totalprice + 1000000
          |  FROM orders, mk WHERE o_orderkey * 300 < mk.m)
          |SELECT o_orderstatus, count(*) AS n_orders,
          |  CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM st GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q322: CDC replay — keys < 500 deleted, [500, 1500) bumped by
      // 100000, the +30M copies of keys < 200 inserted; deletes of
      // absent keys no-op
      "q322_txn_sql_merge_cdc" ->
        """WITH st AS (
          |  SELECT o_orderstatus,
          |    CASE WHEN o_orderkey >= 500 AND o_orderkey < 1500
          |      THEN o_totalprice + 100000
          |      ELSE o_totalprice END AS p
          |  FROM orders WHERE o_orderkey >= 500
          |  UNION ALL
          |  SELECT o_orderstatus, o_totalprice
          |  FROM orders WHERE o_orderkey < 200)
          |SELECT o_orderstatus, count(*) AS n_orders,
          |  CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM st GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q323: the DDL-born table holds exactly the inserted load
      "q323_txn_create_ddl" ->
        """SELECT o_orderstatus, count(*) AS n_orders,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q324: pre-evolution rows surface the DEFAULTs (quality 7,
      // tag 'legacy'); the appended copies carry their own values,
      // including genuine nulls for region 0
      "q324_txn_add_columns_default" ->
        """WITH t AS (
          |  SELECT n_nationkey, n_name, 7 AS quality,
          |    'legacy' AS tag FROM nation
          |  UNION ALL
          |  SELECT n_nationkey + 100, n_name || '_S',
          |    n_regionkey * 10,
          |    CASE WHEN n_regionkey = 0 THEN NULL ELSE 'fresh' END
          |  FROM nation)
          |SELECT n_nationkey, n_name, quality, tag FROM t
          |ORDER BY n_nationkey""".stripMargin,

      // q325: widened int32 rows read as BIGINT next to the appended
      // genuinely-64-bit copies
      "q325_txn_type_widening" ->
        """WITH t AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
          |    n_name, n_regionkey FROM nation
          |  UNION ALL
          |  SELECT CAST(n_nationkey AS BIGINT) + 5000000000,
          |    n_name, n_regionkey FROM nation)
          |SELECT n_nationkey, n_name, n_regionkey FROM t
          |ORDER BY n_nationkey""".stripMargin,

      // q328: defaults replayed — the first load takes tier
      // 'standard' / quality 7, the premium batch supplies tier;
      // created_at (NOW()) is pinned in-query, not compared
      "q328_txn_create_default" ->
        """WITH t AS (
          |  SELECT c_custkey, c_name, 'standard' AS tier,
          |    7 AS quality FROM customer
          |  UNION ALL
          |  SELECT c_custkey + 1000000, c_name, 'premium', 7
          |  FROM customer WHERE c_acctbal > 5000)
          |SELECT c_custkey, c_name, tier, quality FROM t
          |ORDER BY c_custkey""".stripMargin,

      // q336: the CLIP-gate replayed — same strided-byte media vector,
      // same first-8 text slice, same fixed-order inner products
      "q336_mm_clip_filter" ->
        """WITH m AS (SELECT doc_id, source,
          |    list_transform(range(0, 8), j ->
          |      ord(text[CAST(j * strlen(text) // 8 AS INT) + 1])
          |        / 255.0) AS mvec
          |  FROM documents WHERE strlen(text) > 0),
          |t AS (SELECT vec_id AS doc_id,
          |    CAST(embedding AS DOUBLE[])[1:8] AS tvec FROM embeddings),
          |j AS (SELECT m.doc_id, m.source,
          |    round(list_inner_product(mvec, tvec) /
          |      (sqrt(list_inner_product(mvec, mvec)) *
          |       sqrt(list_inner_product(tvec, tvec))), 6) AS align
          |  FROM m JOIN t USING (doc_id))
          |SELECT doc_id, source, align FROM j
          |ORDER BY align DESC, doc_id LIMIT 30""".stripMargin,

      // q337: the engine's row-id space reconstructed from scratch —
      // odd custkeys rank 0.. (first load, one sorted file), even
      // custkeys continue past the odd count (second load reserves
      // beyond the high-water); negative-balance rows are DV-masked.
      // Aggregating ids per segment catches any misassignment.
      "q337_txn_row_ids" ->
        """WITH odd AS (
          |  SELECT c_custkey, c_acctbal, c_mktsegment,
          |    ROW_NUMBER() OVER (ORDER BY c_custkey) - 1 AS rid
          |  FROM customer WHERE c_custkey % 2 = 1),
          |even AS (
          |  SELECT c_custkey, c_acctbal, c_mktsegment,
          |    (SELECT count(*) FROM odd) +
          |      ROW_NUMBER() OVER (ORDER BY c_custkey) - 1 AS rid
          |  FROM customer WHERE c_custkey % 2 = 0),
          |t AS (SELECT * FROM odd UNION ALL SELECT * FROM even)
          |SELECT c_mktsegment, count(*) AS n_rows,
          |  CAST(sum(rid) AS BIGINT) AS id_sum,
          |  min(rid) AS min_id, max(rid) AS max_id
          |FROM t WHERE c_acctbal >= 0
          |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,

      // q339: the id-addressed edit sequence replayed from scratch —
      // ids reconstructed like q337 (odd partkeys rank 0.., even
      // continue), delete rid%7=0, bump rid%5=0 survivors by rid%3
      "q339_txn_rowid_dml" ->
        """WITH odd AS (
          |  SELECT p_brand, p_retailprice,
          |    ROW_NUMBER() OVER (ORDER BY p_partkey) - 1 AS rid
          |  FROM part WHERE p_partkey % 2 = 1),
          |even AS (
          |  SELECT p_brand, p_retailprice,
          |    (SELECT count(*) FROM odd) +
          |      ROW_NUMBER() OVER (ORDER BY p_partkey) - 1 AS rid
          |  FROM part WHERE p_partkey % 2 = 0),
          |t AS (SELECT * FROM odd UNION ALL SELECT * FROM even),
          |edited AS (
          |  SELECT p_brand, rid,
          |    p_retailprice + CASE WHEN rid % 5 = 0 THEN rid % 3
          |      ELSE 0 END AS price
          |  FROM t WHERE rid % 7 <> 0)
          |SELECT p_brand, count(*) AS n_parts,
          |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price,
          |  CAST(sum(rid) AS BIGINT) AS id_sum
          |FROM edited GROUP BY 1 ORDER BY p_brand""".stripMargin,

      // q338: the COPY-INTO-loaded table is exactly the supplier
      // extract — loaded once despite the statement running twice
      "q338_txn_copy_into" ->
        """SELECT s_nationkey, count(*) AS n_suppliers,
          |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_bal
          |FROM supplier GROUP BY 1 ORDER BY s_nationkey""".stripMargin,

      // q335: DSIR replayed — same sha-bucket models, same smoothing,
      // same linear-domain importance ratio, same top-50
      "q335_dsir_selection" ->
        """WITH tok AS (SELECT doc_id, source, unnest(
          |    list_filter(string_split(text,' '), x -> x <> '')) AS tk
          |  FROM documents),
          |tb AS (SELECT doc_id, source,
          |    ('0x' || substr(sha256(tk), 1, 15))::BIGINT % 64 AS b,
          |    count(*) AS n
          |  FROM tok GROUP BY 1, 2, 3),
          |m AS (SELECT b, sum(n) AS cr,
          |    sum(CASE WHEN source = 'src0' THEN n ELSE 0 END) AS ct
          |  FROM tb GROUP BY b),
          |g AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM m),
          |r AS (SELECT b,
          |    ((CAST(ct AS DOUBLE) + 1) / (CAST(tt AS DOUBLE) + 64)) /
          |    ((CAST(cr AS DOUBLE) + 1) / (CAST(tr AS DOUBLE) + 64))
          |      AS ratio
          |  FROM m, g),
          |d AS (SELECT tb.doc_id,
          |    sum(ratio * n) / sum(n) AS score
          |  FROM tb JOIN r USING (b) WHERE tb.source <> 'src0'
          |  GROUP BY tb.doc_id)
          |SELECT doc_id, round(score, 6) AS dsir_score FROM d
          |ORDER BY round(score, 6) DESC, doc_id LIMIT 50""".stripMargin,

      // q334: the evolved merge replayed — guarded updates take the
      // new column, inserts carry it, untouched rows stay null
      "q334_txn_merge_evolution" ->
        """WITH src AS (
          |  SELECT o_orderkey AS k, (o_orderkey % 100) / 100.0 AS score,
          |    o_totalprice + 50 AS price2
          |  FROM orders WHERE o_orderkey % 10 = 0),
          |t AS (
          |  SELECT o.o_orderkey,
          |    CASE WHEN s.k IS NOT NULL AND s.score >= 0.5
          |      THEN s.price2 ELSE o.o_totalprice END AS o_totalprice,
          |    CASE WHEN s.k IS NOT NULL AND s.score >= 0.5
          |      THEN s.score END AS priority_score
          |  FROM orders o LEFT JOIN src s ON o.o_orderkey = s.k
          |  UNION ALL
          |  SELECT o_orderkey + 100000000, o_totalprice, 0.75
          |  FROM orders WHERE o_orderkey % 1000 = 0)
          |SELECT priority_score IS NOT NULL AS has_score,
          |  count(*) AS n_orders,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price,
          |  CAST(sum(CAST(coalesce(priority_score, 0.0)
          |    AS DECIMAL(18,2))) AS DOUBLE) AS total_score
          |FROM t GROUP BY 1 ORDER BY has_score""".stripMargin,

      // q333: the swapped table replayed — positive-balance suppliers
      // aggregated per nation
      "q333_txn_cor_ctas" ->
        """SELECT s_nationkey, count(*) AS n_suppliers,
          |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_bal
          |FROM supplier WHERE s_acctbal > 0
          |GROUP BY 1 ORDER BY s_nationkey""".stripMargin,

      // q332: identity invariants replayed as counts — every row got
      // a unique grid-aligned id
      "q332_txn_identity" ->
        """WITH t AS (
          |  SELECT 'nation' AS batch, count(*) AS n FROM nation
          |  UNION ALL
          |  SELECT 'region', count(*) FROM region)
          |SELECT batch, n AS n_rows, n AS n_ids, true AS grid_ok
          |FROM t ORDER BY batch""".stripMargin,

      // q331: the DV-updated table replayed — purchases bumped by a
      // flat 100.0 (fp-exact), everything else untouched
      "q331_txn_dv_update" ->
        """WITH t AS (
          |  SELECT event_type,
          |    CASE WHEN event_type = 'purchase' THEN value + 100.0
          |      ELSE value END AS value
          |  FROM events WHERE ts < TIMESTAMP '2024-02-01')
          |SELECT event_type, count(*) AS n_events,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_value
          |FROM t GROUP BY 1 ORDER BY event_type""".stripMargin,

      // q330: the replaced (region-shaped) table read via time
      // travel next to the current (nation-shaped) one
      "q330_txn_replace_truncate" ->
        """WITH t AS (
          |  SELECT r_regionkey AS key, r_name AS name,
          |    'replaced' AS era FROM region
          |  UNION ALL
          |  SELECT n_nationkey, n_name, 'current' FROM nation)
          |SELECT key, name, era FROM t ORDER BY era, key""".stripMargin,

      // q329: the replaced week carries doubled values; everything
      // else is the original four-week window
      "q329_txn_replace_where" ->
        """WITH t AS (
          |  SELECT ts, value FROM events
          |  WHERE ts >= TIMESTAMP '2024-01-01'
          |    AND ts < TIMESTAMP '2024-01-29'
          |    AND NOT (ts >= TIMESTAMP '2024-01-15'
          |      AND ts < TIMESTAMP '2024-01-22')
          |  UNION ALL
          |  SELECT ts, value * 2 FROM events
          |  WHERE ts >= TIMESTAMP '2024-01-15'
          |    AND ts < TIMESTAMP '2024-01-22')
          |SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_value
          |FROM t GROUP BY 1 ORDER BY day""".stripMargin,

      // q327: the generated day is to_date(ts) — replayed as a
      // derived-column aggregate over the same slice
      "q327_txn_generated_partition" ->
        """SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_value
          |FROM events WHERE ts < TIMESTAMP '2024-01-08'
          |GROUP BY 1 ORDER BY day""".stripMargin,

      // q326: margin-criterion mining replayed — all-pairs cosines,
      // top-4 neighborhood averages per side, margin rounded to 6 dp
      "q326_margin_bitext" ->
        """WITH x AS (SELECT vec_id AS x_id,
          |    CAST(embedding AS DOUBLE[]) AS xv
          |  FROM embeddings WHERE vec_id < 200),
          |y AS (SELECT vec_id AS y_id,
          |    CAST(embedding AS DOUBLE[]) AS yv
          |  FROM embeddings WHERE vec_id >= 10000 AND vec_id < 10200),
          |p AS (SELECT x_id, y_id,
          |    list_inner_product(xv, yv) /
          |      (sqrt(list_inner_product(xv, xv)) *
          |       sqrt(list_inner_product(yv, yv))) AS cos
          |  FROM x, y),
          |nx AS (SELECT x_id, avg(cos) AS x_norm FROM (
          |    SELECT x_id, cos, row_number() OVER
          |      (PARTITION BY x_id ORDER BY cos DESC, y_id) AS rn
          |    FROM p) WHERE rn <= 4 GROUP BY x_id),
          |ny AS (SELECT y_id, avg(cos) AS y_norm FROM (
          |    SELECT y_id, cos, row_number() OVER
          |      (PARTITION BY y_id ORDER BY cos DESC, x_id) AS rn
          |    FROM p) WHERE rn <= 4 GROUP BY y_id)
          |SELECT p.x_id, p.y_id,
          |  ROUND(p.cos / ((nx.x_norm + ny.y_norm) / 2), 6) AS margin
          |FROM p JOIN nx USING (x_id) JOIN ny USING (y_id)
          |ORDER BY margin DESC, p.x_id, p.y_id LIMIT 20""".stripMargin,

      // q312: the clone serves the source snapshot plus its OWN update
      // (keys < 1000 doubled) — the source stays untouched
      "q312_txn_shallow_clone" ->
        """WITH st AS (
          |  SELECT o_orderstatus,
          |    CASE WHEN o_orderkey < 1000 THEN o_totalprice * 2
          |      ELSE o_totalprice END AS p
          |  FROM orders)
          |SELECT o_orderstatus, count(*) AS n_orders,
          |  CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM st GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q313: rate limiting changes the micro-batch cadence, never the
      // rows — the stream total equals the plain aggregate
      "q313_stream_rate_limit" ->
        """SELECT o_orderstatus, count(*) AS n_rows,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q315: the enforced-then-dropped constraint never admits the
      // bad row — the table is nation plus its suffixed copy
      "q315_txn_constraint_sql" ->
        """WITH t AS (
          |  SELECT n_regionkey, n_name FROM nation
          |  UNION ALL
          |  SELECT n_regionkey, n_name || '_C' FROM nation)
          |SELECT n_regionkey, count(*) AS n_rows,
          |  min(n_name) AS first_name
          |FROM t GROUP BY 1 ORDER BY n_regionkey""".stripMargin,

      // q320: live per-partition counts after the DV delete
      "q320_txn_show_partitions" ->
        """SELECT 'o_orderstatus=' || o_orderstatus AS partition,
          |  count(*) AS n_rows
          |FROM orders WHERE o_totalprice <= 300000
          |GROUP BY 1 ORDER BY partition""".stripMargin,

      // q319: the adopted table after the doubled-price UPDATE
      "q319_txn_convert" ->
        """WITH st AS (
          |  SELECT o_orderstatus,
          |    CASE WHEN o_orderkey < 1000 THEN o_totalprice * 2
          |      ELSE o_totalprice END AS p
          |  FROM orders)
          |SELECT o_orderstatus, count(*) AS n_orders,
          |  CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM st GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

      // q318: the (v3, head] window — the append's inserts plus the
      // upsert's pre/post pairs for every key < 1000
      "q318_txn_table_changes_fn" ->
        """WITH ins AS (
          |  SELECT o_orderstatus, o_totalprice FROM orders
          |  WHERE o_orderdate >= DATE '1998-01-01'),
          |upd AS (
          |  SELECT o_orderstatus, o_totalprice FROM orders
          |  WHERE o_orderkey < 1000),
          |feed AS (
          |  SELECT 'insert' AS _change_type, o_orderstatus,
          |    o_totalprice AS p FROM ins
          |  UNION ALL SELECT 'update_preimage', o_orderstatus,
          |    o_totalprice FROM upd
          |  UNION ALL SELECT 'update_postimage', o_orderstatus,
          |    o_totalprice * 2 FROM upd)
          |SELECT _change_type, o_orderstatus, count(*) AS n_rows,
          |  CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price
          |FROM feed GROUP BY 1, 2
          |ORDER BY _change_type, o_orderstatus""".stripMargin,

      // q316: the bottom-k cap replayed as a row_number prefix per
      // source (longest-first, doc_id tiebreak)
      "q316_domain_cap" ->
        """WITH r AS (
          |  SELECT source, n_chars,
          |    row_number() OVER (PARTITION BY source
          |      ORDER BY n_chars DESC, doc_id) AS rn
          |  FROM documents)
          |SELECT source, count(*) AS n_total,
          |  CAST(sum(CASE WHEN rn <= 20 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_kept,
          |  CAST(sum(CASE WHEN rn > 20 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_dropped,
          |  CAST(sum(CASE WHEN rn <= 20 THEN n_chars ELSE 0 END)
          |    AS BIGINT) AS kept_chars
          |FROM r GROUP BY source ORDER BY source""".stripMargin,

      // q317: fixed 64-token buckets over whitespace token counts
      "q317_length_buckets" ->
        """WITH t AS (
          |  SELECT CAST(len(list_filter(string_split(text, ' '),
          |    x -> x <> '')) AS BIGINT) AS n_tokens
          |  FROM documents)
          |SELECT ((n_tokens + 63) // 64) * 64 AS bucket,
          |  count(*) AS n_docs,
          |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
          |  CAST(sum(((n_tokens + 63) // 64) * 64 - n_tokens) AS BIGINT)
          |    AS padding_tokens
          |FROM t GROUP BY 1 ORDER BY bucket""".stripMargin,

      // q314: the CTAS body replayed directly
      "q314_txn_ctas" ->
        """SELECT l_returnflag, count(*) AS n_items,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_price,
          |  sum(l_quantity) AS sum_qty
          |FROM lineitem WHERE l_quantity < 25
          |GROUP BY 1 ORDER BY l_returnflag""".stripMargin,

      // q260: the paged source's deterministic payload replayed from
      // generate_series — page p holds ids p*50 .. p*50+49, symbol
      // 'SYM%04d', name 'Company <id> Inc.'
      "q260_paged_scan" ->
        """WITH rows_ AS (
          |  SELECT CAST(i // 50 AS INTEGER) AS page,
          |    printf('SYM%04d', i) AS symbol,
          |    'Company ' || i || ' Inc.' AS company_name
          |  FROM generate_series(50, 249) t(i))
          |SELECT page, count(*) AS n, min(symbol) AS sym_first,
          |  max(symbol) AS sym_last,
          |  CAST(sum(length(company_name)) AS BIGINT) AS name_chars
          |FROM rows_ GROUP BY 1 ORDER BY page""".stripMargin
    )
  }

  /** Shared dense hourly-grid CTEs for q201/q202: (event_type × hour)
    * grid over the events span, per-hour counts left-joined (NULL =
    * gap), exact epoch-hour index. Mirrors operators/Series. */
  private def hourGridCtes: String =
    """g0 AS (SELECT date_trunc('hour', min(ts)) AS h0,
      |              date_trunc('hour', max(ts)) AS h1 FROM events),
      |ty AS (SELECT DISTINCT event_type FROM events),
      |grid AS (SELECT ty.event_type,
      |           unnest(generate_series(g0.h0, g0.h1, INTERVAL 1 HOUR)) AS h
      |         FROM ty CROSS JOIN g0),
      |hc AS (SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS c
      |       FROM events GROUP BY 1, 2),
      |ser AS (SELECT grid.event_type, grid.h,
      |          CAST(epoch(grid.h) AS BIGINT) // 3600 AS eh, hc.c
      |        FROM grid LEFT JOIN hc ON hc.event_type = grid.event_type
      |                              AND hc.h = grid.h)""".stripMargin

  /** q200 oracle: synchronous min-tiebreak label propagation unrolled as
    * chained CTEs over the same urgent co-purchase edge set as q133 —
    * argmax per vertex is a (count DESC, label ASC) row_number, exactly
    * Graph.labelPropagation's max(struct(c, -lbl)). */
  private def lpaOracleSql(rounds: Int): String = {
    val its = (1 to rounds).map { i =>
      s"""c$i AS (SELECT d0.dst, l${i - 1}.lbl, count(*) AS c
         |      FROM d0 JOIN l${i - 1} ON l${i - 1}.v = d0.src GROUP BY 1, 2),
         |l$i AS (SELECT dst AS v, lbl FROM (
         |        SELECT dst, lbl, row_number() OVER (PARTITION BY dst
         |          ORDER BY c DESC, lbl) AS rn FROM c$i) WHERE rn = 1)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
       |      WHERE o_orderpriority = '1-URGENT'),
       |e0 AS (SELECT DISTINCT a.p AS a, b.p AS b
       |       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
       |d0 AS (SELECT a AS src, b AS dst FROM e0
       |       UNION ALL SELECT b, a FROM e0),
       |v AS (SELECT DISTINCT src AS v FROM d0),
       |l0 AS (SELECT v, v AS lbl FROM v),
       |$its
       |SELECT lbl AS community, count(*) AS sz FROM l$rounds
       |GROUP BY 1 ORDER BY sz DESC, community LIMIT 20""".stripMargin
  }
}
