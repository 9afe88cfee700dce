package graft

import graft.operators.Corpus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling probe (dev tool, not driver contract): replicate the sf0.1
  * documents fixture 10× and 100× (distinct doc_ids) and time the
  * scan-pipelined corpus operators at each scale. The point is the
  * *shape*: per-row ops (quality stats, encoding, redaction) and
  * single-shuffle ops (exact dedup, packing) should scale ~linearly in
  * rows on fixed cores — the local stand-in for "add executors, not
  * algorithms" at 100 TB. Pair-forming near-dup ops are deliberately
  * excluded: replicating every doc 100× makes every doc a 100-way exact
  * dup, which measures the fixture artifact, not the operator.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    // the core count is graft.Session's (SPARK_GRAFT_CPUS), so the probe
    // can produce per-core-count datapoints at 10x/100x data (the
    // core-scaling evidence the sf0.1 bench cannot show); optional args
    // select sections ("docs", "events", "graph", "ml", "txn") to keep a
    // paired run affordable
    val sections: Set[String] =
      if (args.isEmpty) Set("docs", "events", "graph", "ml", "txn")
      else args.map(_.trim.toLowerCase).toSet
    def on(s: String): Boolean = sections.contains(s)
    val spark = Session.local()
    val base = Tables.load(spark, "/root/testdata/sf0.1", "documents")

    // reuse requires the _SUCCESS marker, not bare directory existence —
    // a run killed mid-write would otherwise leave a partial corpus that
    // silently skews every subsequent timing
    def complete(path: String): Boolean =
      java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS"))

    def corpusAt(mult: Int): DataFrame = {
      val path = s"/tmp/graft_scale_docs_$mult.parquet"
      if (!complete(path)) {
        val n = base.count()
        spark.range(0, mult).crossJoin(base)
          .withColumn("doc_id", col("doc_id") + col("id") * n)
          .drop("id")
          .repartition(32)
          .write.mode("overwrite").parquet(path)
      }
      spark.read.parquet(path)
    }

    val baseRows = base.count() // derive, don't hardcode: krows/s must
                                // track the fixture if its size changes
    def time(name: String, mult: Int)(f: DataFrame => Long): Unit = {
      val docs = corpusAt(mult)
      f(docs) // warm plan + JIT
      val t0 = System.nanoTime()
      val rows = f(docs)
      val s = (System.nanoTime() - t0) / 1e9
      val inRows = baseRows * mult
      println(f"SCALE $name%-16s x$mult%-4d ${s}%7.3f s  ${inRows / s / 1000}%9.1f krows/s  ($rows out)")
    }

    if (on("docs")) for (mult <- Seq(1, 10, 100)) {
      time("repetition", mult)(d =>
        Corpus.repetitionStats(d, "doc_id", "text").filter(col("keep")).count())
      time("quality", mult)(d => d.select(col("doc_id"),
        graft.functions.TextOps.qualityScore(lower(col("text"))).as("q"))
        .filter(col("q") > 0.5).count())
      time("redact", mult)(d =>
        Corpus.redactPii(d, "doc_id", "text")
          .agg(sum("n_emails")).collect().head.getLong(0) + 0L)
      time("exact_dedup", mult)(d =>
        graft.ops.Dedup.exactByContent(d, "text", "doc_id").count())
      time("packing", mult)(d =>
        Corpus.packSequences(d, "doc_id", "text", "lang", 512).count())
      time("chunking", mult)(d =>
        Corpus.chunk(d, "doc_id", "text", 200, 150).count())
      // prefix-sum over doc_id: key count grows 100× with the corpus —
      // the two-phase running total (q116's core) must stay ~linear
      time("prefix_sum", mult)(d =>
        graft.operators.Ranking.withPrefixSum(
          d.select(col("doc_id"), col("n_chars")), "cum", "T",
          col("n_chars"), col("doc_id").asc).count())
      // q153 substring dedup: windows/doc fixed, so exploded rows and
      // both 16-byte-row exchanges grow linearly; window-hash partition
      // sizes grow only with duplication mass (here: the copy count),
      // never with corpus size — time/row must stay ~flat
      time("substring_dedup", mult)(d =>
        graft.operators.TextDedup.substringDupStats(d, "doc_id", "text", 10)
          .count())
      // q161 classifier gate: pure scan expression — the probe pins the
      // zero-shuffle claim (flat time/row, no exchange at any mult)
      time("feature_gate", mult)(d =>
        d.select(graft.functions.FeatureHashScore(col("text")).as("s"))
          .filter(col("s") > 0.0).count())
      // q166 bigram LM: model exchanges grow with distinct bigrams (which
      // saturate on a replicated corpus), the doc-side join + fold grow
      // linearly — time/row must flatten as the model stops growing
      time("bigram_lm", mult)(d =>
        Corpus.bigramLmScore(d, "doc_id", "text").count())
      // q183 containment: candidates ∝ shared-shingle mass. Replication
      // is the WORST case for this probe (every doc gains `mult` exact
      // copies, so true near-dup pairs — and hence the output itself —
      // grow ∝ mult² per doc); x1/x10 pins that candidates track that
      // mass rather than corpus², x100's 495k true pairs/doc would just
      // measure result materialization
      if (mult <= 10)
        time("containment", mult)(d =>
          graft.operators.TextDedup.containmentPairs(d, "doc_id", "text")
            .count())
      // q199 TF-IDF pair join: candidates ∝ Σ df² over RARE shingles.
      // Same replication caveat as containment (each doc gains `mult`
      // exact copies → true pair mass grows ∝ mult² per doc), so x1/x10
      // pins that the df cap keeps candidates tracking near-dup mass —
      // note the cap also tightens as replication pushes shared
      // shingles over the 20%-of-corpus line
      if (mult <= 10)
        time("tfidf_pairs", mult)(d =>
          graft.operators.TfIdf.pairSims(d).count())
      // PQ encoding: synthesize a deterministic 64-dim vector per doc
      // row-locally, encode to 8 codes — the whole pipeline must stay
      // scan-pipelined (zero shuffle), so time/row is flat in corpus size
      time("pq_encode", mult) { d =>
        val vec = transform(sequence(lit(1), lit(64)),
          i => pmod(col("doc_id") * i, lit(1000)).cast("double") / lit(1000.0))
        val books = graft.operators.Similarity.pqLattice(8, 16, 8)
        d.select(graft.functions.PqEncode(vec, books).as("c"))
          .agg(sum(element_at(col("c"), 1))).collect().head.getLong(0) + 0L
      }
    }

    // ── shuffle-bearing event ops: same probe over a replicated events
    // table (user_id offset per copy keeps per-user density constant, so
    // session/window state per key stays fixed while rows × 100) ───────
    val ebase = Tables.load(spark, "/root/testdata/sf0.1", "events")
    def eventsAt(mult: Int): DataFrame = {
      val path = s"/tmp/graft_scale_events_$mult.parquet"
      if (!complete(path)) {
        val users = ebase.agg(max("user_id")).head.getLong(0) + 1
        val n = ebase.count()
        spark.range(0, mult).crossJoin(ebase)
          .withColumn("user_id", col("user_id") + col("id") * users)
          .withColumn("event_id", col("event_id") + col("id") * n)
          .drop("id")
          .repartition(32)
          .write.mode("overwrite").parquet(path)
      }
      spark.read.parquet(path)
    }
    val ebaseRows = ebase.count()
    def etime(name: String, mult: Int)(f: DataFrame => Long): Unit = {
      val ev = eventsAt(mult)
      f(ev)
      val t0 = System.nanoTime()
      val rows = f(ev)
      val s = (System.nanoTime() - t0) / 1e9
      val inRows = ebaseRows * mult
      println(f"SCALE $name%-16s x$mult%-4d ${s}%7.3f s  ${inRows / s / 1000}%9.1f krows/s  ($rows out)")
    }
    if (on("events")) for (mult <- Seq(1, 10, 100)) {
      etime("watermark", mult)(e =>
        graft.ops.Watermark.latestDates(e, "user_id", "ts").count())
      etime("argmax_dedup", mult)(e =>
        graft.ops.Dedup.argmaxWindow(
          e.withColumn("event_date", to_date(col("ts"))),
          Seq("user_id", "event_date"),
          Seq(col("value").desc, col("event_id"))).count())
      etime("sessionize", mult)(e =>
        graft.operators.Sessions.sessionize(e, "user_id", "ts", "event_id",
          "value", gapUs = 43200000000L).count())
      etime("salted_agg", mult)(e =>
        graft.ops.Skew.saltedSumCount(e, Seq("event_type"), col("value"), 16)
          .count())
      // global ranking over per-user totals: the user_id offset per copy
      // means the KEY count grows 100× with the corpus — the axis where
      // the old Window.orderBy single-reducer plan died; the two-phase
      // Ranking must stay ~linear here (q77/q104/q106's core)
      etime("global_rank", mult)(e => {
        val per = e.groupBy("user_id").agg(sum("value").as("total"))
        graft.operators.Ranking.withGlobalRank(per, "rk", "n",
          col("total").desc, col("user_id").asc).count()
      })
      // q120's shape: three conditional-min windows on one exchange;
      // per-user state fixed, user count grows with mult
      etime("funnel_stages", mult)(e => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        e.withColumn("t1", min(when(col("event_type") === "view", col("ts"))).over(w))
          .withColumn("t2", min(when(col("event_type") === "click" &&
            col("ts") > col("t1"), col("ts"))).over(w))
          .filter(col("t2").isNotNull).count()
      })
      // bounded-state top-k (q132's core): 5 groups regardless of scale,
      // so the window form would funnel everything into 5 reducers while
      // the aggregate's exchange carries ≤ k·tasks rows per group
      etime("topk_agg", mult)(e =>
        e.groupBy("event_type")
          .agg(graft.functions.TopKByScore(col("value"), col("event_id"), 5)
            .as("top")).count())
      // q126's shape: one user_id exchange for lead(), pair-count agg
      etime("transitions", mult)(e => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        e.select(col("user_id"), col("ts"), col("event_id"),
            col("event_type").as("prev"))
          .withColumn("next", lead(col("prev"), 1).over(w))
          .filter(col("next").isNotNull)
          .groupBy("prev", "next").count().count()
      })
    }

    // ── iterative graph ops (q133/q136/q139's cores): disjoint copies
    // (vertex offset per copy) grow EDGES 10×/100× while per-vertex
    // degree and graph diameter stay fixed — so per-iteration wall time
    // must stay ~flat at demo scale (fixed scheduler overhead dominates)
    // and grow ~linearly in edges once data cost takes over. That is the
    // claim behind the README ratio table's PageRank/BFS rows: the
    // join-per-iteration shape pays a constant per round, not a
    // superlinear term. ─────────────────────────────────────────────────
    val gbase: DataFrame = {
      val path = "/tmp/graft_scale_edges_1.parquet"
      if (!complete(path)) {
        val li = Tables.load(spark, "/root/testdata/sf0.1", "lineitem")
        val ord = Tables.load(spark, "/root/testdata/sf0.1", "orders")
          .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
        graft.operators.Graph.coOccurrenceEdges(
          li.join(ord, col("o_orderkey") === col("l_orderkey"))
            .select(col("l_orderkey"), col("l_partkey")),
          "l_orderkey", "l_partkey")
          .repartition(32).write.mode("overwrite").parquet(path)
      }
      spark.read.parquet(path)
    }
    val vOff = gbase.agg(greatest(max("a"), max("b"))).head.getLong(0) + 1
    def edgesAt(mult: Int): DataFrame = {
      val path = s"/tmp/graft_scale_edges_$mult.parquet"
      if (mult == 1) return gbase
      if (!complete(path)) {
        spark.range(0, mult).crossJoin(gbase)
          .select((col("a") + col("id") * vOff).as("a"),
            (col("b") + col("id") * vOff).as("b"))
          .repartition(32).write.mode("overwrite").parquet(path)
      }
      spark.read.parquet(path)
    }
    val gbaseRows = gbase.count()
    // iters normalizes to per-iteration wall time; components' round
    // count is diameter-driven and identical across copies (disjoint
    // replication preserves diameter), so it reports total time as one
    // "iteration"
    def gtime(name: String, mult: Int, iters: Int)(f: DataFrame => Long): Unit = {
      val ed = edgesAt(mult)
      f(ed) // warm plan + JIT
      val t0 = System.nanoTime()
      val rows = f(ed)
      val s = (System.nanoTime() - t0) / 1e9
      println(f"SCALE $name%-16s x$mult%-4d ${s}%7.3f s  ${s / iters}%7.3f s/iter  (${gbaseRows * mult} edges, $rows out)")
    }
    if (on("graph")) for (mult <- Seq(1, 10, 100)) {
      gtime("pagerank", mult, iters = 3)(e =>
        graft.operators.Graph.pageRankFixedPoint(e, iters = 3).count())
      // q200: same join-per-round shape as pagerank (|E| equi-join +
      // two aggregates per round) — per-iteration time must track it
      gtime("label_prop", mult, iters = 3)(e =>
        graft.operators.Graph.labelPropagation(e, rounds = 3).count())
      // q213: HUB-CAPPED wedge join (the shipped form) — per middle
      // vertex only the 64 lowest-id neighbors generate wedges, so
      // candidates = Σ min(deg,64)² stay ∝ edges under disjoint
      // replication AND stay bounded on power-law hubs (see hub_cap
      // below); the out count IS the candidate-pair count the README
      // selectivity table cites
      gtime("link_pred", mult, iters = 1) { e =>
        val dirE = e.select(col("a").as("src"), col("b").as("dst"))
          .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
          .localCheckpoint(true)
        val capped = graft.operators.Graph.cappedAdjacency(dirE, 64)
        val cn = capped.select(col("src").as("m"), col("dst").as("u"))
          .join(capped.select(col("src").as("m"), col("dst").as("v2")), "m")
          .where(col("u") < col("v2"))
          .groupBy(col("u"), col("v2")).agg(count(lit(1)).as("c"))
        cn.join(e, cn("u") === e("a") && cn("v2") === e("b"), "left_anti")
          .count()
      }
      gtime("bfs_hops", mult, iters = 3) { e =>
        val dirE = e.select(col("a").as("src"), col("b").as("dst"))
          .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
          .localCheckpoint(true)
        val verts = dirE.select(col("src").as("v")).distinct()
        // seeds v % vOff < 10: the SAME seed set in every copy, so
        // frontier work per copy is constant and total work ∝ edges
        var reached = verts.filter(col("v") % vOff < 10)
          .select(col("v"), lit(0).as("hop")).localCheckpoint(true)
        (1 to 3).foreach { h =>
          val next = reached.filter(col("hop") === h - 1)
            .join(dirE, col("v") === col("src"))
            .select(col("dst").as("v")).distinct()
            .join(reached.select("v"), Seq("v"), "left_anti")
            .select(col("v"), lit(h).as("hop"))
          reached = reached.unionAll(next).localCheckpoint(false)
        }
        reached.count()
      }
      // q164 walks: seeds constant per copy (same trick as bfs), so the
      // frontier is a fixed |walks| rows every step and per-step cost is
      // join fan-out against a 10/100× edge table — s/iter must stay flat
      gtime("random_walks", mult, iters = 4) { e =>
        val seeds = e.select(col("a").as("v"))
          .unionAll(e.select(col("b").as("v"))).distinct()
          .filter(col("v") % vOff < 10)
          .select(col("v").as("walk_id"), col("v"))
        graft.operators.Graph.deterministicWalks(e, seeds, steps = 4).count()
      }
      // driverThreshold=0 forces the DISTRIBUTED min-label loop — the
      // 100 TB path the probe is meant to exercise (the driver union-find
      // would otherwise absorb every demo-scale graph)
      gtime("components", mult, iters = 1)(e =>
        graft.operators.Components.connectedComponents(e, "a", "b",
          driverThreshold = 0L).count())
    }

    // ── q213 hub mitigation: a single star vertex of degree D buried in
    // 100k background edges. UNCAPPED wedge generation owes the hub
    // C(D,2) candidate pairs (quadratic: 10× hub → 100× pairs — 5·10⁹
    // at D=100k, the power-law death); the shipped cap owes C(64,2) ≈
    // 2k regardless of D, so probe time must stay ~FLAT as the hub
    // grows 10×, 100×. ────────────────────────────────────────────────
    if (on("graph")) for (hubDeg <- Seq(1000, 10000, 100000)) {
      val hub = spark.range(1, hubDeg + 1)
        .select(lit(0L).as("a"), (col("id") + 1000000L).as("b"))
      val bg = spark.range(0, 100000)
        .select((col("id") * 7919L % 999983L + 1L).as("a"),
          (col("id") * 104729L % 999983L + 1L).as("b"))
        .where(col("a") =!= col("b"))
      val e = hub.unionAll(bg).localCheckpoint(true)
      val dirE = e.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
      def wedges(adj: DataFrame): Long =
        adj.select(col("src").as("m"), col("dst").as("u"))
          .join(adj.select(col("src").as("m"), col("dst").as("v2")), "m")
          .where(col("u") < col("v2")).count()
      val capped = graft.operators.Graph.cappedAdjacency(dirE, 64)
        .localCheckpoint(true)
      wedges(capped) // warm
      val t0 = System.nanoTime()
      val out = wedges(capped)
      val s = (System.nanoTime() - t0) / 1e9
      val uncapped = hubDeg.toLong * (hubDeg - 1) / 2
      println(f"SCALE hub_cap          hubDeg=$hubDeg%-7d ${s}%7.3f s  " +
        f"($out capped wedges vs >= $uncapped%,d uncapped from the hub alone)")
    }

    // ── iterative ML ops (q148/q150 cores). kmeans: disjoint vec_id
    // copies grow the vector count while k and dims stay fixed —
    // assignment is row-local expression work (must scale ~linearly in
    // vectors) and each round's centroid aggregate carries ≤ k·dim rows,
    // so per-vector time must stay ~flat. BPE: replicated corpora keep
    // the word-frequency VOCABULARY constant, so only the initial
    // word-count scan grows with the corpus — per-round pair counting is
    // vocab-bound, the property that makes tokenizer training viable at
    // 100 TB (the rounds never touch the corpus again). ────────────────
    val vbase = Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
    def vecsAt(mult: Int): DataFrame = {
      val path = s"/tmp/graft_scale_vecs_$mult.parquet"
      if (!complete(path)) {
        val n = vbase.count()
        spark.range(0, mult).crossJoin(vbase)
          .withColumn("vec_id", col("vec_id") + col("id") * n)
          .drop("id").repartition(32)
          .write.mode("overwrite").parquet(path)
      }
      spark.read.parquet(path)
    }
    val vbaseRows = vbase.count()
    if (on("ml")) for (mult <- Seq(1, 10, 100)) {
      val q = vecsAt(mult).select(col("vec_id"),
        graft.operators.Clustering.quantize(col("embedding")).as("qv"))
      val run = () =>
        graft.operators.Clustering.kmeansAssign(q, "vec_id", k = 4, iters = 2).count()
      run() // warm plan + JIT
      val t0 = System.nanoTime()
      val out = run()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"SCALE kmeans_2it       x$mult%-4d ${s}%7.3f s  ${vbaseRows * mult / s / 1000}%9.1f kvec/s  ($out assigned)")
    }
    if (on("ml")) for (mult <- Seq(1, 10, 100)) {
      val docs = corpusAt(mult)
      val run = () =>
        graft.operators.Bpe.learnMerges(docs, "text", nMerges = 2).count()
      run() // warm
      val t0 = System.nanoTime()
      val out = run()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"SCALE bpe_2rounds      x$mult%-4d ${s}%7.3f s  ${baseRows * mult / s / 1000}%9.1f kdocs/s  ($out merges)")
    }

    // ── q24 blocking selectivity: candidate-pair counts under growth
    // that keeps true near-dup mass LINEAR. Each copy's tokens are
    // prefixed with the copy index, so cross-copy Jaccard is exactly 0
    // while within-copy near-dup structure repeats unchanged; every copy
    // still lands in the SAME count bands, so count-band-only blocking
    // would enumerate all cross-copy pairs (quadratic in copies) — the
    // minhash band key is what keeps candidates ∝ near-dup mass.
    // threshold=0 turns the verified output into the candidate set
    // itself (every blocked pair has Jaccard ≥ 0), so the emitted count
    // IS the post-blocking candidate count. sf0.01 base: its 500 docs
    // already carry ~46k true near-dup pairs per copy.
    val dbase = Tables.load(spark, "/root/testdata/sf0.01", "documents")
      .select("doc_id", "text")
    val dbaseRows = dbase.count()
    if (on("ml")) for (mult <- Seq(1, 10, 100)) {
      val docs = spark.range(0, mult).crossJoin(dbase)
        .select((col("doc_id") + col("id") * 1000000L).as("doc_id"),
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("c"), col("id"), lit("_$1"))).as("text"))
      val run = () => graft.operators.TextDedup.jaccardNearDupsBlocked(
        docs, "doc_id", "text", threshold = 0.0).count()
      run() // warm
      val t0 = System.nanoTime()
      val cands = run()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"SCALE q24_candidates   x$mult%-4d ${s}%7.3f s  ($cands candidates, ${dbaseRows * mult} docs)")
    }

    // ── TxnLog read planning: checkpoints make snapshot planning
    // O(commits since checkpoint) instead of O(all versions). 60
    // single-commit appends, then time files() (pure log replay, no
    // Spark job) with checkpoints present vs deleted. The absolute
    // times are microseconds here — the SHAPE (flat vs linear in
    // version count) is what carries to a table with 100k commits on
    // an object store where every log read is a GET. ──────────────────
    if (on("txn")) {
      val tdir = java.nio.file.Files
        .createTempDirectory("graft_txn_probe_").resolve("t").toString
      val one = Tables.load(spark, "/root/testdata/sf0.001", "nation")
        .select("n_nationkey").limit(1)
      graft.sources.TxnLog.create(spark, tdir, one)
      (1 to 59).foreach(_ => graft.sources.TxnLog.append(spark, tdir, one))
      def timePlanning(tag: String): Unit = {
        graft.sources.TxnLog.files(tdir) // warm fs cache
        val t0 = System.nanoTime()
        (1 to 50).foreach { _ =>
          // measure RAW replay, not the snapshot memo
          graft.sources.TxnLog.clearStateCaches()
          graft.sources.TxnLog.files(tdir)
        }
        val us = (System.nanoTime() - t0) / 50 / 1e3
        println(f"SCALE txn_planning     $tag%-14s ${us}%8.1f us/plan  (60 versions)")
      }
      // the memoized head-read path (Delta's Snapshot cache): what a
      // query chain's 2nd..Nth plan over the same version pays
      {
        graft.sources.TxnLog.files(tdir) // populate
        val t0 = System.nanoTime()
        (1 to 50).foreach(_ => graft.sources.TxnLog.files(tdir))
        val us = (System.nanoTime() - t0) / 50 / 1e3
        println(f"SCALE txn_planning     ${"memoized"}%-14s ${us}%8.1f us/plan  (60 versions)")
      }
      timePlanning("checkpointed")
      val ld = java.nio.file.Paths.get(tdir, "_txn_log")
      val ls = java.nio.file.Files.list(ld)
      try ls.filter(p => p.toString.endsWith(".checkpoint.parquet") ||
          p.getFileName.toString == "_last_checkpoint")
        .forEach(p => java.nio.file.Files.delete(p))
      finally ls.close()
      timePlanning("no_checkpoint")
      graft.TempWork.deleteRecursively(
        java.nio.file.Paths.get(tdir).getParent)
    }

    // ── TxnLog partition-scoped upsert: merge cost ∝ TOUCHED partitions,
    // not table size. The table grows 4× → 16× → 64× in partition count
    // while the upsert always touches exactly ONE partition; wall time
    // and files-rewritten stay flat as the table grows — the property
    // that makes a daily merge into a 100 TB date-partitioned corpus
    // affordable (the whole-table copy-on-write alternative grows
    // linearly with the table). ─────────────────────────────────────────
    if (on("txn")) {
      val base = Tables.load(spark, "/root/testdata/sf0.01", "orders")
        .select("o_orderkey", "o_totalprice")
      for (parts <- Seq(4, 16, 64)) {
        val tdir = java.nio.file.Files
          .createTempDirectory("graft_txn_up_").resolve("t").toString
        val laid = base.withColumn("p", pmod(col("o_orderkey"), lit(parts)))
        graft.sources.TxnLog.create(spark, tdir, laid,
          partitionBy = Seq("p"))
        val filesBefore = graft.sources.TxnLog.files(tdir).size
        val upd = laid.filter(col("p") === 1)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
        val t0 = System.nanoTime()
        val v = graft.sources.TxnLog.upsert(spark, tdir, upd, Seq("o_orderkey"))
        val s = (System.nanoTime() - t0) / 1e9
        val after = graft.sources.TxnLog.files(tdir)
        val untouched = graft.sources.TxnLog.files(tdir, Some(1L))
          .count(after.contains)
        println(f"SCALE txn_upsert       parts=$parts%-4d ${s}%7.3f s  " +
          f"(${after.size - untouched} of ${after.size} live files " +
          f"rewritten, $filesBefore before, v$v)")
        graft.TempWork.deleteRecursively(
          java.nio.file.Paths.get(tdir).getParent)
      }
    }

    // ── TxnLog shallow clone: cost ∝ live-file METADATA, independent
    // of data volume. The source grows 16× in file count; the clone is
    // one log write of add/stats lines (zero data files copied — the
    // probe asserts it), so the 100 TB table clones in the same
    // milliseconds as the 100 MB one. The read-back count proves the
    // absolute-path references serve immediately. ───────────────────────
    if (on("txn")) {
      val base = Tables.load(spark, "/root/testdata/sf0.01", "orders")
        .select("o_orderkey", "o_totalprice")
      for (nFiles <- Seq(16, 64, 256)) {
        val sdir = java.nio.file.Files
          .createTempDirectory("graft_txn_cl_").resolve("s").toString
        graft.sources.TxnLog.create(spark, sdir,
          base.repartition(nFiles), statsCols = Seq("o_orderkey"))
        val ddir = java.nio.file.Paths.get(sdir).getParent
          .resolve("d").toString
        val t0 = System.nanoTime()
        graft.sources.TxnLog.shallowClone(spark, sdir, ddir)
        val ms = (System.nanoTime() - t0) / 1e6
        val copied = {
          val st = java.nio.file.Files.walk(java.nio.file.Paths.get(ddir))
          try st.filter(p => p.toString.endsWith(".parquet") &&
            !p.toString.contains("_txn_log")).count()
          finally st.close()
        }
        require(copied == 0, "clone must copy zero data files")
        val n = graft.sources.TxnLog.snapshot(spark, ddir).count()
        println(f"SCALE txn_clone        files=$nFiles%-4d ${ms}%7.1f ms  " +
          f"(0 data files copied, $n rows readable)")
        graft.TempWork.deleteRecursively(
          java.nio.file.Paths.get(sdir).getParent)
      }
    }
    // ── General MERGE (clause engine): rewrite mass ∝ candidate
    // files, NOT table size. The table grows 4× in file count per
    // step while the batch stays fixed (a narrow key band + far-away
    // inserts); stats-gated bloom pruning must keep the rewritten
    // file count roughly CONSTANT, so the conditional merge's cost is
    // flat-ish while the table grows — the property that makes a
    // daily recency-guarded merge affordable at 100 TB. ────────────────
    if (on("txn")) {
      val base = Tables.load(spark, "/root/testdata/sf0.01", "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      for (nFiles <- Seq(8, 32, 128)) {
        val tdir = java.nio.file.Files
          .createTempDirectory("graft_txn_gm_").resolve("t").toString
        graft.sources.TxnLog.create(spark, tdir,
          base.repartitionByRange(nFiles, col("o_orderkey")),
          statsCols = Seq("o_orderkey"), bloomCols = Seq("o_orderkey"))
        val src = base.filter(col("o_orderkey") < 600)
          .withColumn("op",
            when(col("o_orderkey") < 300, lit("D")).otherwise(lit("U")))
          .unionByName(base.filter(col("o_orderkey") < 200)
            .withColumn("o_orderkey", col("o_orderkey") + 30000000L)
            .withColumn("op", lit("U")))
        val t0 = System.nanoTime()
        graft.sources.TxnLog.merge(spark, tdir, src,
          keys = Seq("o_orderkey"),
          matched = Seq(
            graft.sources.TxnLog.MergeClause(
              Some(col("__s.op") === "D"), isDelete = true, Nil),
            graft.sources.TxnLog.MergeClause(None, isDelete = false,
              Seq("o_totalprice" -> (col("__s.o_totalprice") * 2)))),
          notMatched = Seq(graft.sources.TxnLog.MergeClause(
            Some(col("__s.op") =!= "D"), isDelete = false,
            Seq("o_orderkey" -> col("__s.o_orderkey"),
              "o_orderstatus" -> col("__s.o_orderstatus"),
              "o_totalprice" -> col("__s.o_totalprice")))))
        val s = (System.nanoTime() - t0) / 1e9
        val after = graft.sources.TxnLog.files(tdir)
        val untouched = graft.sources.TxnLog.files(tdir, Some(1L))
          .count(after.contains)
        val rewritten = graft.sources.TxnLog.files(tdir, Some(1L)).size -
          untouched
        // the key band spans a handful of range files (the range
        // sampler makes early files uneven, so the band can straddle
        // ~6 at 128 files) — the pin is that the rewrite NEVER grows
        // with the table: a fixed absolute bound across 8→128 files
        require(rewritten <= 8,
          s"pruning must bound the rewrite to the key band, got $rewritten")
        println(f"SCALE txn_merge        files=$nFiles%-4d ${s}%7.3f s  " +
          f"($rewritten of $nFiles files rewritten; " +
          f"matched-DELETE + guarded UPDATE + conditional INSERT)")
        graft.TempWork.deleteRecursively(
          java.nio.file.Paths.get(tdir).getParent)
      }
    }
    // ── replaceWhere: rewrite mass ∝ predicate band, NOT table size.
    // Same protocol as txn_merge — the table grows 4× in file count
    // per step, the replaced key band stays fixed. The stats-scoped
    // candidate set plus the pushed-filter victim pin must keep the
    // rewritten file count bounded by the band while every other file
    // keeps its identity — the property that makes "replace the
    // re-extracted days" affordable on an unpartitioned 100 TB table. ──
    if (on("txn")) {
      val base = Tables.load(spark, "/root/testdata/sf0.01", "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      for (nFiles <- Seq(8, 32, 128)) {
        val tdir = java.nio.file.Files
          .createTempDirectory("graft_txn_rw_").resolve("t").toString
        graft.sources.TxnLog.create(spark, tdir,
          base.repartitionByRange(nFiles, col("o_orderkey")),
          statsCols = Seq("o_orderkey"))
        val batch = base.filter(col("o_orderkey") < 600)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
        val t0 = System.nanoTime()
        graft.sources.TxnLog.replaceWhere(spark, tdir,
          "o_orderkey < 600", batch)
        val s = (System.nanoTime() - t0) / 1e9
        val after = graft.sources.TxnLog.files(tdir)
        val v1 = graft.sources.TxnLog.files(tdir, Some(1L))
        val rewritten = v1.size - v1.count(after.contains)
        require(rewritten <= 8,
          s"replaceWhere must bound the rewrite to the band, got " +
            s"$rewritten of $nFiles")
        println(f"SCALE txn_replacewhere files=$nFiles%-4d ${s}%7.3f s  " +
          f"($rewritten of $nFiles files rewritten; " +
          "one delete+insert commit)")
        graft.TempWork.deleteRecursively(
          java.nio.file.Paths.get(tdir).getParent)
      }
    }
    spark.stop()
  }
}
