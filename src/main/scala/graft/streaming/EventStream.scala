package graft.streaming

import graft.TempWork.deleteRecursively
import graft.ops.Exact
import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DoubleType, LongType, TimestampType}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Structured Streaming surface (SURVEY.md §2.9 [ext]).
  *
  * The reference's "streaming" is a daily scheduled micro-batch with
  * watermark state kept in the destination table. The Spark-native
  * equivalent: a file-source `readStream`, event-time tumbling window
  * aggregation, `Trigger.AvailableNow` for the batch-like daily run.
  * Every query starts through [[drain]], the one start path.
  *
  * Scale notes: AvailableNow processes the backlog in rate-limited
  * micro-batches with checkpointed state — the 100 TB shape is the same
  * code pointed at an arriving-files directory with a real checkpoint
  * location; state for a tumbling window is bounded by (#days × #types).
  * The decimal-sum trick (see [[graft.ops.Exact]]) keeps the streamed
  * aggregate bit-identical to the batch oracle regardless of micro-batch
  * boundaries, because decimal addition is associative.
  */
object EventStream {

  /** Set `kvs` on the session for the duration of `body`, then put each
    * key back to its prior value (or unset it) — on failure too. */
  private def withConf[A](spark: SparkSession, kvs: Seq[(String, String)])
                         (body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The session settings every streaming query runs under.
    *
    * State partitions: stateful operators allocate one state store per
    * shuffle partition, and every micro-batch commits a delta file per
    * store — so a stream-stream join (4 stores/partition) under the batch
    * session's 32 shuffle partitions pays 128 state commits per batch for
    * a few thousand keys of state. The partition count is pinned in the
    * offset log at query START, so it is a per-query sizing decision, not
    * a session one: size it to state volume (keys × bytes / target
    * partition size), independent of the batch default. A 100 TB
    * deployment sizes UP for the same reason this sizes down.
    *
    * FastLocalFs: the query's `file://` I/O — offset/commit WAL,
    * state-store delta files, foreachBatch table commits — goes through
    * [[graft.sources.FastLocalFs]]. A micro-batch commits offsets + one
    * delta file PER STATE STORE per batch; without the Hadoop native
    * library each of those local creates/mkdirs pays a fork+exec `chmod`
    * (see FastLocalFs), and concurrent store commits serialize on the
    * kernel's fork path — measured at ~45 ms per store commit without
    * it (StreamProbe). SQLConf entries are copied verbatim into
    * `sessionState.newHadoopConf()`, which is exactly the conf
    * StreamExecution snapshots at query start, so a scoped set/restore
    * around start and await leaks nothing. Cluster deployments
    * checkpoint to HDFS/object stores (other schemes) and are untouched.
    *
    * RocksDB: transformWithState requires the RocksDB state store. */
  private def streamConf(rocksDb: Boolean): Seq[(String, String)] =
    Seq("spark.sql.shuffle.partitions" -> "4",
      "fs.file.impl" -> classOf[graft.sources.FastLocalFs].getName,
      "fs.file.impl.disable.cache" -> "true",
      // the checkpoint layer (WAL + state stores) uses the FileContext
      // API, which resolves impls through this separate key
      "fs.AbstractFileSystem.file.impl" ->
        classOf[graft.sources.FastLocalAbstractFs].getName) ++
      (if (!rocksDb) Nil
       else Seq("spark.sql.streaming.stateStore.providerClass" ->
         "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))

  /** Throwaway checkpoint dir (offsets + state store files) on tmpfs
    * when available: the harness queries commit state + offset files
    * every micro-batch, and that fsync-bound I/O — not computation —
    * dominates short stream-stream joins. Production checkpoints
    * belong on durable storage; a bench/verify harness's throwaway
    * checkpoints do not. Writable is not enough: containers commonly
    * mount /dev/shm at 64MB, and a stream-stream join's state store
    * exhausting it mid-query fails a run that would have succeeded on
    * disk. Require real headroom (512MB) before choosing tmpfs;
    * otherwise fall back to a temp dir on disk. */
  private def tmpfsCheckpoint(): Path = {
    val shm = Paths.get("/dev/shm")
    val shmUsable = Files.isWritable(shm) &&
      (try Files.getFileStore(shm).getUsableSpace >= 512L * 1024 * 1024
       catch { case _: java.io.IOException => false })
    if (shmUsable) Files.createTempDirectory(shm, "graft_ckpt_")
    else Files.createTempDirectory("graft_ckpt_")
  }

  /** The one start path for every streaming query. `sink` says where
    * the rows go; this adds the rest: `Trigger.AvailableNow` (the
    * reference's scheduled daily micro-batch — drain what has landed,
    * then stop), a throwaway [[tmpfsCheckpoint]] and the scoped
    * [[streamConf]] (RocksDB when the plan holds a transformWithState).
    * It starts the query and waits for it to finish. Every setting is
    * restored and the checkpoint deleted on every exit, failure
    * included: Bench expects a streaming query to sometimes throw and
    * keeps going. Returns the terminated query, whose `recentProgress`
    * is still readable. */
  private[graft] def drain(df: DataFrame)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): StreamingQuery = {
    val rocksDb =
      df.queryExecution.analyzed.exists(_.isInstanceOf[TransformWithState])
    val ckpt = tmpfsCheckpoint()
    try withConf(df.sparkSession, streamConf(rocksDb)) {
      val q = sink(df.writeStream).trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt.toString).start()
      q.awaitTermination()
      q
    } finally deleteRecursively(ckpt)
  }

  /** Run a streaming DataFrame through [[drain]] into a uniquely-named
    * memory sink, hand the terminated query to `check`, apply `finish`
    * to the sink table, and eagerly materialize the result so the sink
    * view can be DROPPED before returning. Without this, repeated bench
    * passes accumulate full result sets in driver memory (one
    * never-dropped temp view per invocation). */
  private def runToResult(df: DataFrame, mode: String,
                          check: StreamingQuery => Unit = _ => ())
                         (finish: DataFrame => DataFrame): DataFrame = {
    val name = s"stream_q_${System.nanoTime()}"
    try {
      check(drain(df)(_.outputMode(mode).format("memory").queryName(name)))
      finish(df.sparkSession.table(name)).localCheckpoint(true)
    } finally df.sparkSession.catalog.dropTempView(name): Unit
  }

  /** Process-level cache of staged landing dirs, keyed by the exact
    * (fixture dir, staging recipe) that produced them. The 17 streaming
    * queries previously EACH re-read the events fixture, re-filtered,
    * and re-wrote their micro-batch files — two Spark write jobs of
    * identical bytes per query, ~half the streaming bench cost. Staging
    * identical inputs once and replaying them is exactly what a real
    * pipeline's landing zone does; the per-query parts that matter
    * (fresh source offsets, fresh state store, fresh sink) are untouched
    * because each query still gets its own checkpoint. Landing dirs are
    * shared across queries, so they die with the JVM, not with a query;
    * one staging per recipe, even when first calls race. */
  private object LandingCache {
    private val dirs = scala.collection.concurrent.TrieMap.empty[String, Path]
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      dirs.values.foreach(deleteRecursively)))
    def getOrCreate(key: String)(mk: => Path): Path =
      synchronized(dirs.getOrElseUpdate(key, mk))
  }

  /** Stage the events fixture into a cached landing dir (`stage` writes
    * the files and returns them in arrival order) and return a file
    * stream over it, one file per micro-batch, with `ts` read the way
    * Tables.load reads it (nanos→micros). */
  private def landedStream(spark: SparkSession, dir: String, recipe: String)
                          (stage: Path => Seq[Path]): DataFrame = {
    graft.Tables.fixtureConf(spark)
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val landing = LandingCache.getOrCreate(s"$dir||$recipe") {
      val out = Files.createTempDirectory("graft_stream_in_")
      val files = stage(out)
      // pin mtimes a minute apart in arrival order: the file source
      // batches oldest-first, and back-to-back copies can otherwise land
      // in the same filesystem timestamp tick, leaving batch order to
      // listing luck — fatal for order-SENSITIVE consumers (q141's
      // cross-batch high-water mark, the sentinel flush batch)
      val base = System.currentTimeMillis()
      files.zipWithIndex.foreach { case (f, i) =>
        Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime
          .fromMillis(base - (files.length - i).toLong * 60000L))
      }
      out
    }
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // one file per micro-batch
      .parquet(landing.toString)
      .withColumn("ts", graft.Tables.tsCol(schema("ts").dataType))
  }

  /** Write `df` as the single parquet file `target`. */
  private def writeOneFile(df: DataFrame, target: Path): Path = {
    val tmp = Files.createTempDirectory("graft_stage_")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val st = Files.list(tmp)
      val part = try st.filter(_.toString.endsWith(".parquet")).findFirst()
        .orElseThrow(() => new IllegalStateException(s"no parquet part in $tmp"))
      finally st.close()
      Files.copy(part, target)
    } finally deleteRecursively(tmp)
  }

  final case class EventRow(event_id: Long, ts: java.sql.Timestamp,
                            user_id: Long, event_type: String, value: Double)
  final case class UserWatermark(user_id: Long, latest_epoch_day: Long)

  /** The reference's incremental-sync watermark state (`max(date) per
    * key`, kept in the destination table — SURVEY §2.9) as *streaming
    * state*: `mapGroupsWithState` holds one epoch-day long per key and
    * folds each micro-batch into it. This is the Structured Streaming
    * twin of [[graft.ops.Watermark.latestDates]] — same state, pushed
    * into the engine's state store instead of the sink table.
    *
    * Scale notes: state size is |keys| × 8 bytes, partitioned by the
    * shuffle on the grouping key; RocksDB state store + changelog
    * checkpointing is the production configuration. Output mode Update
    * emits only keys whose watermark advanced in the batch. */
  def statefulWatermarks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stream = eventsStream(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventRow]
    runToResult(watermarkState(stream).toDF(), "update") { t =>
      // multiple micro-batches may emit a key repeatedly; last write wins
      t.groupBy("user_id")
        .agg(max(col("latest_epoch_day")).as("latest_epoch_day"))
        .select(col("user_id"),
          date_add(to_date(lit("1970-01-01")), col("latest_epoch_day").cast("int"))
            .as("latest_date"))
        .orderBy("user_id")
    }
  }

  /** The state transition itself, factored out so tests can drive it over
    * a MemoryStream batch by batch: per-key state = max UTC epoch day seen
    * so far; each batch folds in and emits the new watermark. */
  def watermarkState(stream: org.apache.spark.sql.Dataset[EventRow]): org.apache.spark.sql.Dataset[UserWatermark] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import stream.sparkSession.implicits._
    stream
      .groupByKey(_.user_id)
      .mapGroupsWithState[Long, UserWatermark](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[EventRow], state: GroupState[Long]) =>
          // epoch millis → UTC epoch day (no JVM-default-zone dependence)
          val batchMax = rows.map(r =>
            java.lang.Math.floorDiv(r.ts.getTime, 86400000L)).max
          val newMax = math.max(state.getOption.getOrElse(Long.MinValue), batchMax)
          state.update(newMax)
          UserWatermark(user, newMax)
      }
  }

  final case class RecordOut(user_id: Long, event_id: Long, value: Double)

  /** Per-user record-breaker detector on the `transformWithState` API
    * (Spark 4's arbitrary-state processor, RocksDB state store): a
    * ValueState[Double] high-water mark per user; an event emits iff its
    * value strictly exceeds everything the user produced before it.
    * Within a batch rows arrive unordered, so the processor sorts its
    * per-key iterator by (ts, event_id) — cross-batch order comes from
    * the time-split landing (early half, then late half), so the emitted
    * sequence equals the batch running-max scan regardless of batching.
    * State is one double per user, forever-bounded; TTLConfig carries
    * the production eviction story. */
  private class HighWaterProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EventRow, RecordOut] {
    @transient private var mx: org.apache.spark.sql.streaming.ValueState[Double] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      mx = getHandle.getValueState[Double]("mx",
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[EventRow],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[RecordOut] = {
      val sorted = rows.toArray.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
      var cur = if (mx.exists()) mx.get() else Double.NegativeInfinity
      val out = scala.collection.mutable.ArrayBuffer.empty[RecordOut]
      sorted.foreach { e =>
        if (e.value > cur) { cur = e.value; out += RecordOut(key, e.event_id, e.value) }
      }
      mx.update(cur)
      out.iterator
    }
  }

  /** Streaming record-breakers via [[HighWaterProcessor]]: the fixture
    * lands as two time-halves (their own micro-batches, early first), so
    * the ValueState genuinely crosses batches. transformWithState
    * requires the RocksDB state store, which [[drain]] swaps in for this
    * query and restores after. */
  def recordBreakers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    runToResult(perUser(halvesStream(spark, dir), new HighWaterProcessor),
        "append") { t =>
      t.select(col("user_id"), col("event_id"), col("value"))
        .orderBy("user_id", "event_id")
    }
  }

  /** Key the events stream by user through a transformWithState
    * processor (no timers, append output). */
  private def perUser[O: org.apache.spark.sql.Encoder](stream: DataFrame,
      p: org.apache.spark.sql.streaming.StatefulProcessor[Long, EventRow, O])
      : DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value")).as[EventRow]
      .groupByKey(_.user_id)
      .transformWithState(p, org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
      .toDF()
  }

  /** Stream source over the events fixture. `copies` > 1 lands the
    * same file several times — the arriving-duplicate-batch shape that
    * exercises cross-batch dedup. */
  private def eventsStream(spark: SparkSession, dir: String,
                           copies: Int = 1): DataFrame =
    landedStream(spark, dir, s"copies=$copies") { out =>
      (1 to copies).map(i => Files.copy(Paths.get(s"$dir/events.parquet"),
        out.resolve(s"events_$i.parquet")))
    }

  /** Streaming dedup across micro-batches: the same events file lands
    * twice (two micro-batches via maxFilesPerTrigger=1), and
    * `dropDuplicatesWithinWatermark` on the event id suppresses the
    * second copy — the streaming twin of the reference's
    * duplicate-tolerant upsert (late or re-delivered extracts must not
    * double-count; SURVEY §2.9). Rows of batch 2 that fall behind the
    * advancing watermark are dropped as late data — also correct here,
    * since every batch-2 row is a duplicate by construction. Output:
    * per-type counts/totals over the deduped stream, equal to the batch
    * distinct-set aggregate regardless of batch boundaries.
    *
    * Scale notes: dedup state is keyed by event_id and bounded by the
    * watermark horizon (state TTL = delay), not by stream length — the
    * always-on form of exact dedup; RocksDB state store in production. */
  def dedupedCounts(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsStream(spark, dir, copies = 2)
    val deduped = src
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("event_id")
    runToResult(deduped, "append") { t =>
      t.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(Exact.Money)).cast(DoubleType).as("total_value"))
        .orderBy("event_type")
    }
  }

  /** Stream-static broadcast enrichment: every micro-batch hash-joins
    * against a static dimension that is re-planned (and re-broadcast)
    * per batch — the standard lookup/enrichment shape. Unlike
    * stream-stream joins this keeps NO state: cost is flat regardless
    * of stream length, and the dim can change between batches (a
    * slowly-changing lookup). No stream-side shuffle either — the
    * broadcast hash join pipelines inside the scan. Output: per-type
    * weighted totals over the enriched stream; decimal sums make the
    * result equal to the batch join regardless of batch boundaries. */
  def enrichedTotals(spark: SparkSession, dir: String): DataFrame = {
    val dim = spark.createDataFrame(Seq(
        ("click", 1), ("view", 0), ("purchase", 5), ("signup", 3),
        ("logout", 0)))
      .toDF("event_type", "weight")
    val src = eventsStream(spark, dir)
    val enriched = src
      .join(broadcast(dim), "event_type")
      .withColumn("weighted", col("value") * col("weight"))
    runToResult(enriched, "append") { t =>
      t.groupBy("event_type", "weight")
        .agg(count(lit(1)).as("n"),
          sum(col("weighted").cast(Exact.Money)).cast(DoubleType).as("weighted_value"))
        .orderBy("event_type")
    }
  }

  /** Stream-stream interval join over one branched source: purchases
    * joined to the same user's clicks from the preceding hour. Both
    * branches carry a watermark and the join condition bounds click-state
    * retention (state TTL = watermark delay + interval width) — the
    * always-on attribution-join shape. Inner stream-stream joins emit
    * each match in the micro-batch it completes in, so the collected
    * result equals the batch interval join regardless of batching. */
  def intervalJoined(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsStream(spark, dir)
    val clicks = src.filter(col("event_type") === "click")
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val buys = src.filter(col("event_type") === "purchase")
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("b_user"), col("event_id").as("buy_id"),
        col("ts").as("buy_ts"))
    val joined = buys.join(clicks,
      col("b_user") === col("c_user") &&
        col("click_ts") <= col("buy_ts") &&
        col("click_ts") >= col("buy_ts") - expr("INTERVAL 1 HOUR"))
    runToResult(joined, "append") { t =>
      t.select(col("buy_id"), col("click_id"),
        (unix_micros(col("buy_ts")) - unix_micros(col("click_ts"))).as("gap_us"))
        .orderBy("buy_id", "click_id")
    }
  }

  /** LEFT OUTER stream-stream join: every click, with the same user's
    * purchases in the following hour or NULL if none arrived — the
    * attribution shape where the "no conversion" rows matter as much as
    * the matches. Outer results can only emit once the watermark proves
    * no future match exists, so the landing dir carries far-future
    * sentinel rows as their own micro-batches, whose sole job is to
    * advance the watermark past every real click so the unmatched rows
    * evict as null-padded results. Without the sentinels the tail of the
    * stream would sit in state forever — the standard end-of-stream
    * flush for finite replays of an always-on query. State stays bounded
    * by watermark delay + interval width per side. */
  def leftOuterJoined(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsStreamWithSentinel(spark, dir)
    // the flush sentinels must survive BOTH branch filters: Catalyst
    // pushes these filters below the EventTimeWatermark node, so a
    // sentinel excluded by them would never reach the watermark
    // statistics and the tail state would never flush. The two sentinel
    // rows (user −1) pair up with each other inside the join window and
    // are dropped by the click_id ≥ 0 output filter.
    val wsrc = src.withWatermark("ts", "1 hour")
    val clicks = wsrc.filter(col("event_type").isin("click", "flush"))
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val buys = wsrc.filter(col("event_type").isin("purchase", "flush"))
      .select(col("user_id").as("b_user"), col("event_id").as("buy_id"),
        col("ts").as("buy_ts"))
    val joined = clicks.join(buys,
      col("c_user") === col("b_user") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
      "leftOuter")
    runToResult(joined, "append") { t =>
      t.filter(col("click_id") >= 0)
        .select(col("click_id"), col("buy_id"),
          (unix_micros(col("buy_ts")) - unix_micros(col("click_ts"))).as("gap_us"))
        .orderBy(col("click_id"), col("buy_id").asc_nulls_last)
    }
  }

  /** CHAINED stateful operators: the q84 interval join feeding a
    * downstream tumbling-day aggregate in ONE streaming query — the
    * multi-stateful pipeline shape (join state + window state, each
    * with its own eviction) Spark supports via watermark propagation
    * through the join. Append mode: a day's row emits only when the
    * watermark proves the day complete, so the result ≡ the batch
    * join+group under any batching; the sentinel batches flush both the
    * join tail AND the final day window. The sentinel self-pair lands
    * in a far-future day and is filtered out BEFORE the aggregate. */
  def joinedDailyTotals(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsStreamWithSentinel(spark, dir)
    val wsrc = src.withWatermark("ts", "1 hour")
    val clicks = wsrc.filter(col("event_type").isin("click", "flush"))
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val buys = wsrc.filter(col("event_type").isin("purchase", "flush"))
      .select(col("user_id").as("b_user"), col("event_id").as("buy_id"),
        col("ts").as("buy_ts"))
    val joined = buys.join(clicks,
        col("b_user") === col("c_user") &&
          col("click_ts") <= col("buy_ts") &&
          col("click_ts") >= col("buy_ts") - expr("INTERVAL 1 HOUR"))
      .filter(col("buy_id") >= 0)
    val agg = joined
      .groupBy(window(col("buy_ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(unix_micros(col("buy_ts")) - unix_micros(col("click_ts")))
          .as("gap_us_total"))
    runToResult(agg, "append") { t =>
      t.select(col("w.start").as("day"), col("n_pairs"),
        col("gap_us_total")).orderBy("day")
    }
  }

  /** FULL OUTER stream-stream join — completes the inner (q84) /
    * left-outer (q131) matrix: matched click→purchase pairs PLUS
    * watermark-proven unmatched rows from BOTH sides (clicks that never
    * converted and purchases with no prior click in the hour). Same
    * sentinel-flush discipline as [[leftOuterJoined]], but both sides'
    * tail state needs eviction, which is exactly what the two sentinel
    * batches provide; state bounded by watermark delay + interval per
    * side. The emitted relation ≡ the batch full-outer time-range join
    * under any batching once the watermark passes every real event. */
  def fullOuterJoined(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsStreamWithSentinel(spark, dir)
    val wsrc = src.withWatermark("ts", "1 hour")
    val clicks = wsrc.filter(col("event_type").isin("click", "flush"))
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val buys = wsrc.filter(col("event_type").isin("purchase", "flush"))
      .select(col("user_id").as("b_user"), col("event_id").as("buy_id"),
        col("ts").as("buy_ts"))
    val joined = clicks.join(buys,
      col("c_user") === col("b_user") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
      "fullOuter")
    runToResult(joined, "append") { t =>
      // sentinels pair with each other (user −1 both sides) — one test
      // on either id removes them while keeping genuine null sides
      t.filter((col("click_id").isNull || col("click_id") >= 0) &&
          (col("buy_id").isNull || col("buy_id") >= 0))
        .select(col("click_id"), col("buy_id"),
          (unix_micros(col("buy_ts")) - unix_micros(col("click_ts")))
            .as("gap_us"))
        .orderBy(col("click_id").asc_nulls_last, col("buy_id").asc_nulls_last)
    }
  }

  /** [[eventsStream]] plus one far-future sentinel row landed as its own
    * final micro-batch (see [[leftOuterJoined]]): the fixture file first,
    * then a single-row parquet 30 days past the fixture's max ts, mtimes
    * staggered so the file source orders them deterministically.
    *
    * ONE sentinel batch suffices: the sentinel's batch raises the max
    * event time, the watermark recomputes from it at batch end, and the
    * engine's no-data micro-batch (`noDataMicroBatches`, on by default —
    * it fires whenever the watermark advanced and a stateful operator
    * may emit; observed as the trailing rows=0 batch in StreamProbe)
    * performs the eviction under the new watermark. The previous second
    * (+60 d) sentinel pre-dated that observation and paid one full extra
    * micro-batch (~1 s of state-commit + replan fixed cost) per
    * invocation for an eviction the no-data batch already does.
    *
    * The staged landing dir is a pure function of the fixture dir, so it
    * rides the [[LandingCache]] like [[eventsStream]]'s — the max-ts
    * scan, the sentinel write job, and the fixture copy are paid once
    * per JVM, not once per bench pass. */
  private def eventsStreamWithSentinel(spark: SparkSession,
                                       dir: String): DataFrame =
    landedStream(spark, dir, "sentinel=1") { out =>
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val maxTs = raw.agg(max(col("ts"))).head()
      val sentTs =
        if (raw.schema("ts").dataType == TimestampType)
          lit(maxTs.getTimestamp(0)) + expr("INTERVAL 30 DAYS")
        else lit(maxTs.getLong(0) + 30L * 24 * 3600 * 1000000000L)
      val sentinel = spark.range(1).select(
        lit(-1L).as("event_id"), sentTs.as("ts"),
        lit(-1L).as("user_id"), lit("flush").as("event_type"),
        lit(0.0).as("value"), lit(null).cast("string").as("props"))
      Seq(Files.copy(Paths.get(s"$dir/events.parquet"),
          out.resolve("events_1.parquet")),
        writeOneFile(sentinel, out.resolve("events_2_sentinel.parquet")))
    }

  /** Land the events fixture split into one file per predicate, in
    * declaration order (each becomes its own micro-batch). The cache
    * recipe is the split itself (predicate strings are deterministic),
    * so every query staging the same split shares one landing dir. */
  private def splitStream(spark: SparkSession, dir: String,
                          splits: Seq[(String, Column)]): DataFrame =
    landedStream(spark, dir,
        splits.map { case (n, p) => s"$n:$p" }.mkString("|")) { out =>
      val src = spark.read.parquet(s"$dir/events.parquet")
      splits.map { case (name, pred) =>
        writeOneFile(src.filter(pred), out.resolve(s"$name.parquet"))
      }
    }

  private def parityStream(spark: SparkSession, dir: String): DataFrame =
    splitStream(spark, dir, Seq(
      "even" -> (col("event_id") % 2 === 0),
      "odd" -> (col("event_id") % 2 === 1)))

  /** The fixture as two time-halves, early first, so per-user state
    * written in batch 1 is read in batch 2. */
  private def halvesStream(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.fixtureConf(spark)
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val tsNorm = graft.Tables.tsCol(raw.schema("ts").dataType)
    val Array(loUs, hiUs) = raw
      .agg(unix_micros(min(tsNorm)), unix_micros(max(tsNorm)))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val midC = timestamp_micros(lit(loUs + (hiUs - loUs) / 2))
    splitStream(spark, dir, Seq(
      "a_early" -> (tsNorm < midC),
      "b_late" -> (tsNorm >= midC)))
  }

  /** Streaming sessionization: the batch `session_window` aggregation
    * (q61, [[graft.operators.Sessions.sessionWindows]]) over a
    * micro-batched stream. The fixture is split into two landing files
    * by event-id parity, so nearly every session has events in BOTH
    * micro-batches (`maxFilesPerTrigger=1`) — the session-merge path of
    * the state store (partial sessions from batch 1 extended/merged by
    * batch 2's events) is what this exercises, not just windowed
    * counting. Complete output mode re-emits the merged state, so the
    * result equals the batch aggregation exactly (decimal sums make it
    * bit-identical regardless of batch boundaries).
    *
    * Scale notes: session state is bounded by open sessions per key,
    * not stream length; with a watermark (production form) closed
    * sessions evict as event time passes gap + delay. */
  def sessionTotals(spark: SparkSession, dir: String): DataFrame = {
    val stream = parityStream(spark, dir)
    val agg = stream
      .groupBy(col("user_id"), session_window(col("ts"), "12 hours").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(Exact.Money)).as("tv"))
    runToResult(agg, "complete") { t =>
      t.select(col("user_id"),
        unix_micros(col("w.start")).as("session_start_us"),
        unix_micros(col("w.end")).as("session_end_us"),
        col("n_events"), col("tv").cast(DoubleType).as("total_value"))
        .orderBy("user_id", "session_start_us")
    }
  }

  /** Streaming merge sink: `foreachBatch` + join-rewrite upsert into a
    * parquet destination — the production "stream → MERGE INTO table"
    * pattern (the streaming twin of [[graft.ops.Merge.upsert]], and the
    * always-on form of the reference's scheduled incremental sync).
    *
    * Exactly-once: foreachBatch delivers each micro-batch AT LEAST once
    * (a crash between sink write and checkpoint commit re-runs the
    * batch), so the write must be idempotent per `batchId`. The standard
    * fix, implemented here: a commit marker per batchId next to the
    * destination — a re-delivered batch sees its marker and skips. On
    * Delta/Iceberg the `txnAppId`/snapshot commit plays this role.
    *
    * The commit protocol is crash-ordered: batch N writes the full new
    * table to `data_v{N}` (reading from `data_v{N-1}`), then creates the
    * `commit_{N}` marker. The current table is `data_v{max committed}`.
    * A crash BEFORE the marker re-runs the batch, which rebuilds
    * `data_v{N}` from the still-intact `data_v{N-1}` (overwrite mode, so
    * a half-written v{N} is simply replaced); a crash AFTER the marker
    * skips the batch. No state is ever deleted before its successor is
    * committed — prior versions are swept only after the marker lands.
    *
    * Each batch folds PARTIAL aggregates into the destination (count
    * adds, decimal total adds, latest-timestamp takes greatest) — all
    * associative and commutative, so the final table is identical for
    * ANY micro-batch partitioning of the input, which is what lets a
    * DuckDB batch oracle check a streaming pipeline bit-for-bit.
    *
    * Scale notes: per batch this costs one shuffle of the BATCH (small)
    * plus a key-partitioned join against the destination; at 100 TB the
    * destination is a bucketed/partitioned table so the merge join is
    * exchange-free on the table side, and the version commit is a
    * transactional table commit, not a directory convention. State
    * lives in the sink, not the state store — destination size, not
    * stream length. */
  def mergedUserTotals(spark: SparkSession, dir: String): DataFrame = {
    val stream = parityStream(spark, dir)
    val dest = Files.createTempDirectory("graft_stream_dest_")
    def committed(): Option[Long] = {
      val listing = Files.list(dest)
      val ids = try listing.iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("commit_"))
        .map(_.stripPrefix("commit_").toLong).toSeq
      finally listing.close()
      if (ids.isEmpty) None else Some(ids.max)
    }
    def dataV(id: Long) = dest.resolve(s"data_v$id")
    try {
      drain(stream)(_.foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cur = committed()
        if (!cur.exists(_ >= batchId)) { // idempotent re-delivery guard
          val b = batch.groupBy("user_id").agg(
            count(lit(1)).as("b_n"),
            sum(col("value").cast(Exact.Money)).as("b_tv"),
            max(unix_micros(col("ts"))).as("b_latest"))
          val prev = cur match {
            case Some(id) => spark.read.parquet(dataV(id).toString)
            case None => b.filter(lit(false)).select(col("user_id"),
              col("b_n").as("n_events"), col("b_tv").as("tv"),
              col("b_latest").as("latest_us"))
          }
          val merged = prev.join(b, Seq("user_id"), "full_outer")
            .select(col("user_id"),
              (coalesce(col("n_events"), lit(0L)) + coalesce(col("b_n"), lit(0L)))
                .as("n_events"),
              (coalesce(col("tv"), lit(0).cast(Exact.Money)) +
                coalesce(col("b_tv"), lit(0).cast(Exact.Money))).as("tv"),
              greatest(coalesce(col("latest_us"), lit(Long.MinValue)),
                coalesce(col("b_latest"), lit(Long.MinValue))).as("latest_us"))
          merged.write.mode("overwrite").parquet(dataV(batchId).toString)
          Files.createFile(dest.resolve(s"commit_$batchId"))
          cur.foreach(id => deleteRecursively(dataV(id))) // sweep AFTER commit
        }
      })
      val last = committed().getOrElse(
        sys.error("streaming merge produced no committed version"))
      spark.read.parquet(dataV(last).toString)
        .select(col("user_id"), col("n_events"),
          col("tv").cast(DoubleType).as("total_value"), col("latest_us"))
        .orderBy("user_id")
        .localCheckpoint(true)
    } finally deleteRecursively(dest)
  }

  /** Exactly-once streaming ingestion into the ACID table format
    * ([[graft.sources.TxnLog.idempotentAppend]] — Delta's txnAppId/
    * txnVersion protocol), VERIFIED BY REPLAY inside the query itself:
    * the micro-batched events stream lands in a TxnLog table, then a
    * SECOND stream over the same source with a FRESH checkpoint — the
    * crash-recovery shape, every batch re-delivered with the same ids —
    * runs against the same table. Only if the txn markers absorb the
    * full replay does the final aggregate equal the batch oracle; any
    * double-landing doubles the counts and hash-fails the gate. The
    * q107 commit-marker sink hand-rolls this protocol per destination;
    * this is the same guarantee as ONE table-format property. */
  def txnLogSinkTotals(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val src = parityStream(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val root = Files.createTempDirectory("graft_txn_sink_")
    val table = root.resolve("t").toString
    try {
      TxnLog.create(spark, table,
        graft.Tables.load(spark, dir, "events")
          .select(col("event_id"), col("event_type"), col("value"))
          .limit(0)) // schema-only init commit (D4's empty-table create)
      // the second run's fresh checkpoint = full crash replay; the txn
      // markers absorb it
      for (_ <- 1 to 2)
        drain(src)(_.foreachBatch { (batch: DataFrame, id: Long) =>
          TxnLog.idempotentAppend(spark, table, batch, "etl-sync", id): Unit
        })
      TxnLog.snapshot(spark, table)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(Exact.Money)).cast(DoubleType)
            .as("total_value"))
        .orderBy("event_type")
        .localCheckpoint(true)
    } finally deleteRecursively(root)
  }

  /** The FORMAT-STRING streaming sink (`writeStream.format("txnlog")`,
    * [[graft.sources.TxnLogSink]]) — the reference's
    * `writeStream.format("delta")` surface — verified by the same
    * fresh-checkpoint full replay as [[txnLogSinkTotals]]: the second
    * run re-delivers every micro-batch with the same ids, and only the
    * sink's internal (txnAppId, batchId) markers absorbing the replay
    * keeps the aggregate equal to the batch oracle. The first batch
    * CREATES the table (schema + data + marker in one commit). */
  def txnLogFormatSinkTotals(spark: SparkSession, dir: String): DataFrame = {
    val src = parityStream(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val root = Files.createTempDirectory("graft_txn_fmt_")
    val table = root.resolve("t").toString
    try {
      // the second run's fresh checkpoint = full crash replay; the sink's
      // markers absorb it
      for (_ <- 1 to 2)
        drain(src)(_.format("txnlog").option("path", table)
          .option("txnAppId", "etl-format-sync"))
      graft.sources.TxnLog.snapshot(spark, table)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(Exact.Money)).cast(DoubleType)
            .as("total_value"),
          max(col("value")).as("max_value"))
        .orderBy("event_type")
        .localCheckpoint(true)
    } finally deleteRecursively(root)
  }

  /** Exactly-once streaming MERGE into a TxnLog table: two "daily
    * update" files arrive as micro-batches, each foreachBatch runs
    * [[graft.sources.TxnLog.idempotentUpsert]] (txn-marked MERGE), and
    * the whole query is then re-run with a FRESH checkpoint — the
    * at-least-once crash-replay shape. A merge is value-idempotent, so
    * the replay hazard is not the ROWS but the CHANGE FEED: a naive
    * replayed MERGE commits again and re-journals every pre/post pair,
    * and every downstream incremental consumer applies the deltas
    * twice. The result therefore surfaces BOTH the merged snapshot and
    * the per-status CDF row count over the full window — the oracle's
    * `2 × updated rows` only holds if the markers absorbed the replay. */
  def txnMergeSinkTotals(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val root = Files.createTempDirectory("graft_txn_merge_")
    val table = root.resolve("t").toString
    val landing = root.resolve("landing")
    try {
      val o = graft.Tables.load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderdate"), col("o_totalprice"))
      TxnLog.create(spark, table,
        o.filter(col("o_orderdate") < to_date(lit("1998-01-01"))))
      def window(lo: String, hi: String) = o
        .filter(col("o_orderdate") >= to_date(lit(lo)) &&
          col("o_orderdate") < to_date(lit(hi)))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      window("1997-01-01", "1997-04-01").coalesce(1)
        .write.mode("overwrite").parquet(s"$landing/a")
      window("1997-04-01", "1997-07-01").coalesce(1)
        .write.mode("overwrite").parquet(s"$landing/b")
      val updates = spark.readStream.schema(o.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$landing/*")
      // the second run's fresh checkpoint = full crash replay; the txn
      // markers absorb it
      for (_ <- 1 to 2)
        drain(updates)(_.foreachBatch { (batch: DataFrame, id: Long) =>
          TxnLog.idempotentUpsert(spark, table, batch,
            Seq("o_orderkey"), "merge-sync", id): Unit
        })
      val snap = TxnLog.snapshot(spark, table)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(Exact.Money)).cast(DoubleType)
            .as("total_price"))
      val chg = TxnLog
        .changesBetween(spark, table, 1L, TxnLog.versions(table).last)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_change_rows"))
      snap.join(chg, Seq("o_orderstatus"), "left")
        .select(col("o_orderstatus"), col("n_orders"), col("total_price"),
          coalesce(col("n_change_rows"), lit(0L)).as("n_change_rows"))
        .orderBy("o_orderstatus")
        .localCheckpoint(true)
    } finally deleteRecursively(root)
  }

  /** Streaming consumer of the TxnLog CHANGE FEED: orders lands through
    * the reference's daily pattern (create → MERGE-style upsert →
    * delete), each journaling commit appends immutable CDF parquet
    * under `_change_data/`, and a file-stream over that directory
    * delivers every change row exactly once — Delta's CDF streaming
    * source re-read as "the change journal IS an append-only file
    * feed". The batch writes are deterministic date/price predicates,
    * so the oracle replays the full feed without seeing the table. */
  def txnChangeFeedTotals(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val table = Files
      .createTempDirectory("graft_txn_cdf_").resolve("t").toString
    val o = graft.Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderdate"), col("o_totalprice"))
    val d98 = to_date(lit("1998-01-01"))
    TxnLog.create(spark, table, o.filter(col("o_orderdate") < d98))
    TxnLog.upsert(spark, table,
      o.filter(col("o_orderdate").between(
          to_date(lit("1997-06-01")), to_date(lit("1998-06-30"))))
        .withColumn("o_totalprice", col("o_totalprice") * 2),
      Seq("o_orderkey"))
    TxnLog.deleteWhere(spark, table, col("o_totalprice") > 900000)
    val agg = TxnLog.changeStream(spark, table)
      .groupBy("_change_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast(Exact.Money)).as("tp"))
    try runToResult(agg, "complete") { t =>
      t.select(col("_change_type"), col("n_rows"),
        col("tp").cast(DoubleType).as("total_price"))
        .orderBy("_change_type")
    } finally deleteRecursively(Paths.get(table).getParent)
  }

  /** Rate-limited txnlog streaming source: `maxVersionsPerTrigger=1`
    * turns a 4-version backlog into four bounded micro-batches instead
    * of one giant catch-up batch — the in-run require pins the batch
    * count from the query's own progress records. At 100 TB this is
    * the difference between a restartable, memory-bounded backlog
    * drain and an executor-OOM first trigger (Delta's
    * maxFilesPerTrigger contract at version granularity). */
  def txnRateLimitedStreamTotals(spark: SparkSession,
                                 dir: String): DataFrame = {
    import graft.sources.TxnLog
    val table = Files
      .createTempDirectory("graft_txn_rate_").resolve("t").toString
    val o = graft.Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"))
    val slice = pmod(col("o_orderkey"), lit(4))
    TxnLog.create(spark, table, o.filter(slice === 0))
    for (i <- 1 to 3)
      TxnLog.append(spark, table, o.filter(slice === i))
    val agg = spark.readStream.format("txnlog")
      .option("path", table)
      .option("maxVersionsPerTrigger", "1")
      .load()
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast(Exact.Money)).as("tp"))
    try runToResult(agg, "complete", check = { q =>
        val nonEmpty = q.recentProgress.count(_.numInputRows > 0)
        require(nonEmpty >= 4,
          s"4 versions at 1/trigger need >= 4 micro-batches, got $nonEmpty")
      }) { t =>
      t.select(col("o_orderstatus"), col("n_rows"),
        col("tp").cast(DoubleType).as("total_price"))
        .orderBy("o_orderstatus")
    } finally deleteRecursively(Paths.get(table).getParent)
  }

  /** Streaming CDF via the FORMAT STRING: the q275 pipeline (create →
    * MERGE-style upsert → delete) consumed through
    * `readStream.format("txnlog").option("readChangeFeed", true)` — the
    * registered change-feed SOURCE whose offsets are log versions and
    * whose micro-batches are changesBetween windows, i.e. Delta's
    * streaming readChangeFeed with zero programmatic calls.
    * `startingVersion = 2` opens the window after the create, so the
    * feed is exactly the journaled upsert/delete rows. */
  def txnCdfStreamTotals(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val table = Files
      .createTempDirectory("graft_txn_cdfsrc_").resolve("t").toString
    val o = graft.Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderdate"), col("o_totalprice"))
    val d98 = to_date(lit("1998-01-01"))
    TxnLog.create(spark, table, o.filter(col("o_orderdate") < d98))
    TxnLog.upsert(spark, table,
      o.filter(col("o_orderdate").between(
          to_date(lit("1997-06-01")), to_date(lit("1998-06-30"))))
        .withColumn("o_totalprice", col("o_totalprice") * 2),
      Seq("o_orderkey"))
    TxnLog.deleteWhere(spark, table, col("o_totalprice") > 900000)
    val agg = spark.readStream.format("txnlog")
      .option("path", table)
      .option("readChangeFeed", "true")
      .option("startingVersion", "2")
      .load()
      .groupBy("_change_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast(Exact.Money)).as("tp"),
        min(col("_commit_version")).as("first_v"))
    try runToResult(agg, "complete") { t =>
      t.select(col("_change_type"), col("n_rows"),
        col("tp").cast(DoubleType).as("total_price"), col("first_v"))
        .orderBy("_change_type")
    } finally deleteRecursively(Paths.get(table).getParent)
  }

  /** q286: the APPEND-path streaming read of a TxnLog table — the
    * `_stream_feed` hard-link mirror is an append-only parquet feed of
    * exactly the create/append/idempotentAppend rows, so Spark's
    * checkpointed file stream IS Delta's streaming source for the
    * dataChange-add path, zero custom machinery (the [[q275]] pattern
    * applied to the main data instead of the change journal). The
    * compaction and upsert issued AFTER the appends rewrite every data
    * file — a stream over the table directory would double-count, the
    * feed stream must not see them at all. The oracle replays only the
    * appended batches, so a leaked rewrite row hash-fails. */
  def txnAppendStreamTotals(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val table = Files
      .createTempDirectory("graft_txn_feed_").resolve("t").toString
    val o = graft.Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderdate"), col("o_totalprice"))
    val d97 = to_date(lit("1997-01-01"))
    val d98 = to_date(lit("1998-01-01"))
    TxnLog.create(spark, table, o.filter(col("o_orderdate") < d97))
    TxnLog.append(spark, table,
      o.filter(col("o_orderdate") >= d97 && col("o_orderdate") < d98))
    // rewrites: both must be INVISIBLE to the append stream
    TxnLog.compact(spark, table)
    TxnLog.upsert(spark, table, o.filter(col("o_orderdate") >= d98),
      Seq("o_orderkey"))
    val agg = TxnLog.appendStream(spark, table)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast(Exact.Money)).as("tp"))
    try runToResult(agg, "complete") { t =>
      t.select(col("o_orderstatus"), col("n_rows"),
        col("tp").cast(DoubleType).as("total_price"))
        .orderBy("o_orderstatus")
    } finally deleteRecursively(Paths.get(table).getParent)
  }

  /** `spark.readStream.format("txnlog")` end-to-end: the registered
    * STREAMING SOURCE (log versions as offsets) consumes a table's
    * append history through the format string — no programmatic
    * `appendStream` call — with a compaction (layout-only, invisible)
    * and an upsert (row-rewriting, skipped under `ignoreChanges`) in
    * the middle of the log, so the totals pin the source's Delta-shaped
    * commit classification, not just the happy path. */
  def txnSourceStreamTotals(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val table = Files
      .createTempDirectory("graft_txn_src_").resolve("t").toString
    val o = graft.Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderdate"), col("o_totalprice"))
    val d97 = to_date(lit("1997-01-01"))
    val d98 = to_date(lit("1998-01-01"))
    TxnLog.create(spark, table, o.filter(col("o_orderdate") < d97))
    TxnLog.append(spark, table,
      o.filter(col("o_orderdate") >= d97 && col("o_orderdate") < d98))
    // rewrites: compaction is layout-only (always invisible); the
    // upsert is a row-rewriting commit ignoreChanges skips
    TxnLog.compact(spark, table)
    TxnLog.upsert(spark, table, o.filter(col("o_orderdate") >= d98),
      Seq("o_orderkey"))
    val agg = spark.readStream.format("txnlog")
      .option("path", table).option("ignoreChanges", "true")
      .load()
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast(Exact.Money)).as("tp"))
    try runToResult(agg, "complete") { t =>
      t.select(col("o_orderstatus"), col("n_rows"),
        col("tp").cast(DoubleType).as("total_price"))
        .orderBy("o_orderstatus")
    } finally deleteRecursively(Paths.get(table).getParent)
  }

  /** Tumbling 1-day totals per event_type over the events fixture,
    * executed as a real streaming query into a memory sink, returned as a
    * batch DataFrame for the verify/oracle harness. */
  def dailyTotals(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsStream(spark, dir)
    val agg = src
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(Exact.Money)).as("tv"))
    runToResult(agg, "complete") { t =>
      t.select(to_date(col("w.start")).as("event_date"), col("event_type"),
        col("n"), col("tv").cast(DoubleType).as("total_value"))
        .orderBy("event_date", "event_type")
    }
  }

  /** Streaming Count-Min: the q146 sketch aggregate running INSIDE a
    * micro-batch pipeline — the stream split by event-id parity, so every
    * type's grid is genuinely built across two batches and merged in the
    * state store (TypedImperativeAggregate partials serialize into it).
    * Because the merge is element-wise addition — order-free, split-free
    * — the streamed grid is BIT-IDENTICAL to the batch q146 shape for any
    * micro-batch arrangement, which is exactly what lets a plain batch
    * oracle check a streaming pipeline: the sketch-table production
    * pattern (q143's KMV rollup) in its streaming form. */
  def sketchTotals(spark: SparkSession, dir: String): DataFrame = {
    val stream = parityStream(spark, dir)
    val d = 2; val w = 64
    val agg = stream
      .withColumn("h", graft.ops.Sampling.shaHash60(col("user_id")))
      .groupBy("event_type")
      .agg(graft.functions.CountMin(col("h"), d, w).as("grid"))
    runToResult(agg, "complete") { t =>
      t.select(col("event_type"), posexplode(col("grid")).as(Seq("pos", "cnt")))
        .filter(col("cnt") > 0)
        .select(col("event_type"),
          (col("pos") / w).cast(LongType).as("i"),
          pmod(col("pos"), lit(w)).cast(LongType).as("j"),
          col("cnt"))
        .orderBy("event_type", "i", "j")
    }
  }

  /** Streaming SpaceSaving heavy hitters: q117's bounded-state top-m
    * sketch inside a micro-batch pipeline — partial sketches from each
    * batch merge into the state store via the mergeable-summaries rule
    * (order-free), so per-batch arrival order cannot change the result.
    * The oracle hook is SpaceSaving's exactness property: the token
    * domain here (user_id mod 64) stays strictly below m = 128 in every
    * partial, so no partial ever fills, every merge is the exact union,
    * and the streamed sketch equals a plain GROUP BY count with err 0 —
    * a full batch-vs-stream equivalence check for the approximate
    * operator's merge path. */
  def spaceSavingTotals(spark: SparkSession, dir: String): DataFrame = {
    val stream = parityStream(spark, dir)
    val agg = stream
      .withColumn("tok", pmod(col("user_id"), lit(64L)).cast("string"))
      .groupBy("event_type")
      .agg(graft.functions.SpaceSaving(col("tok"), 128).as("hh"))
    runToResult(agg, "complete") { t =>
      t.select(col("event_type"), explode(col("hh")).as("e"))
        .select(col("event_type"), col("e.token"), col("e.cnt"),
          col("e.err"))
        .orderBy("event_type", "token")
    }
  }

  final case class MilestoneOut(user_id: Long, event_type: String,
                                milestone: Long)

  /** Per-user, per-event-type counters in a `MapState[String, Long]`
    * (transformWithState's keyed-sub-map primitive — q141 covers
    * ValueState; this is the state shape for per-key dictionaries), with
    * power-of-two milestone emission: a (user, type) pair emits row
    * `milestone = 2^i` in the batch where its running count first reaches
    * 2^i. Counts are order-free and each threshold is crossed exactly
    * once, so the emitted SET equals {powers ≤ final count} under any
    * micro-batch split — which is what lets the batch oracle check it.
    * State is |types| longs per user, forever-bounded. */
  private class TypeMilestoneProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EventRow, MilestoneOut] {
    @transient private var counts:
      org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[EventRow],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[MilestoneOut] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[MilestoneOut]
      rows.toArray.groupBy(_.event_type).toSeq.sortBy(_._1).foreach {
        case (tpe, es) =>
          val old = if (counts.containsKey(tpe)) counts.getValue(tpe) else 0L
          val nw = old + es.length
          counts.updateValue(tpe, nw)
          var p = 1L
          while (p <= nw) {
            if (p > old) out += MilestoneOut(key, tpe, p)
            p <<= 1
          }
      }
      out.iterator
    }
  }

  /** Streaming milestone counter via [[TypeMilestoneProcessor]]: the
    * fixture lands as two parity halves so nearly every (user, type)
    * count genuinely accumulates across micro-batches (RocksDB store,
    * as transformWithState requires). */
  def typeMilestones(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    runToResult(perUser(parityStream(spark, dir), new TypeMilestoneProcessor),
        "append") { t =>
      t.select(col("user_id"), col("event_type"), col("milestone"))
        .orderBy("user_id", "event_type", "milestone")
    }
  }

  final case class SeqOut(user_id: Long, event_id: Long)

  /** Per-user funnel-sequence detector in a `ListState[String]`
    * (transformWithState's ordered-buffer primitive — the state shape
    * q141's ValueState and q156's MapState don't cover): the state holds
    * the trailing `pattern.size - 1` event types, and an event emits iff
    * the buffer + the event spell the pattern exactly, in (ts, event_id)
    * order. Within a batch the per-key iterator is sorted; cross-batch
    * order comes from the time-split landing (the q141 discipline), so
    * the emitted set equals the batch lag()-window scan for any batching
    * that respects event time. State is ≤ pattern.size-1 strings per
    * user, forever-bounded. */
  private class SeqPatternProcessor(pattern: Seq[String])
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EventRow, SeqOut] {
    @transient private var recent:
      org.apache.spark.sql.streaming.ListState[String] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      recent = getHandle.getListState[String]("recent",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[EventRow],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[SeqOut] = {
      val keep = pattern.size - 1
      var buf = if (recent.exists()) recent.get().toVector else Vector.empty
      val out = scala.collection.mutable.ArrayBuffer.empty[SeqOut]
      rows.toArray.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
        .foreach { e =>
          if (buf.size >= keep && buf.takeRight(keep) :+ e.event_type == pattern)
            out += SeqOut(key, e.event_id)
          buf = (buf :+ e.event_type).takeRight(keep)
        }
      // put() replaces the whole list — fine here because the trailing
      // buffer is tiny and fixed-size; an unbounded-accumulation state
      // would use appendValue/appendList instead.
      recent.put(buf.toArray)
      out.iterator
    }
  }

  /** Streaming view→click→purchase funnel completion via
    * [[SeqPatternProcessor]]: fixture lands as two time-halves so the
    * ListState buffer genuinely spans micro-batches (a sequence whose
    * prefix is in batch 1 and completion in batch 2 still matches). */
  def seqPatternMatches(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val matcher = new SeqPatternProcessor(Seq("view", "click", "purchase"))
    runToResult(perUser(halvesStream(spark, dir), matcher), "append") { t =>
      t.select(col("user_id"), col("event_id"))
        .orderBy("user_id", "event_id")
    }
  }

  /** Hopping (sliding) windows: 2-day windows advancing by 1 day, so
    * every event lands in exactly TWO windows — the overlapping-window
    * semantics tumbling (q35) can't express (trailing 48h totals
    * refreshed daily). Spark's `window(ts, size, slide)` assigns the
    * ⌈size/slide⌉ epoch-aligned windows per row inside the scan (a
    * Generate, input ×2 before partial aggregation — the row-local
    * expansion IS the operator); state stays bounded at
    * (#windows × #types). The batch oracle replays the same assignment
    * as an unnest over day offsets {0, 1}, and decimal sums make
    * stream ≡ batch for any micro-batch split. */
  def hoppingTotals(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsStream(spark, dir)
    val agg = src
      .groupBy(window(col("ts"), "2 days", "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(Exact.Money)).as("tv"))
    runToResult(agg, "complete") { t =>
      t.select(to_date(col("w.start")).as("w_start"),
        to_date(col("w.end")).as("w_end"), col("event_type"),
        col("n"), col("tv").cast(DoubleType).as("total_value"))
        .orderBy("w_start", "event_type")
    }
  }
}
