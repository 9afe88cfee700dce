package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession,
  SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  BoundReference, Cast, EqualTo, Expression, GreaterThan,
  GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, Predicate}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.{FileIndex,
  FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider,
  DataSourceRegister, InsertableRelation, RelationProvider}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** [[TxnLog]] tables as a registered Spark data source —
  * `spark.read.format("txnlog").load(path)` and pure SQL
  * (`SELECT … FROM txnlog.`/path/to/table``), with the log's
  * stats/bloom file skipping riding Spark's OWN filter pushdown
  * instead of the hand-called `snapshotWhere*` entry points.
  *
  * Architecture note: this is deliberately the v1 `RelationProvider` +
  * custom [[FileIndex]] shape (how Delta's TahoeFileIndex plugs in, not
  * a bespoke DSv2 reader), because a `HadoopFsRelation` is what
  * `FileSourceStrategy` plans into a `FileSourceScanExec`: the engine
  * then contributes EVERYTHING downstream of file selection for free —
  * vectorized parquet reading, whole-stage codegen, `PushedFilters`
  * into row groups, column pruning, partition-value reattachment. A
  * hand-rolled DSv2 `PartitionReader` would re-implement (and
  * de-vectorize) all of it. The log's job ends where it should: at
  * PLANNING time, [[TxnLogFileIndex.listFiles]] receives Catalyst's
  * split partition/data filters and answers with the pruned file list,
  * decided from committed metadata alone — zero data I/O, no directory
  * listing (the object-store killer at 100 TB).
  *
  * Reference anchor: the reference reads its Delta tables through
  * `spark.read.format("delta")` and temp views
  * (`src/etl/spark_deltalake_sync.py:139,208`); this is that surface
  * for the TxnLog format.
  *
  * This relation is the ONLY read path: [[TxnLog.snapshot]], every
  * writer's internal read and the streaming source build the same
  * [[TxnLogHadoopFsRelation]] over a [[TxnLogFileIndex]] pinned to one
  * resolved state. Column mapping and live DELETION VECTORS are both
  * handled inside the vectorized reader ([[TxnLogParquetFileFormat]]);
  * DVs cost only the columnar batch handoff above the scan, which
  * `compact()` (REORG PURGE) restores.
  *
  * The WRITE half ([[CreatableRelationProvider]]) makes
  * `df.write.format("txnlog")` work (the reference writes through the
  * format string, `spark_deltalake_sync.py:163`), and the relation
  * itself is [[InsertableRelation]] so `INSERT INTO` a `USING txnlog`
  * temp view lands as a transactional [[TxnLog.append]]/[[TxnLog.overwrite]]
  * — never as raw files the log would ignore.
  *
  * Options: `path` (the table directory), `version` (optional time
  * travel, same contract as [[TxnLog.snapshot]]); write-side:
  * `partitionBy` (comma-separated), `statsCols`, `bloomCols`,
  * `mergeSchema`, `overwriteSchema`. */
final class TxnLogSource extends RelationProvider
    with org.apache.spark.sql.sources.SchemaRelationProvider
    with CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.StreamSourceProvider
    with DataSourceRegister {
  override def shortName(): String = "txnlog"

  /** `spark.readStream.format("txnlog")`: the table's APPEND history as
    * a streaming source with LOG VERSIONS as offsets (Delta's streaming
    * source shape) — every create/append/idempotentAppend row exactly
    * once, replay-deterministic across restarts because offsets are
    * committed versions and log files are immutable. Layout-only
    * commits (compact — `nochange`) are invisible; row-REWRITING
    * commits (upsert/delete/overwrite/restore) refuse descriptively
    * unless `ignoreChanges=true` skips them (Delta's contract — a
    * rewrite re-serves rows a pure append stream must not duplicate).
    * `startingVersion` (default: from the first version) bounds the
    * initial replay; versions below the vacuum horizon fail like any
    * time travel. `maxVersionsPerTrigger` caps each micro-batch at N
    * log versions (Delta's maxFilesPerTrigger analogue) so backlog
    * catch-up arrives in bounded batches. */
  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) = {
    require(schema.isEmpty,
      "txnlog source: the schema comes from the table's own declared " +
        "schema — a user-specified one cannot override the log")
    val table = tableOf(parameters)
    val declared = TxnLog.declaredSchema(table).getOrElse(sys.error(
      s"txnlog source requires a declared schema in the log: $table"))
    val base = StructType(declared.fields.map(_.copy(nullable = true)))
    val out =
      if (parameters.get("readChangeFeed").exists(_.trim.toBoolean))
        base.add(StructField("_change_type", StringType))
          .add(StructField("_commit_version", LongType))
      else base
    (shortName(), out)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val table = tableOf(parameters)
    val declared =
      sourceSchema(sqlContext, schema, providerName, parameters)._2
    val startV = parameters.get("startingVersion").map(_.trim.toLong)
    if (parameters.get("readChangeFeed").exists(_.trim.toBoolean))
      // STREAMING CDF (Delta's readChangeFeed stream): each micro-batch
      // is a changesBetween window over newly committed versions —
      // row-level pre/post/delete/insert records with _commit_version,
      // same rows as the batch CDF relation, incrementally
      new TxnLogChangeStreamSource(sqlContext, table, declared, startV)
    else
      new TxnLogStreamSource(sqlContext, table, declared,
        startingVersion = startV,
        ignoreChanges =
          parameters.get("ignoreChanges").exists(_.trim.toBoolean),
        maxVersionsPerTrigger = parameters.get("maxVersionsPerTrigger")
          .map(_.trim.toInt))
  }

  /** Schema-carrying resolution (what Spark passes for CATALOG tables,
    * whose schema it persisted at CREATE time): the LOG's declared
    * schema is the source of truth — the catalog copy is advisory and
    * goes stale the moment a schema evolution / rename commits, exactly
    * Delta's catalog contract — so the passed schema is accepted and
    * ignored. Without this interface, `spark.table` on an evolved
    * txnlog table would refuse with a schema-mismatch error. */
  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String],
                              schema: StructType): BaseRelation =
    createRelation(sqlContext, parameters)

  /** `df.writeStream.format("txnlog")`: the exactly-once streaming sink
    * as a FORMAT STRING (the reference's `writeStream.format("delta")`
    * surface) — each micro-batch lands through
    * [[TxnLog.idempotentAppend]] under the required `txnAppId` option,
    * so Structured Streaming's at-least-once micro-batch replay (crash
    * between sink write and checkpoint commit) is absorbed by the txn
    * markers instead of duplicating rows. `writeStream.partitionBy`
    * flows into the table's hive layout on first-batch creation. */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming
                            .OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode ==
      org.apache.spark.sql.streaming.OutputMode.Append(),
      "txnlog sink supports Append output mode (a Complete-mode " +
        "rewrite per micro-batch is a table overwrite — use " +
        "foreachBatch + TxnLog.overwrite deliberately)")
    new TxnLogSink(tableOf(parameters), parameters, partitionColumns)
  }

  private def tableOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      sys.error("txnlog: a table path is required (option 'path')"))

  /** `version` pins a snapshot directly; `timestampAsOf` resolves
    * through [[TxnLog.versionAt]] — both produce a PINNED relation, the
    * time-travel contract. Accepted timestamp forms mirror Delta's:
    * epoch millis, ISO-8601 instant, `yyyy-MM-dd HH:mm:ss[.f…]` and
    * `yyyy-MM-dd` (both read in the session timezone). */
  private def asOfOf(table: String,
                     parameters: Map[String, String]): Option[Long] =
    parameters.get("version").map(_.trim.toLong).orElse(
      parameters.get("timestampAsOf").map(raw =>
        TxnLog.versionAt(table, TxnLogSource.parseAsOfMillis(raw))))

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String])
      : BaseRelation = {
    val table = tableOf(parameters)
    if (parameters.get("readChangeFeed").exists(_.trim.toBoolean)) {
      // Delta's batch CDF surface: startingVersion is INCLUSIVE (its
      // own changes are part of the window), endingVersion defaults to
      // the head — served by the same changesBetween every programmatic
      // consumer reads
      val vs0 = TxnLog.versions(table)
      require(vs0.nonEmpty, s"not a TxnLog table: $table")
      val from = parameters.get("startingVersion").map(_.trim.toLong)
        .getOrElse(vs0.head)
      val to = parameters.get("endingVersion").map(_.trim.toLong)
        .getOrElse(vs0.last)
      return new TxnLogChangesRelation(sqlContext, table, from - 1, to)
    }
    // EVERY snapshot shape takes the vectorized HadoopFsRelation path:
    // column mapping is a rename at reader construction and DV
    // subtraction a per-file row-index filter, both folded into
    // [[TxnLogParquetFileFormat]]
    val spark = sqlContext.sparkSession
    new TxnLogHadoopFsRelation(
      TxnLogFileIndex(spark, table, asOfOf(table, parameters)), table, spark)
  }

  /** `df.write.format("txnlog")`: SaveMode mapped onto the log's
    * transactional writers. Overwrite on an existing table is the raw
    * snapshot replacement ([[TxnLog.overwrite]] — no row-level CDF for
    * a blind overwrite, same as the programmatic call); Append
    * validates against the declared schema like every other writer. */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val table = tableOf(parameters)
    val spark = sqlContext.sparkSession
    def csv(k: String): Seq[String] =
      parameters.get(k).toSeq.flatMap(_.split(',')).map(_.trim)
        .filter(_.nonEmpty)
    def create(): Unit = TxnLog.create(spark, table, data,
      statsCols = csv("statsCols"), partitionBy = csv("partitionBy"),
      bloomCols = csv("bloomCols"))
    val there = TxnLog.exists(table)
    mode match {
      case SaveMode.ErrorIfExists =>
        require(!there, s"table already exists: $table"); create()
      case SaveMode.Ignore => if (!there) create()
      case SaveMode.Append =>
        if (!there) create()
        else TxnLog.append(spark, table, data, statsCols = csv("statsCols"),
          mergeSchema = parameters.get("mergeSchema").exists(_.toBoolean),
          bloomCols = csv("bloomCols"))
      case SaveMode.Overwrite =>
        if (!there) create()
        else TxnLog.overwrite(spark, table, data, overwriteSchema =
          parameters.get("overwriteSchema").exists(_.toBoolean),
          statsCols = csv("statsCols"), bloomCols = csv("bloomCols"))
    }
    createRelation(sqlContext, parameters)
  }
}

private[graft] object TxnLogSource {
  /** `timestampAsOf` value → epoch millis. Delta accepts the lenient
    * date/datetime strings (`'2026-08-15'`, `'2026-08-15 10:30:00'`) in
    * the session timezone alongside ISO instants; a strict
    * `Instant.parse` alone (requires an offset) rejected them with a
    * raw `DateTimeParseException`. Failures carry the accepted forms. */
  private[graft] def parseAsOfMillis(raw: String): Long = {
    val t = raw.trim
    val tz = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.conf.sessionLocalTimeZone)
      .fold(java.time.ZoneId.systemDefault())(java.time.ZoneId.of)
    def attempt(f: => Long): Option[Long] =
      try Some(f) catch { case scala.util.control.NonFatal(_) => None }
    (if (t.nonEmpty && t.forall(_.isDigit)) attempt(t.toLong) else None)
      .orElse(attempt(java.time.Instant.parse(t).toEpochMilli))
      .orElse(attempt(java.time.LocalDateTime
        .parse(t.replace(' ', 'T')).atZone(tz).toInstant.toEpochMilli))
      .orElse(attempt(java.time.LocalDate.parse(t)
        .atStartOfDay(tz).toInstant.toEpochMilli))
      .getOrElse(sys.error(
        s"timestampAsOf: cannot parse '$raw' — accepted forms: epoch " +
          "millis, ISO-8601 instant (2026-08-15T10:30:00Z), " +
          "'yyyy-MM-dd HH:mm:ss[.f…]' or 'yyyy-MM-dd' (session timezone)"))
  }
}

/** Batch change-feed relation (`option("readChangeFeed", "true")`):
  * the row-level CDF window (fromV, toV] as a v1 TableScan — schema
  * and rows come from the same [[TxnLog.changesBetween]] the
  * programmatic consumers use, so every window shape (journaled
  * upsert/delete files, synthesized pure-add inserts, restore multiset
  * diffs) serves identically through pure SQL. */
private[graft] final class TxnLogChangesRelation(sqlCtx: SQLContext,
                                                 table: String,
                                                 fromV: Long, toV: Long)
    extends BaseRelation with org.apache.spark.sql.sources.TableScan {
  override def sqlContext: SQLContext = sqlCtx
  private def feed: DataFrame =
    TxnLog.changesBetween(sqlCtx.sparkSession, table, fromV, toV)
  override val schema: StructType = feed.schema
  override def buildScan(): RDD[Row] = feed.rdd
}

/** The v1 streaming sink behind `writeStream.format("txnlog")`: every
  * micro-batch is re-rooted as a batch DataFrame (the ForeachBatchSink
  * materialization, [[org.apache.spark.sql.GraftShim.asBatch]]) and
  * landed via [[TxnLog.idempotentAppend]] with `(txnAppId, batchId)`
  * as the idempotence identity — a batch re-delivered after a crash
  * (or a full fresh-checkpoint replay) finds its marker and commits
  * NOTHING. First batch creates the table (schema-only commit, the
  * D4 idempotent init) honoring `writeStream.partitionBy`. */
private[graft] final class TxnLogSink(table: String,
                                      parameters: Map[String, String],
                                      partitionColumns: Seq[String])
    extends org.apache.spark.sql.execution.streaming.Sink {
  private val appId = parameters.getOrElse("txnAppId", sys.error(
    "txnlog sink: option 'txnAppId' is required — it is the idempotence " +
      "identity that makes micro-batch replays exactly-once"))

  override def addBatch(batchId: Long,
                        data: org.apache.spark.sql.DataFrame): Unit = {
    val batch = org.apache.spark.sql.GraftShim.asBatch(data)
    val spark = batch.sparkSession
    if (!TxnLog.exists(table)) {
      // first batch creates the table WITH its data under the txn
      // marker (one commit, layout from partitionBy honored even when
      // the batch is the layout's only evidence); a replay finds the
      // marker through idempotentAppend below, a concurrent creator
      // winning the v1 race drops us to the marker-guarded append
      val created =
        try {
          TxnLog.create(spark, table, batch,
            partitionBy = partitionColumns, txn = Some((appId, batchId)))
          true
        } catch {
          case _: TxnLog.ConcurrentCommitException => false
          case e: IllegalArgumentException
            if e.getMessage.contains("already exists") => false
        }
      if (created) return
    }
    TxnLog.idempotentAppend(spark, table, batch, appId, batchId): Unit
  }
}

/** The v1 streaming SOURCE behind `readStream.format("txnlog")`:
  * offsets are committed log versions, `getBatch((from, to])` serves
  * exactly the data files ADDED by the append-shaped commits in that
  * window — deterministic replay from immutable log files, so a
  * restarted query's checkpointed offset window rebuilds the identical
  * micro-batch (the property Spark's exactly-once sink contract needs
  * from a source). The batch plan is [[TxnLog.scan]] — the same
  * schema-pinned, mapping- and DV-aware relation every batch consumer
  * reads through — re-rooted as a streaming DataFrame
  * ([[org.apache.spark.sql.GraftShim.asStreaming]], the Kafka-source
  * materialization). */
private[graft] final class TxnLogStreamSource(sqlCtx: SQLContext,
                                              table: String,
                                              declared: StructType,
                                              startingVersion: Option[Long],
                                              ignoreChanges: Boolean,
                                              maxVersionsPerTrigger:
                                                Option[Int] = None)
    extends org.apache.spark.sql.execution.streaming.Source
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {
  private def spark = sqlCtx.sparkSession
  override def schema: StructType = declared

  private val floor: Long = startingVersion.getOrElse(0L) - 1L
  // Trigger.AvailableNow: the head at query start; the run drains up to
  // it in capped batches and leaves later commits to the next run
  @volatile private var pinnedHead: Option[Long] = None

  private def versionOf(o: org.apache.spark.sql.connector.read.streaming
      .Offset): Long = o match {
    case org.apache.spark.sql.execution.streaming.runtime.LongOffset(v) => v
    case other => other.json.trim.toLong
  }

  override def prepareForTriggerAvailableNow(): Unit =
    pinnedHead = Some(TxnLog.versions(table).lastOption.getOrElse(floor))

  /** `start` is the previous batch's end offset (read back from the
    * checkpoint after a restart), and the next batch ends at
    * min(head, start + N) — at 100 TB the difference between a
    * restartable catch-up and an executor-OOM batch. */
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val lo = math.max(Option(start).map(versionOf).getOrElse(floor), floor)
    val head = pinnedHead.getOrElse(
      TxnLog.versions(table).lastOption.getOrElse(floor))
    val end = maxVersionsPerTrigger.filter(_ > 0)
      .fold(head)(n => math.min(head, lo + n))
    if (end <= lo) null
    else org.apache.spark.sql.execution.streaming.runtime.LongOffset(end)
  }

  override def getOffset
      : Option[org.apache.spark.sql.execution.streaming.Offset] =
    throw new UnsupportedOperationException(
      "TxnLogStreamSource serves offsets through latestOffset")

  override def getBatch(
      start: Option[org.apache.spark.sql.execution.streaming.Offset],
      end: org.apache.spark.sql.execution.streaming.Offset)
      : org.apache.spark.sql.DataFrame = {
    val from = math.max(start.map(versionOf).getOrElse(floor), floor)
    val to = versionOf(end)
    val files = scala.collection.mutable.ArrayBuffer.empty[String]
    // a version whose DVs mask only its OWN adds (a DV-carrying shallow
    // clone's v1) is an initial snapshot, not a rewrite: its adds are
    // served with that commit's own masks subtracted, like Delta's
    // source serving a cloned snapshot with DVs applied
    val selfMaskedVs = scala.collection.mutable.ArrayBuffer.empty[
      (Long, Seq[String])]
    TxnLog.versions(table)
      .filter(v => v > from && v <= to)
      .foreach { v =>
        val (op, adds, layoutOnly, rewrite, selfMasked) =
          TxnLog.versionAdds(table, v)
        if (layoutOnly) () // compaction re-lays rows a stream has seen
        else if (rewrite) {
          if (!ignoreChanges)
            sys.error(s"txnlog source: version $v of $table is a " +
              s"row-rewriting commit (op=$op) — a pure append stream " +
              "cannot serve it exactly-once; set ignoreChanges=true to " +
              "skip rewrite commits, or consume TxnLog.changeStream " +
              "for row-level changes")
        } else if (selfMasked) selfMaskedVs += ((v, adds))
        else files ++= adds
      }
    // every part reads under the schema pinned at stream start: plain
    // appends serve their rows as committed (an empty state: no masks,
    // layout from the paths), a self-masked version under the masks of
    // its own state
    def read(st: TxnLog.State, adds: Seq[String]): DataFrame =
      TxnLog.scan(spark, table, st.copy(schemaJson = Some(declared.json)),
        Some(adds))
    val plain = read(TxnLog.State(), files.toSeq)
    val masked = selfMaskedVs.toSeq.map { case (v, adds) =>
      read(TxnLog.replayState(table, v), adds) }
    org.apache.spark.sql.GraftShim.asStreaming(
      (plain +: masked).reduce(_ unionByName _))
  }

  override def commit(
      end: org.apache.spark.sql.execution.streaming.Offset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"TxnLogStreamSource[$table]"
}

/** Streaming CHANGE-FEED source (`readStream.format("txnlog")
  * .option("readChangeFeed", true)`): offsets are log versions and each
  * micro-batch is the [[TxnLog.changesBetween]] window over the newly
  * committed versions — the exact rows the batch CDF relation serves,
  * delivered incrementally (Delta's streaming readChangeFeed).
  * Restart-deterministic like [[TxnLogStreamSource]]; windows that
  * span a raw overwrite refuse the way every CDF consumer does. Output
  * columns align to the schema pinned at stream start — post-evolution
  * windows surface missing columns as typed nulls until the stream is
  * re-created. */
private[graft] final class TxnLogChangeStreamSource(
    sqlCtx: SQLContext, table: String, declared: StructType,
    startingVersion: Option[Long])
    extends org.apache.spark.sql.execution.streaming.Source {
  private def spark = sqlCtx.sparkSession
  override def schema: StructType = declared
  private val floor: Long = startingVersion.getOrElse(1L) - 1L

  private def versionOf(o: org.apache.spark.sql.execution.streaming
      .Offset): Long = o match {
    case org.apache.spark.sql.execution.streaming.runtime
      .LongOffset(v) => v
    case other => other.json.trim.toLong
  }

  override def getOffset
      : Option[org.apache.spark.sql.execution.streaming.Offset] = {
    val vs = TxnLog.versions(table)
    if (vs.isEmpty || vs.last <= floor) None
    else Some(org.apache.spark.sql.execution.streaming.runtime
      .LongOffset(vs.last))
  }

  override def getBatch(
      start: Option[org.apache.spark.sql.execution.streaming.Offset],
      end: org.apache.spark.sql.execution.streaming.Offset)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val from = math.max(start.map(versionOf).getOrElse(floor), floor)
    val to = versionOf(end)
    val batch =
      if (from >= to)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], declared)
      else {
        val feed = TxnLog.changesBetween(spark, table, from, to)
        val have = feed.columns.toSet
        feed.select(declared.fields.toSeq.map(f =>
          if (have.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)): _*)
      }
    org.apache.spark.sql.GraftShim.asStreaming(batch)
  }

  override def commit(
      end: org.apache.spark.sql.execution.streaming.Offset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"TxnLogChangeStreamSource[$table]"
}

/** The fast-path relation: a real [[HadoopFsRelation]] (so
  * `FileSourceStrategy` plans the vectorized, codegen'd, PushedFilters
  * scan) that is ALSO [[InsertableRelation]] — `INSERT INTO` a
  * `USING txnlog` view resolves to [[TxnLog.append]] (or the
  * transactional overwrite for `INSERT OVERWRITE`) instead of Spark's
  * raw `InsertIntoHadoopFsRelationCommand`, which would drop files into
  * the directory no log entry references (silently invisible data —
  * the one way a log-governed table must never be written). */
private[graft] class TxnLogHadoopFsRelation(index: TxnLogFileIndex,
                                              table: String,
                                              spark: SparkSession)
  extends HadoopFsRelation(
    location = index,
    partitionSchema = index.partitionSchema,
    dataSchema = index.dataSchema,
    bucketSpec = None,
    fileFormat =
      new TxnLogParquetFileFormat(index.physMap, index.dvMode0),
    options = Map.empty)(spark) with InsertableRelation {
  /** The table directory — the analyzer rules (SQL time travel, MERGE
    * INTO) recover it from a resolved relation to re-read the log. */
  private[graft] def tableDir: String = table
  override def insert(data: DataFrame, overwrite: Boolean): Unit =
    if (overwrite) TxnLog.overwrite(spark, table, data)
    else TxnLog.append(spark, table, data)
}

/** Log-planned [[FileIndex]]: the live file set of one TxnLog snapshot,
  * with `listFiles` applying (a) hive partition pruning from Catalyst's
  * partitionFilters and (b) per-file stats-interval + bloom skipping
  * from its dataFilters. SUPERSET contract throughout: a file survives
  * unless its committed metadata PROVES no row can match; the scan
  * re-applies every filter to the rows it reads, so pruning is purely
  * an I/O optimization.
  *
  * Every TxnLog table read is a relation over one of these. A
  * `format("txnlog")`/SQL view follows the head ([[TxnLogFileIndex.apply]]);
  * everything else ([[TxnLog.snapshot]], time travel, the writers'
  * internal reads, stream batches) pins one resolved state, optionally
  * restricted to an explicit file list, and never lists the log again.
  * The pruning helpers below are the only copies of the stats/bloom
  * survival test the engine has. */
object TxnLogFileIndex {
  /** logical → physical renames of a declared schema (only the fields
    * where they differ; empty = mapping inactive). */
  private[sources] def physMapOf(s: StructType): Map[String, String] =
    s.fields.iterator.map(f => f.name -> TxnLog.physName(f))
      .filter { case (l, p) => l != p }.toMap

  /** A `format("txnlog")`/SQL view: pinned to `asOf` when given (time
    * travel), else following the head. */
  def apply(spark: SparkSession, table: String,
            asOf: Option[Long]): TxnLogFileIndex = {
    val vs = TxnLog.versions(table)
    require(vs.nonEmpty, s"not a TxnLog table: $table")
    val v = asOf.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in log (have $vs)")
    new TxnLogFileIndex(spark, table, TxnLog.replayState(table, v),
      head = if (asOf.isEmpty) Some(v) else None)
  }

  /** Canonical-long rendering of a Catalyst (internal) value, mirroring
    * the stats writer ([[TxnLog]] statsLines): temporal → epoch days
    * (conservative day floor), integrals → the value. None = the type
    * is not stats-canonicalizable → unprunable. */
  private[sources] def canonLong(dt: DataType, value: Any,
                                 tz: String): Option[Long] = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType =>
      Some(value.asInstanceOf[Number].longValue) // dates: epoch days
    case TimestampType => Some(DateTimeUtils.microsToDays(
      value.asInstanceOf[Number].longValue,
      java.time.ZoneId.of(tz)).toLong)
    case _ => None
  }

  /** The bloom probe rendering of a Catalyst value: the SAME Catalyst
    * cast-to-string the build side hashes (`col.cast(StringType)`), so
    * build and probe renderings can never drift (a drift is a bloom
    * FALSE NEGATIVE: files wrongly skipped, rows silently missing).
    * Timestamps assume build and probe sessions share a timezone. */
  private[sources] def probeString(dt: DataType, value: Any,
                                   tz: String): String = dt match {
    case StringType => value.toString
    case _ => Cast(Literal(value, dt), StringType, Some(tz))
      .eval(null).toString
  }

  /** Whether file `f`'s committed [min, max] stats for `c` may hold a
    * value in [lo, hi]; a file without stats is unprunable. */
  private[sources] def statsOverlap(st: TxnLog.State, f: String, c: String,
                                    lo: Long, hi: Long): Boolean =
    st.stats.get((f, c)).forall { case (mn, mx) => mx >= lo && mn <= hi }

  /** Whether file `f`'s committed bloom for `c` may contain the value
    * whose [[TxnLog.bloomHashes]] are `hashes`; a file without a bloom
    * (or with more hashes than the probe carries) is unprunable. */
  private[sources] def bloomMayContain(st: TxnLog.State, f: String,
                                       c: String,
                                       hashes: Array[Long]): Boolean =
    st.blooms.get((f, c)).forall { case (m, k, bits) =>
      k > hashes.length || (0 until k).forall { i =>
        val p = (((hashes(i) % m) + m) % m).toInt
        (bits(p >>> 6) & (1L << (p & 63))) != 0L
      }
    }

  /** The survival test: every (column, lo, hi) interval overlaps the
    * file's stats and every (column, probe hashes) may be in its bloom. */
  private[sources] def survives(st: TxnLog.State, f: String,
                                iv: Seq[(String, Long, Long)],
                                eq: Seq[(String, Array[Long])]): Boolean =
    iv.forall { case (c, lo, hi) => statsOverlap(st, f, c, lo, hi) } &&
      eq.forall { case (c, probe) => bloomMayContain(st, f, c, probe) }
}

/** `st0` is the resolved state the index starts from; `head` = Some(v)
  * makes it a view that re-resolves when the head moves past v, None
  * pins it. `files` restricts a pinned index to an explicit file list
  * (relative or clone-absolute committed paths, or freshly staged
  * ones); `withRid` appends the nullable materialized row-id column
  * ([[TxnLog.RidCol]]) to the read schema of a row-tracking read. */
final class TxnLogFileIndex private[sources] (
    spark: SparkSession, table: String, st0: TxnLog.State,
    head: Option[Long] = None, files: Option[Seq[String]] = None,
    withRid: Boolean = false) extends FileIndex {
  import TxnLogFileIndex.{canonLong, probeString, survives}

  private val base: HPath = {
    val t = new HPath(table)
    TxnLog.fsOf(t).makeQualified(t)
  }

  /** One resolved snapshot: the replay state, the files it lists and
    * their statuses. File sizes come from the LOG (`fsize` actions —
    * Delta's add.size): planning never stats a data file; only files
    * committed before size recording (or staged, not yet committed)
    * fall back to one filesystem call each. */
  private final class Snap(val version: Long, val st: TxnLog.State,
                           val files: Seq[String],
                           val statuses: Map[String, FileStatus])
  private def snapOf(v: Long, st: TxnLog.State): Snap = {
    lazy val fs = TxnLog.fsOf(base)
    val fl = files.getOrElse(st.live)
    val statuses = fl.map { f =>
      val p = new HPath(base, f)
      val len = st.sizes.getOrElse(f, fs.getFileStatus(p).getLen)
      f -> new FileStatus(len, false, 1, 128L * 1024 * 1024, 0L, p)
    }.toMap
    new Snap(v, st, fl, statuses)
  }

  @volatile private var snap: Snap = snapOf(head.getOrElse(-1L), st0)

  /** HEAD views re-resolve the log per planning pass (Delta's
    * TahoeFileIndex re-resolves per snapshot): a persistent temp view
    * keeps seeing new commits, and a compact+vacuum cannot strand the
    * view on a pinned file list of deleted files. A pinned index never
    * lists the log — that is what a snapshot and time travel mean (and
    * vacuum reclaiming the pinned files fails their scans). */
  private def current(): Snap = {
    if (head.isDefined) {
      val h = TxnLog.versions(table).last
      if (h != snap.version) snap = snapOf(h, TxnLog.replayState(table, h))
    }
    snap
  }

  /** SQL reads need the log-declared schema: schema-on-read inference
    * would have to open footers (and would mis-order evolved columns).
    * The SCHEMA is pinned at construction (analysis time): a resolved
    * plan cannot change shape mid-query, and post-evolution files simply
    * surface their extra columns as unread (parquet matches by name) —
    * re-create the view to pick up an evolved declaration. */
  // data columns surface NULLABLE regardless of the declared flag:
  // files written before a schema evolution legitimately lack the
  // evolved columns (they read as null), and a non-nullable field in
  // the scan schema makes the parquet reader refuse those files
  // outright ("required column is missing") instead of null-filling
  val declared: StructType = StructType(st0.schemaJson
    .map(DataType.fromJson(_).asInstanceOf[StructType])
    .getOrElse(sys.error(
      s"txnlog relation requires a declared schema in the log: $table"))
    .fields.map(_.copy(nullable = true)))

  /** logical → physical data-column renames of the pinned schema
    * (empty unless column mapping is active) — consumed by the
    * relation's [[TxnLogParquetFileFormat]], which applies them at
    * reader construction so the vectorized scan reads the files'
    * physical names under this view's logical ones. */
  private[sources] val physMap: Map[String, String] =
    TxnLogFileIndex.physMapOf(declared)
  /** Whether the pinned snapshot carries live deletion vectors — fixes
    * the relation's format in DV (row-filtering) mode. A view created
    * on a DV-bearing table stays in row mode after a compact clears
    * the DVs (correct, just not batch) — re-create it to regain batch
    * handoff; the reverse direction (DVs appearing under a batch-mode
    * view) refuses in [[listFiles]]. */
  private[sources] val dvMode0: Boolean = st0.dvFiles.nonEmpty

  /** Partition directory names are PHYSICAL column names (writers
    * stage through the physical projection); each maps back to the
    * declared logical field carried by [[partitionSchema]]. An explicit
    * file list (staged files, stream adds) carries its own layout. */
  private val partCols: Seq[String] =
    files.flatMap(fl => TxnLog.partitionColsOf(fl))
      .orElse(TxnLog.partitionColsOf(st0)).getOrElse(Nil)
  private def logicalOf(pc: String): StructField =
    declared.fields.find(f => TxnLog.physName(f) == pc).getOrElse(
      sys.error(s"partition column $pc of $table is not in the " +
        s"declared schema"))

  override val partitionSchema: StructType =
    StructType(partCols.map(logicalOf))
  /** The relation's data schema is the WHOLE declared schema (plus the
    * row-id column): partition columns overlap it, and `HadoopFsRelation`
    * keeps overlapping partition columns at their data-schema position
    * (reading them from the directory, never from the file) — so every
    * read surfaces the declared column order. */
  val dataSchema: StructType =
    if (withRid) declared.add(StructField(TxnLog.RidCol, LongType))
    else declared

  override def rootPaths: Seq[HPath] = Seq(base)
  override def inputFiles: Array[String] =
    current().files.map(f => new HPath(base, f).toString).toArray
  override def refresh(): Unit = head.foreach { _ =>
    val h = TxnLog.versions(table).last
    snap = snapOf(h, TxnLog.replayState(table, h))
  }
  override def sizeInBytes: Long =
    current().statuses.values.map(_.getLen).sum

  private def tz = spark.sessionState.conf.sessionLocalTimeZone

  /** (column, lo, hi) intervals + (column, probe hashes) equality probes
    * extracted from the pushed data filters. Conjuncts arrive already
    * split; anything unrecognized is simply not used for pruning. */
  private def pruningHints(dataFilters: Seq[Expression])
      : (Seq[(String, Long, Long)], Seq[(String, Array[Long])]) = {
    val iv = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    val eq = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Long])]
    def bound(a: AttributeReference, l: Literal)(f: Long => (Long, Long))
        : Unit =
      canonLong(a.dataType, l.value, tz).foreach { v =>
        val (lo, hi) = f(v); iv += ((a.name, lo, hi)) }
    dataFilters.foreach {
      case EqualTo(a: AttributeReference, l: Literal) if l.value != null =>
        bound(a, l)(v => (v, v))
        eq += ((a.name,
          TxnLog.bloomHashes(probeString(l.dataType, l.value, tz))))
      case EqualTo(l: Literal, a: AttributeReference) if l.value != null =>
        bound(a, l)(v => (v, v))
        eq += ((a.name,
          TxnLog.bloomHashes(probeString(l.dataType, l.value, tz))))
      case GreaterThan(a: AttributeReference, l: Literal)
          if l.value != null => bound(a, l)(v => (v, Long.MaxValue))
      case GreaterThanOrEqual(a: AttributeReference, l: Literal)
          if l.value != null => bound(a, l)(v => (v, Long.MaxValue))
      case LessThan(a: AttributeReference, l: Literal) if l.value != null =>
        bound(a, l)(v => (Long.MinValue, v))
      case LessThanOrEqual(a: AttributeReference, l: Literal)
          if l.value != null => bound(a, l)(v => (Long.MinValue, v))
      case GreaterThan(l: Literal, a: AttributeReference)
          if l.value != null => // lit > col ⇒ col < lit
        bound(a, l)(v => (Long.MinValue, v))
      case LessThan(l: Literal, a: AttributeReference) if l.value != null =>
        bound(a, l)(v => (v, Long.MaxValue))
      case _ => () // IsNotNull, OR-trees, UDF-ish — unprunable, fine
    }
    (iv.toSeq, eq.toSeq)
  }

  /** Cast one hive path segment value to the partition column's type
    * through Catalyst's string cast (the same conversion Spark's own
    * partition discovery applies). */
  private def partCast(v: String, dt: DataType): Any = {
    val un = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(v)
    if (un == "__HIVE_DEFAULT_PARTITION__") null
    else Cast(Literal(UTF8String.fromString(un), StringType), dt, Some(tz))
      .eval(null)
  }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] = {
    val cur = current()
    val st = cur.st
    val statuses = cur.statuses
    // this relation's format row-filters deletion vectors ONLY when it
    // was constructed in DV mode; DVs appearing under a batch-mode view
    // must refuse rather than resurrect deleted rows — re-create the
    // view (it re-resolves into DV mode) or compact
    require(dvMode0 || st.dvFiles.isEmpty,
      s"txnlog view of $table predates its live deletion vectors — " +
        "re-create the view (it will row-filter them) or run " +
        "TxnLog.compact")
    // likewise a rename/drop committed AFTER this view resolved: the
    // format's logical→physical map is pinned at construction, so a
    // drifted mapping would read the wrong (or no) physical columns
    require(st.schemaJson
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .forall(s => TxnLogFileIndex.physMapOf(s)
        .forall { case (l, p) => physMap.getOrElse(l, l) == p }),
      s"txnlog view of $table predates a column rename/drop — " +
        "re-create the view to pick up the new mapping")
    // per-file deleted-row skip sets, decided by THIS resolution (same
    // committed version as the file list — never a mixed plan), handed
    // to the reader through each file's metadata map
    val dvSets =
      if (st.dvFiles.isEmpty) Map.empty[String, Array[Long]]
      else TxnLog.dvSkipSets(table, st.dvFiles)
    def withMeta(f: String): FileStatusWithMetadata = {
      val md = dvSets.get(f.split('/').last)
        .map(a => Map[String, Any](TxnLogParquetFileFormat.DvKey -> a))
        .getOrElse(Map.empty[String, Any])
      FileStatusWithMetadata(statuses(f), md)
    }
    val (iv, eq) = pruningHints(dataFilters)
    val pruned = cur.files.filter(survives(st, _, iv, eq))
    if (partCols.isEmpty) {
      Seq(PartitionDirectory(InternalRow.empty, pruned.map(withMeta)))
    } else {
      // the planner does NOT re-apply partition filters to rows — the
      // index must honor them (PartitioningAwareFileIndex's contract)
      val pred = if (partitionFilters.isEmpty) None
      else Some(Predicate.createInterpreted(
        partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val i = partitionSchema.fieldIndex(a.name)
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        }))
      pruned.groupBy(f => TxnLog.partValuesOf(f).map(_._2)).toSeq
        .flatMap { case (vals, fs) =>
          val row = InternalRow.fromSeq(
            vals.zip(partitionSchema.fields)
              .map { case (v, fld) => partCast(v, fld.dataType) })
          if (pred.forall(_.eval(row)))
            Some(PartitionDirectory(row, fs.map(withMeta)))
          else None
        }
    }
  }
}
