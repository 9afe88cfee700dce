package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.TxnLog

/** The transaction-log table format: versioned snapshots, time travel,
  * optimistic-concurrency commits, idempotent init (D4), copy-on-write
  * MERGE, and vacuum (K7) — the transaction story around the merge
  * semantics MergeSpec already pins. */
class TxnLogSpec extends SparkSpec {

  private def freshTable(): String = {
    val d = Files.createTempDirectory("graft_txn_spec_")
    d.toFile.deleteOnExit()
    d.resolve("t").toString
  }

  private def nation = Tables.load(spark, sf0001, "nation")
    .select("n_nationkey", "n_name", "n_regionkey")

  test("create + snapshot round-trips; exists flips; versions = [1]") {
    val t = freshTable()
    assert(!TxnLog.exists(t))
    TxnLog.create(spark, t, nation)
    assert(TxnLog.exists(t))
    assert(TxnLog.versions(t) == Seq(1L))
    assert(rowsOf(TxnLog.snapshot(spark, t).orderBy("n_nationkey")) ==
      rowsOf(nation.orderBy("n_nationkey")))
  }

  test("append commits a new version; time travel reads the old one") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_regionkey") < 2))
    val v2 = TxnLog.append(spark, t, nation.filter(col("n_regionkey") >= 2))
    assert(v2 == 2L)
    assert(TxnLog.snapshot(spark, t).count() == nation.count())
    assert(TxnLog.snapshot(spark, t, Some(1L)).count() ==
      nation.filter(col("n_regionkey") < 2).count())
  }

  test("overwrite replaces contents but keeps history addressable") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    TxnLog.overwrite(spark, t, nation.filter(col("n_regionkey") === 0))
    assert(TxnLog.snapshot(spark, t).count() ==
      nation.filter(col("n_regionkey") === 0).count())
    assert(TxnLog.snapshot(spark, t, Some(1L)).count() == nation.count())
  }

  test("copy-on-write upsert equals Merge.upsert semantics") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    val updates = nation.filter(col("n_nationkey") < 3)
      .withColumn("n_name", concat(col("n_name"), lit("_V2")))
      .unionByName(spark.range(900, 902)
        .select(col("id").cast("long").as("n_nationkey"),
          concat(lit("NEW_"), col("id")).as("n_name"),
          lit(9L).as("n_regionkey")))
    TxnLog.upsert(spark, t, updates, Seq("n_nationkey"))
    val expect = ops.Merge.upsert(nation, updates, Seq("n_nationkey"))
    assert(rowsOf(TxnLog.snapshot(spark, t).orderBy("n_nationkey")) ==
      rowsOf(expect.orderBy("n_nationkey")))
    // and v1 is still the pre-merge table
    assert(TxnLog.snapshot(spark, t, Some(1L)).count() == nation.count())
  }

  test("createIfNotExists is idempotent (D4 existence probe)") {
    val t = freshTable()
    assert(TxnLog.createIfNotExists(spark, t, nation))
    assert(!TxnLog.createIfNotExists(spark, t,
      nation.filter(col("n_regionkey") === 0))) // second init is a no-op
    assert(TxnLog.snapshot(spark, t).count() == nation.count())
  }

  test("losing the commit race: append retries, stale overwrite throws") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    // simulate a concurrent writer owning version 2
    val log2 = Paths.get(t, "_txn_log", f"${2L}%020d.log")
    Files.write(log2, java.util.Arrays.asList[String]())
    val v = TxnLog.append(spark, t, nation.filter(col("n_nationkey") === 0))
    assert(v == 3L, "blind append must skip past the contested version")
    // an overwrite computed from v1 is stale now that v2/v3 exist: the
    // CAS pin makes it fail instead of silently reverting those commits
    intercept[TxnLog.ConcurrentCommitException] {
      TxnLog.overwrite(spark, t, nation.limit(1), expectedVersion = Some(1L))
    }
  }

  test("vacuum drops files beyond retention; current snapshot survives") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    TxnLog.overwrite(spark, t, nation.filter(col("n_regionkey") < 2))
    TxnLog.overwrite(spark, t, nation.filter(col("n_regionkey") === 0))
    def parquetCount() = {
      val s = Files.list(Paths.get(t))
      try s.filter(p => p.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    val before = parquetCount()
    val deleted = TxnLog.vacuum(t, retainVersions = 1, minAgeMs = 0)
    assert(deleted.nonEmpty)
    // vacuum also reclaims _stream_feed mirrors past the horizon;
    // the root-file count moves only by the root victims
    assert(parquetCount() ==
      before - deleted.count(d => !d.startsWith("_stream_feed/") &&
        !d.startsWith("_txn_log/")))
    // current snapshot unaffected
    assert(TxnLog.snapshot(spark, t).count() ==
      nation.filter(col("n_regionkey") === 0).count())
    // time travel past the horizon now fails at scan time
    intercept[Exception] {
      TxnLog.snapshot(spark, t, Some(1L)).count()
    }
  }

  test("idempotent append: re-delivered (appId, version) is a no-op") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_regionkey") === 0))
    val batch = nation.filter(col("n_regionkey") === 1)
    val v = TxnLog.idempotentAppend(spark, t, batch, "sync-app", 0L)
    val n = TxnLog.snapshot(spark, t).count()
    // at-least-once re-delivery: same appId + version arrives again
    val v2 = TxnLog.idempotentAppend(spark, t, batch, "sync-app", 0L)
    assert(v2 == v && TxnLog.snapshot(spark, t).count() == n,
      "a replayed batch must not duplicate rows")
    // the NEXT batch still lands
    TxnLog.idempotentAppend(spark, t,
      nation.filter(col("n_regionkey") === 2), "sync-app", 1L)
    assert(TxnLog.snapshot(spark, t).count() ==
      nation.filter(col("n_regionkey") <= 2).count())
    assert(TxnLog.lastTxnVersion(t, "sync-app") == 1L)
    assert(TxnLog.lastTxnVersion(t, "other-app") == -1L)
    // re-delivery AFTER later commits still returns the version that
    // holds the batch, not the table head
    assert(TxnLog.idempotentAppend(spark, t, batch, "sync-app", 0L) == v,
      "dedup path must return the batch's own commit version")
  }

  test("foreachBatch streaming sink into TxnLog is exactly-once under replay") {
    import org.apache.spark.sql.streaming.Trigger
    val t = freshTable()
    val src = Tables.load(spark, sf0001, "events")
      .select("event_id", "user_id", "value")
    TxnLog.create(spark, t, src.limit(0)) // empty-schema init commit
    val landing = java.nio.file.Files.createTempDirectory("graft_txn_stream_")
    // two files → two micro-batches under maxFilesPerTrigger=1
    src.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$landing/a")
    src.filter(col("event_id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$landing/b")
    val schema = src.schema
    def runStream(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$landing/*")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          TxnLog.idempotentAppend(spark, t, batch, "stream-app", id): Unit
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runStream()
    val afterFirst = TxnLog.snapshot(spark, t).count()
    assert(afterFirst == src.count(), "both micro-batches must land")
    // a FRESH query (new temp checkpoint) re-delivers every batch with
    // the same batch ids — the crash-replay shape; the txn markers must
    // absorb all of it
    runStream()
    assert(TxnLog.snapshot(spark, t).count() == afterFirst,
      "full replay must be absorbed by the txn markers")
    TempWork.deleteRecursively(landing)
  }

  test("log checkpoints: written on schedule, purely an optimization") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_nationkey") === 0))
    (1L to 11L).foreach { i =>
      TxnLog.idempotentAppend(spark, t,
        nation.filter(col("n_nationkey") === i), "cp-app", i)
    }
    def cps() = {
      val s = Files.list(Paths.get(t, "_txn_log"))
      try s.filter(p => p.toString.endsWith(".checkpoint.parquet")).count()
      finally s.close()
    }
    assert(cps() == 1, "12 commits must have checkpointed at v10")
    // Delta's pointer file: the hot read path resolves the checkpoint
    // through ONE known key, never a directory listing
    assert(Files.exists(Paths.get(t, "_txn_log", "_last_checkpoint")),
      "_last_checkpoint pointer must be published with the checkpoint")
    val full = TxnLog.snapshot(spark, t).count()
    assert(full == 12, "all 12 single-nation commits visible")
    assert(TxnLog.lastTxnVersion(t, "cp-app") == 11L)
    // time travel BEHIND the checkpoint still replays from the start
    assert(TxnLog.snapshot(spark, t, Some(5L)).count() == 5)
    // a checkpoint is derived data: deleting it changes nothing — and
    // the now-STALE _last_checkpoint pointer (left in place, naming a
    // deleted file) must degrade to full replay, not fail
    val s = Files.list(Paths.get(t, "_txn_log"))
    try s.filter(p => p.toString.endsWith(".checkpoint.parquet"))
      .forEach(p => Files.delete(p))
    finally s.close()
    assert(TxnLog.snapshot(spark, t).count() == full)
    assert(TxnLog.lastTxnVersion(t, "cp-app") == 11L)
  }

  test("snapshot scans keep predicate pushdown and column pruning") {
    // the 100 TB contract: a log-planned snapshot is an ordinary
    // multi-file parquet scan — filters reach the reader, untouched
    // columns never leave it
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    TxnLog.append(spark, t, nation.limit(0)) // multi-version, multi-file
    val q = TxnLog.snapshot(spark, t)
      .filter(col("n_regionkey") === 1).select("n_name")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("EqualTo(n_regionkey,1)"),
      s"filter must reach the parquet scan:\n${plan.take(2000)}")
    assert(plan.contains("ReadSchema") && !plan.contains("n_nationkey:"),
      s"pruned column must not be read:\n${plan.take(2000)}")
  }

  test("staging writes leave a clean table dir (no .crc sidecars, no " +
      "_SUCCESS, no _staging leftovers) and publish readable files") {
    // The staging write rides FastLocalFs (no fork+exec chmod, no
    // checksum sidecars) with committer algorithm v2 and no success
    // marker — this pins the on-disk hygiene those options promise and
    // that the published files still serve every row.
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    TxnLog.upsert(spark, t,
      nation.filter(col("n_nationkey") < 3)
        .withColumn("n_name", concat(col("n_name"), lit("_V2"))),
      Seq("n_nationkey"))
    val walk = Files.walk(Paths.get(t))
    val names = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.map(_.getFileName.toString).toVector
    } finally walk.close()
    assert(!names.exists(_.endsWith(".crc")),
      s"checksum sidecars must not be staged: $names")
    assert(!names.contains("_SUCCESS"),
      s"success markers must not be staged: $names")
    assert(!names.exists(_.startsWith("_staging_")),
      s"staging temp dirs must be swept: $names")
    assert(TxnLog.snapshot(spark, t).count() == nation.count())
    // the FileContext twin used by streaming checkpoints resolves and
    // round-trips a create+rename (the state-store commit primitive)
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("fs.AbstractFileSystem.file.impl",
      classOf[graft.sources.FastLocalAbstractFs].getName)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      new java.net.URI("file:///"), conf)
    val dir = Files.createTempDirectory("graft_fastfs_fc_")
    val tmp = new org.apache.hadoop.fs.Path(dir.toString, "x.tmp")
    val dst = new org.apache.hadoop.fs.Path(dir.toString, "x")
    val out = fc.create(tmp,
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
    out.write(42); out.close()
    fc.rename(tmp, dst)
    assert(fc.getFileStatus(dst).getLen == 1)
    TempWork.deleteRecursively(dir)
  }

  test("footer-derived stats lines equal the Spark-job canonicalization " +
      "across types, nulls, and all-null columns") {
    // The commit's per-file min/max now comes from the staged parquet
    // FOOTERS for lossless types (int/long/date/ts-micros) and falls
    // back to the original Spark job otherwise (string/double here).
    // Both paths feed the SAME `stats\t` lines, so this pins the
    // committed values against an independently computed canonical
    // min/max per (file, column) — any footer/job drift fails here.
    val t = freshTable()
    val df = spark.range(0, 1000)
      .select(col("id").as("k"),                        // INT64 plain
        col("id").cast("int").as("ki"),                 // INT32 plain
        date_add(to_date(lit("2020-01-01")),
          (col("id") % 400).cast("int")).as("d"),       // DATE
        to_timestamp(date_add(to_date(lit("2020-01-01")),
          (col("id") % 90).cast("int"))).as("ts"),      // TIMESTAMP
        (col("id") * 1.5 - 200.0).as("x"),              // DOUBLE (job path)
        concat(lit("s"), col("id")).as("s"),            // STRING (job path)
        when(col("id") % 3 === 0, col("id")).as("kn"),  // nullable INT64
        lit(null).cast("long").as("allnull"))           // all-null column
      .repartitionByRange(4, col("k"))
    val cols = Seq("k", "ki", "d", "ts", "x", "kn", "allnull")
    TxnLog.create(spark, t, df, statsCols = cols)
    val log = new String(Files.readAllBytes(
      Paths.get(t, "_txn_log", f"${1L}%020d.log")), "UTF-8")
    val statLines = log.linesIterator.filter(_.startsWith("stats\t"))
      .map(_.split('\t')).map(a => (a(1), a(2)) -> (a(3).toLong, a(4).toLong))
      .toMap
    // independently recompute the canonical min/max per (file, column)
    val staged = spark.read.parquet(
      statLines.keys.map(_._1).toSeq.distinct.map(n => s"$t/$n"): _*)
    def canon(c: String) = staged.schema(c).dataType match {
      case org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.TimestampType =>
        datediff(to_date(col(c)), to_date(lit("1970-01-01"))).cast("long")
      case _ => col(c).cast("long")
    }
    val expected = staged
      .groupBy(input_file_name().as("f"))
      .agg(cols.flatMap(c => Seq(min(canon(c)).as(s"mn_$c"),
        max(canon(c)).as(s"mx_$c"))).head,
        cols.flatMap(c => Seq(min(canon(c)).as(s"mn_$c"),
          max(canon(c)).as(s"mx_$c"))).tail: _*)
      .collect()
    assert(expected.nonEmpty)
    var checked = 0
    expected.foreach { r =>
      val leaf = r.getAs[String]("f").split('/').last
      cols.foreach { c =>
        val key = statLines.keys.find(k =>
          k._1.split('/').last == leaf && k._2 == c)
        if (r.isNullAt(r.fieldIndex(s"mn_$c")))
          assert(key.isEmpty, s"all-null $c must have no stats line")
        else {
          assert(key.nonEmpty, s"missing stats line for $c on $leaf")
          assert(statLines(key.get) ==
            (r.getLong(r.fieldIndex(s"mn_$c")),
              r.getLong(r.fieldIndex(s"mx_$c"))),
            s"stats mismatch for $c on $leaf")
          checked += 1
        }
      }
    }
    assert(checked >= 4 * 6, s"expected 4 files x 6 non-null cols, got $checked")
    // and the lines still prune correctly through the reader
    assert(TxnLog.snapshotWhere(spark, t, "k", 0L, 10L).inputFiles.length <
      TxnLog.snapshot(spark, t).inputFiles.length)
  }

  test("stats-based file skipping prunes the scan, never the answer") {
    val t = freshTable()
    // range-lay the data so per-file [min,max] stats are tight
    val df = spark.range(0, 4000)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(8, col("k"))
    TxnLog.create(spark, t, df, statsCols = Seq("k"))
    val full = TxnLog.snapshot(spark, t)
    val pruned = TxnLog.snapshotWhere(spark, t, "k", 1000L, 1499L)
    assert(pruned.inputFiles.length < full.inputFiles.length,
      s"stats must prune files: ${pruned.inputFiles.length} vs " +
        s"${full.inputFiles.length}")
    // superset + residual filter = exact answer
    assert(pruned.filter(col("k").between(1000, 1499)).count() ==
      full.filter(col("k").between(1000, 1499)).count())
    // a provably-disjoint range reads zero rows through a typed relation
    val none = TxnLog.snapshotWhere(spark, t, "k", 100000L, 200000L)
    assert(none.count() == 0 && none.columns.toSeq == Seq("k", "v"))
    // a column with NO stats cannot prune (superset semantics)
    assert(TxnLog.snapshotWhere(spark, t, "v", 0L, 0L)
      .inputFiles.length == full.inputFiles.length)
    // stats survive the checkpoint round-trip
    (1L to 10L).foreach(i => TxnLog.idempotentAppend(spark, t,
      df.limit(1), "stats-cp", i))
    assert(TxnLog.snapshotWhere(spark, t, "k", 1000L, 1499L)
      .inputFiles.length < TxnLog.snapshot(spark, t).inputFiles.length,
      "post-checkpoint replay must still carry the stats")
  }

  test("change feed returns exactly the appended window; refuses removes") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_regionkey") === 0))
    TxnLog.append(spark, t, nation.filter(col("n_regionkey") === 1))
    TxnLog.append(spark, t, nation.filter(col("n_regionkey") === 2))
    val changes = TxnLog.changesBetween(spark, t, 1L, 3L)
    assert(changes.where(col("_change_type") =!= "insert").count() == 0)
    assert(rowsOf(changes.drop("_change_type", "_commit_version")
        .orderBy("n_nationkey")) ==
      rowsOf(nation.filter(col("n_regionkey").isin(1, 2))
        .orderBy("n_nationkey")))
    intercept[IllegalArgumentException] {
      TxnLog.changesBetween(spark, t, 3L, 3L) // fromV < toV required
    }
    // a window containing a RAW overwrite (no journaled change data)
    // cannot be represented as row-level changes
    TxnLog.overwrite(spark, t, nation.filter(col("n_regionkey") === 0))
    intercept[IllegalStateException] {
      TxnLog.changesBetween(spark, t, 1L, 4L)
    }
  }

  test("uncommitted staging orphans are invisible and vacuumed") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    // a crashed writer's staged-but-never-published file, its dead
    // staging dir, and a publisher's abandoned temp log entry
    Files.write(Paths.get(t, "part-orphan.parquet"), Array[Byte](1, 2, 3))
    val deadDir = Files.createDirectory(Paths.get(t, "_staging_dead"))
    Files.write(deadDir.resolve("part-x.parquet"), Array[Byte](1))
    Files.write(Paths.get(t, "_txn_log", "_tmp_dead.inprogress"),
      Array[Byte](1))
    assert(TxnLog.snapshot(spark, t).count() == nation.count(),
      "readers replay the log; orphans must be invisible")
    // inside the grace window, NOTHING unreferenced is touched — it may
    // be a concurrent writer's in-flight stage
    assert(TxnLog.vacuum(t).isEmpty,
      "grace window must spare possibly-in-flight files")
    val deleted = TxnLog.vacuum(t, minAgeMs = 0)
    assert(deleted.contains("part-orphan.parquet"))
    assert(deleted.contains("_staging_dead"))
    assert(!Files.exists(Paths.get(t, "_txn_log", "_tmp_dead.inprogress")))
  }

  // ─── declared schema in the commit log ─────────────────────────────

  test("create declares the schema; drifted appends are rejected") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    val declared = TxnLog.declaredSchema(t).get
    assert(declared.fieldNames.toSeq ==
      Seq("n_nationkey", "n_name", "n_regionkey"))
    // missing column
    intercept[TxnLog.SchemaMismatchException] {
      TxnLog.append(spark, t, nation.drop("n_name"))
    }
    // type drift on a declared column
    intercept[TxnLog.SchemaMismatchException] {
      TxnLog.append(spark, t,
        nation.withColumn("n_regionkey", col("n_regionkey").cast("string")))
    }
    // undeclared extra column without opting into evolution
    intercept[TxnLog.SchemaMismatchException] {
      TxnLog.append(spark, t, nation.withColumn("extra", lit(1L)))
    }
    // nothing was committed by the failed appends
    assert(TxnLog.versions(t) == Seq(1L))
  }

  test("mergeSchema evolves; time travel returns the old schema") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_regionkey") < 2))
    val v2 = TxnLog.append(spark, t,
      nation.filter(col("n_regionkey") >= 2).withColumn("score", lit(7L)),
      mergeSchema = true)
    assert(v2 == 2L)
    // evolved column readable ACROSS the version boundary: old files
    // surface it as null, new files carry the value
    val snap = TxnLog.snapshot(spark, t)
    assert(snap.columns.toSeq ==
      Seq("n_nationkey", "n_name", "n_regionkey", "score"))
    assert(snap.where(col("score") === 7L).count() ==
      nation.filter(col("n_regionkey") >= 2).count())
    assert(snap.where(col("score").isNull).count() ==
      nation.filter(col("n_regionkey") < 2).count())
    // time travel to the pre-evolution version: the OLD schema
    val v1 = TxnLog.snapshot(spark, t, Some(1L))
    assert(v1.columns.toSeq == Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(TxnLog.declaredSchema(t, Some(1L)).get.fieldNames.toSeq ==
      Seq("n_nationkey", "n_name", "n_regionkey"))
    // post-evolution appends are validated against the EVOLVED schema
    intercept[TxnLog.SchemaMismatchException] {
      TxnLog.append(spark, t, nation.limit(1)) // now missing `score`
    }
  }

  test("overwrite requires overwriteSchema to change the declaration") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    intercept[TxnLog.SchemaMismatchException] {
      TxnLog.overwrite(spark, t, nation.drop("n_name"))
    }
    TxnLog.overwrite(spark, t, nation.drop("n_name"),
      overwriteSchema = true)
    assert(TxnLog.declaredSchema(t).get.fieldNames.toSeq ==
      Seq("n_nationkey", "n_regionkey"))
  }

  // ─── partition-scoped copy-on-write ────────────────────────────────

  test("partitioned upsert rewrites only the touched partitions") {
    val t = freshTable()
    TxnLog.create(spark, t, nation, partitionBy = Seq("n_regionkey"))
    val before = TxnLog.files(t)
    assert(before.forall(_.contains("n_regionkey=")),
      "partitioned layout must encode partition values in the path")
    // update one nation inside region 3 only (fixture: region = key % 5)
    val updates = nation.filter(col("n_nationkey") === 8)
      .withColumn("n_name", lit("PATCHED"))
    TxnLog.upsert(spark, t, updates, Seq("n_nationkey"))
    val after = TxnLog.files(t)
    val untouchedBefore = before.filterNot(_.contains("n_regionkey=3"))
    val untouchedAfter = after.filterNot(_.contains("n_regionkey=3"))
    assert(untouchedBefore.toSet == untouchedAfter.toSet,
      "untouched partitions must keep their exact file names")
    assert(before.filter(_.contains("n_regionkey=3")).toSet !=
      after.filter(_.contains("n_regionkey=3")).toSet,
      "the touched partition is rewritten")
    // and the merged contents are Merge.upsert semantics
    val expect = ops.Merge.upsert(nation, updates, Seq("n_nationkey"))
    assert(rowsOf(TxnLog.snapshot(spark, t)
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")) ==
      rowsOf(expect.orderBy("n_nationkey")))
  }

  test("two writers on disjoint partitions both commit; overlap throws") {
    val t = freshTable()
    TxnLog.create(spark, t, nation, partitionBy = Seq("n_regionkey"))
    val base = TxnLog.versions(t).last
    // writer A lands first, touching region 0
    val updA = nation.filter(col("n_nationkey") === 0)
      .withColumn("n_name", lit("A"))
    TxnLog.upsert(spark, t, updA, Seq("n_nationkey"))
    // writer B computed against the PRE-A snapshot but touches only
    // region 3 (fixture: region = key % 5): disjoint partitions —
    // Delta's conflict matrix lets it retry and win
    val updB = nation.filter(col("n_nationkey") === 8)
      .withColumn("n_name", lit("B"))
    val vB = TxnLog.upsert(spark, t, updB, Seq("n_nationkey"),
      expectedVersion = Some(base))
    assert(vB == base + 2, "disjoint-partition writer retries at the head")
    val snap = TxnLog.snapshot(spark, t)
    assert(snap.where(col("n_name") === "A").count() == 1)
    assert(snap.where(col("n_name") === "B").count() == 1)
    // writer C also computed against PRE-A but touches region 0 —
    // OVERLAPS A's commit: its merge is stale and must fail
    val updC = nation.filter(col("n_nationkey") === 5)
      .withColumn("n_name", lit("C")) // nation 5 is region 0
    intercept[TxnLog.ConcurrentCommitException] {
      TxnLog.upsert(spark, t, updC, Seq("n_nationkey"),
        expectedVersion = Some(base))
    }
  }

  test("partitioned upsert inserts into brand-new partitions") {
    val t = freshTable()
    TxnLog.create(spark, t, nation, partitionBy = Seq("n_regionkey"))
    val updates = spark.range(900, 903)
      .select(col("id").as("n_nationkey"),
        concat(lit("NEW_"), col("id")).as("n_name"),
        lit(9L).as("n_regionkey"))
    TxnLog.upsert(spark, t, updates, Seq("n_nationkey"))
    assert(TxnLog.snapshot(spark, t).count() == nation.count() + 3)
    assert(TxnLog.files(t).exists(_.contains("n_regionkey=9")))
  }

  // ─── row-level change feed ─────────────────────────────────────────

  test("changesBetween serves upsert commits as row-level CDF") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    val updates = nation.filter(col("n_nationkey") < 2)
      .withColumn("n_name", lit("V2"))
      .unionByName(spark.range(900, 901)
        .select(col("id").as("n_nationkey"), lit("NEW").as("n_name"),
          lit(9L).as("n_regionkey")))
    val v2 = TxnLog.upsert(spark, t, updates, Seq("n_nationkey"))
    val feed = TxnLog.changesBetween(spark, t, 1L, v2)
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("update_preimage" -> 2L,
      "update_postimage" -> 2L, "insert" -> 1L))
    // pre-images carry the OLD values, post-images the new
    assert(feed.where(col("_change_type") === "update_preimage" &&
      col("n_name") === "V2").count() == 0)
    assert(feed.where(col("_change_type") === "update_postimage" &&
      col("n_name") =!= "V2").count() == 0)
    assert(feed.select("_commit_version").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(v2))
  }

  test("changesBetween serves deletes and mixed windows") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_regionkey") < 4))
    val v2 = TxnLog.append(spark, t, nation.filter(col("n_regionkey") === 4))
    val v3 = TxnLog.deleteWhere(spark, t, col("n_nationkey") === 3)
    val feed = TxnLog.changesBetween(spark, t, 1L, v3)
    // the append's rows surface as inserts, the delete as a delete row
    assert(feed.where(col("_change_type") === "insert").count() ==
      nation.filter(col("n_regionkey") === 4).count())
    assert(feed.where(col("_change_type") === "delete").count() == 1)
    assert(feed.where(col("_change_type") === "delete" &&
      col("n_nationkey") === 3).count() == 1)
    assert(feed.where(col("_commit_version") === v2).count() +
      feed.where(col("_commit_version") === v3).count() == feed.count())
    // the CDF rows reconcile the snapshots: v1 + inserts - deletes = v3
    assert(TxnLog.snapshot(spark, t, Some(1L)).count()
      + feed.where(col("_change_type") === "insert").count()
      - feed.where(col("_change_type") === "delete").count()
      == TxnLog.snapshot(spark, t, Some(v3)).count())
  }

  test("raw overwrite without change data refuses a CDF window") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    TxnLog.overwrite(spark, t, nation.filter(col("n_regionkey") === 0))
    intercept[IllegalStateException] {
      TxnLog.changesBetween(spark, t, 1L, 2L).count()
    }
  }

  test("multi-column stats skipping prunes conjunctively, never the answer") {
    val t = freshTable()
    // 4 files laid out on k; v correlates with k so both columns prune
    val df = spark.range(0, 4000)
      .select(col("id").as("k"), (col("id") * 2).as("v"))
      .repartitionByRange(4, col("k"))
    TxnLog.create(spark, t, df, statsCols = Seq("k", "v"))
    val full = TxnLog.snapshot(spark, t)
    // one interval prunes to a file subset; adding a CONTRADICTING
    // second interval prunes to zero files
    val one = TxnLog.snapshotWhereAll(spark, t, Seq(("k", 1000L, 1499L)))
    assert(one.inputFiles.length < full.inputFiles.length)
    assert(one.where(col("k").between(1000, 1499)).count() == 500)
    val contradicted = TxnLog.snapshotWhereAll(spark, t,
      Seq(("k", 1000L, 1499L), ("v", 7000L, 7500L))) // v range ⇒ k 3500+
    assert(contradicted.inputFiles.length < one.inputFiles.length)
    // a column with no stats cannot prune even inside a conjunction
    val noStats = TxnLog.snapshotWhereAll(spark, t,
      Seq(("k", 0L, 3999L), ("absent", 0L, 0L)))
    assert(noStats.inputFiles.length == full.inputFiles.length)
  }

  test("restore rolls back metadata-only; history intact; vacuum blocks") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_regionkey") < 2)) // v1
    TxnLog.append(spark, t, nation.filter(col("n_regionkey") === 2)) // v2
    TxnLog.overwrite(spark, t, nation.limit(3)) // v3: the bad load
    val v2Files = TxnLog.files(t, Some(2L))
    val vR = TxnLog.restore(spark, t, 2L) // v4
    assert(vR == 4L)
    assert(TxnLog.files(t).toSet == v2Files.toSet,
      "metadata-only: the old snapshot's files are re-referenced, not copied")
    assert(rowsOf(TxnLog.snapshot(spark, t).orderBy("n_nationkey")) ==
      rowsOf(nation.filter(col("n_regionkey") <= 2).orderBy("n_nationkey")))
    // the bad load stays addressable (restore is a new version, not a
    // history rewrite)
    assert(TxnLog.snapshot(spark, t, Some(3L)).count() == 3)
    // once vacuum reclaims the target snapshot's files, restore REFUSES
    // instead of publishing a commit that references deleted data
    TxnLog.overwrite(spark, t, nation.limit(1)) // v5
    TxnLog.vacuum(t, retainVersions = 1, minAgeMs = 0)
    intercept[IllegalArgumentException] {
      TxnLog.restore(spark, t, 2L)
    }
  }

  test("CHECK constraints: violating writes reject before publish") {
    val t = freshTable()
    TxnLog.create(spark, t, nation, checks = Seq(
      ("key_nonneg", "n_nationkey >= 0"),
      ("name_present", "n_name IS NOT NULL")))
    assert(TxnLog.checkConstraints(t).keySet ==
      Set("key_nonneg", "name_present"))
    // compliant append passes; violating append rejects WITHOUT
    // committing (enforcement rides the staging scan as observed
    // metrics — no extra pass — and staged files are deleted)
    TxnLog.append(spark, t, nation.limit(2)
      .withColumn("n_nationkey", col("n_nationkey") + 900))
    val vBefore = TxnLog.versions(t).last
    intercept[TxnLog.ConstraintViolationException] {
      TxnLog.append(spark, t, nation.limit(2)
        .withColumn("n_nationkey", col("n_nationkey") - 900))
    }
    assert(TxnLog.versions(t).last == vBefore, "violation commits nothing")
    // upsert enforces too (the merged write carries the constraints)
    intercept[TxnLog.ConstraintViolationException] {
      TxnLog.upsert(spark, t, nation.limit(1)
        .withColumn("n_name", lit(null).cast("string")),
        Seq("n_nationkey"))
    }
    // NULL predicate passes (SQL CHECK semantics): a constraint over a
    // column that is null does not reject
    TxnLog.addCheck(spark, t, "region_small", "n_regionkey < 100")
    // addCheck refuses a constraint the existing data violates
    intercept[TxnLog.ConstraintViolationException] {
      TxnLog.addCheck(spark, t, "impossible", "n_regionkey > 50")
    }
    // the added constraint is enforced on later writes
    intercept[TxnLog.ConstraintViolationException] {
      TxnLog.append(spark, t, nation.limit(1)
        .withColumn("n_regionkey",
          lit(500).cast(nation.schema("n_regionkey").dataType)))
    }
  }

  test("CHECK constraints ride partitioned writes too") {
    val t = freshTable()
    TxnLog.create(spark, t, nation,
      partitionBy = Seq("n_regionkey"),
      checks = Seq(("key_nonneg", "n_nationkey >= 0")))
    val vBefore = TxnLog.versions(t).last
    // the partition-scoped upsert's partitionBy staging still carries
    // the observed violation counts
    intercept[TxnLog.ConstraintViolationException] {
      TxnLog.upsert(spark, t, nation.limit(1)
        .withColumn("n_nationkey",
          lit(-5).cast(nation.schema("n_nationkey").dataType)),
        Seq("n_nationkey"))
    }
    assert(TxnLog.versions(t).last == vBefore)
    TxnLog.upsert(spark, t, nation.limit(1), Seq("n_nationkey")) // valid
    assert(TxnLog.snapshot(spark, t).count() == nation.count())
  }

  test("clustering compaction makes stats skipping effective") {
    val t = freshTable()
    // hash layout scatters k across every file: stats exist but every
    // file's [min, max] spans the whole domain, so nothing prunes
    val df = spark.range(0, 4000).select(col("id").as("k"))
      .repartition(8, col("k"))
    TxnLog.create(spark, t, df, statsCols = Seq("k"))
    val before = TxnLog.snapshotWhere(spark, t, "k", 1000L, 1499L)
    assert(before.inputFiles.length == TxnLog.snapshot(spark, t)
      .inputFiles.length, "scattered layout: stats cannot prune")
    // OPTIMIZE ZORDER's range-cluster form: rewrite on k, fresh stats
    TxnLog.compact(spark, t, targetFiles = 8, clusterBy = Seq("k"))
    val after = TxnLog.snapshotWhere(spark, t, "k", 1000L, 1499L)
    assert(after.inputFiles.length < before.inputFiles.length,
      "clustered layout: the range read plans a file subset")
    assert(after.where(col("k").between(1000, 1499)).count() == 500)
    assert(TxnLog.snapshot(spark, t).count() == 4000)
  }

  test("compaction is layout-only: fewer files, same rows, CDF skips it") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_regionkey") === 0))
    (1 to 3).foreach(r =>
      TxnLog.append(spark, t, nation.filter(col("n_regionkey") === r)))
    val before = TxnLog.files(t)
    assert(before.size >= 4, "one file per commit at minimum")
    val vC = TxnLog.compact(spark, t) // = version 5
    assert(TxnLog.files(t).size < before.size)
    assert(rowsOf(TxnLog.snapshot(spark, t).orderBy("n_nationkey")) ==
      rowsOf(nation.filter(col("n_regionkey") <= 3).orderBy("n_nationkey")),
      "compaction must not change a single row")
    // pre-compaction versions stay addressable until vacuum
    assert(TxnLog.snapshot(spark, t, Some(vC - 1)).count() ==
      nation.filter(col("n_regionkey") <= 3).count())
    // the change feed SKIPS the layout-only commit instead of refusing
    // its removes (Delta's dataChange=false)
    val vLast = TxnLog.append(spark, t,
      nation.filter(col("n_regionkey") === 4))
    val feed = TxnLog.changesBetween(spark, t, 1L, vLast)
    assert(feed.where(col("_commit_version") === vC).count() == 0)
    assert(feed.count() ==
      nation.filter(col("n_regionkey").between(1, 4)).count())
    // a compaction computed against a stale snapshot must fail, not
    // silently revert the commits that beat it
    intercept[TxnLog.ConcurrentCommitException] {
      TxnLog.compact(spark, t, expectedVersion = Some(1L))
    }
  }

  test("partitioned upsert journals CDF too") {
    val t = freshTable()
    TxnLog.create(spark, t, nation, partitionBy = Seq("n_regionkey"))
    val updates = nation.filter(col("n_nationkey") === 8)
      .withColumn("n_name", lit("PATCHED"))
    val v2 = TxnLog.upsert(spark, t, updates, Seq("n_nationkey"))
    val feed = TxnLog.changesBetween(spark, t, 1L, v2)
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("update_preimage" -> 1L, "update_postimage" -> 1L))
  }

  test("history reports the op of every commit, oldest first") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_regionkey") < 3))
    TxnLog.append(spark, t, nation.filter(col("n_regionkey") >= 3))
    TxnLog.upsert(spark, t,
      nation.filter(col("n_nationkey") === 5)
        .withColumn("n_name", lit("PATCHED")), Seq("n_nationkey"))
    TxnLog.compact(spark, t)
    TxnLog.deleteWhere(spark, t, col("n_nationkey") === 5)
    TxnLog.restore(spark, t, 3L)
    TxnLog.addCheck(spark, t, "key_range", "n_nationkey BETWEEN 0 AND 24")
    val h = TxnLog.history(spark, t).orderBy("version").collect()
    assert(h.map(_.getLong(0)).toSeq == (1L to 7L))
    assert(h.map(_.getString(1)).toSeq ==
      Seq("create", "append", "upsert", "compact", "delete", "restore",
        "addCheck"))
    // compaction rewrote the live set down to one file
    val compactRow = h(3)
    assert(compactRow.getLong(2) == 1L && compactRow.getLong(3) >= 1L)
    // the delete journaled change rows; history surfaces the cdc count
    assert(h(4).getLong(4) >= 1L)
  }

  test("bloom skipping: equality probe scans one file, not five") {
    val t = freshTable()
    // five single-region appends → five files, each with its own bloom
    TxnLog.create(spark, t, nation.filter(col("n_regionkey") === 0)
      .coalesce(1), bloomCols = Seq("n_name"))
    (1 to 4).foreach(r => TxnLog.append(spark, t,
      nation.filter(col("n_regionkey") === r).coalesce(1),
      bloomCols = Seq("n_name")))
    assert(TxnLog.files(t).size == 5)
    val name = nation.filter(col("n_nationkey") === 8)
      .head().getString(1) // a value living in exactly one file
    val got = TxnLog.snapshotWhereEq(spark, t, "n_name", name)
    assert(got.inputFiles.length == 1,
      s"bloom should prune to 1 file, scanned ${got.inputFiles.length}")
    assert(rowsOf(got) == rowsOf(nation.filter(col("n_name") === name)))
    // absent value: every bloom rejects → empty scan, empty result
    val none = TxnLog.snapshotWhereEq(spark, t, "n_name", "NOT_A_NATION")
    assert(none.count() == 0)
    // a column without blooms is unprunable — superset contract, the
    // residual filter still yields exact rows
    val unpruned = TxnLog.snapshotWhereEq(spark, t, "n_nationkey", 8)
    assert(unpruned.inputFiles.length == 5)
    assert(unpruned.count() == 1)
  }

  test("bloom survives the checkpoint round-trip") {
    val t = freshTable()
    TxnLog.create(spark, t,
      nation.filter(col("n_nationkey") === 0).coalesce(1),
      bloomCols = Seq("n_name"))
    (1L until 12L).foreach(k => TxnLog.append(spark, t,
      nation.filter(col("n_nationkey") === k).coalesce(1),
      bloomCols = Seq("n_name")))
    // 12 commits → checkpointed at v10; replay now starts from parquet
    val name5 = nation.filter(col("n_nationkey") === 5).head().getString(1)
    val got = TxnLog.snapshotWhereEq(spark, t, "n_name", name5)
    assert(got.inputFiles.length == 1)
    assert(got.count() == 1)
  }

  test("countRows is pure log metadata — survives a corrupted data file") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_regionkey") < 3))
    TxnLog.append(spark, t, nation.filter(col("n_regionkey") >= 3))
    val expected = nation.count()
    assert(TxnLog.countRows(t).contains(expected))
    // delete + upsert keep the metadata count in lockstep with the data
    TxnLog.deleteWhere(spark, t, col("n_nationkey") === 3)
    assert(TxnLog.countRows(t).contains(expected - 1))
    assert(TxnLog.countRows(t, Some(2L)).contains(expected)) // time travel
    // PROOF of zero data I/O: trash every data file — the metadata
    // count still answers, where a scan would now throw
    TxnLog.files(t).foreach { f =>
      Files.write(Paths.get(t).resolve(f), Array[Byte](1, 2, 3))
    }
    assert(TxnLog.countRows(t).contains(expected - 1))
  }

  test("countRows refuses to guess when a live file predates rowcounts") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    // simulate a pre-rowcount log: strip the lines in place
    val f = Paths.get(t, "_txn_log", f"${1L}%020d.log")
    val kept = Files.readAllLines(f)
    kept.removeIf((l: String) => l.startsWith("rowcount\t"))
    Files.write(f, kept)
    assert(TxnLog.countRows(t).isEmpty)
  }

  test("upsert schema evolution: opt-in, old rows null, old schema " +
      "time-travels") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_regionkey") < 3))
    val upd = nation.filter(col("n_regionkey") >= 3)
      .withColumn("flag", lit(1))
    // undeclared column without the opt-in: reject at write time
    intercept[TxnLog.SchemaMismatchException] {
      TxnLog.upsert(spark, t, upd, Seq("n_nationkey"))
    }
    TxnLog.upsert(spark, t, upd, Seq("n_nationkey"), mergeSchema = true)
    val snap = TxnLog.snapshot(spark, t)
    assert(snap.columns.contains("flag"))
    assert(snap.filter(col("n_regionkey") < 3)
      .filter(col("flag").isNotNull).count() == 0)
    assert(snap.filter(col("flag") === 1).count() ==
      nation.filter(col("n_regionkey") >= 3).count())
    // time travel returns the PRE-evolution schema
    assert(!TxnLog.snapshot(spark, t, Some(1L)).columns.contains("flag"))
    // a later plain append must now carry the evolved schema
    intercept[TxnLog.SchemaMismatchException] {
      TxnLog.append(spark, t, nation.limit(1))
    }
  }

  test("append feed mirrors append commits only; rewrites are invisible") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_regionkey") < 2)
      .coalesce(1))
    TxnLog.append(spark, t, nation.filter(col("n_regionkey") >= 2)
      .coalesce(1))
    def feedFiles() = {
      val s = Files.list(Paths.get(t, "_stream_feed"))
      try s.count() finally s.close()
    }
    assert(feedFiles() == 2)
    // compaction and upsert rewrite the table — the feed must not move
    TxnLog.compact(spark, t)
    TxnLog.upsert(spark, t, nation.filter(col("n_nationkey") === 3)
      .withColumn("n_name", lit("PATCHED")), Seq("n_nationkey"))
    assert(feedFiles() == 2)
    // the feed holds exactly the appended rows (pre-rewrite values)
    val fed = spark.read.parquet(Paths.get(t, "_stream_feed").toString)
    assert(fed.count() == nation.count())
    assert(fed.filter(col("n_name") === "PATCHED").count() == 0)
  }

  test("history classifies structurally when op lines are absent") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    TxnLog.append(spark, t, nation.limit(1))
    // simulate a pre-commitInfo log: strip the op lines in place
    Seq(1L, 2L).foreach { v =>
      val f = Paths.get(t, "_txn_log", f"$v%020d.log")
      val kept = Files.readAllLines(f)
      kept.removeIf((l: String) => l.startsWith("op\t"))
      Files.write(f, kept)
    }
    val h = TxnLog.history(spark, t).orderBy("version").collect()
    assert(h.map(_.getString(1)).toSeq == Seq("create", "append"))
  }

  test("deleteWhere keeps NULL-predicate rows (SQL DELETE semantics)") {
    val t = freshTable()
    // v is NULL for nationkeys >= 5 — cond (v > 2) evaluates NULL there
    val base = nation.withColumn("v",
      when(col("n_nationkey") < 5, col("n_nationkey")))
    TxnLog.create(spark, t, base)
    val v2 = TxnLog.deleteWhere(spark, t, col("v") > 2)
    val snap = TxnLog.snapshot(spark, t)
    // deleted: exactly v ∈ {3, 4}; NULL-v rows all survive
    assert(snap.count() == base.count() - 2)
    assert(snap.filter(col("v").isNull).count() ==
      base.filter(col("v").isNull).count())
    // and the CDF journal records exactly the deleted set
    val cdc = TxnLog.changesBetween(spark, t, 1L, v2)
    assert(cdc.count() == 2)
    assert(rowsOf(cdc.select("n_nationkey").orderBy("n_nationkey")) ==
      Seq(Seq(3L), Seq(4L)).map(_.map(_.asInstanceOf[Any])) ||
      cdc.select("n_nationkey").orderBy("n_nationkey").collect()
        .map(_.get(0)).toSeq == Seq(3, 4))
  }

  test("idempotentAppend validates schema and stages hive-partitioned") {
    val t = freshTable()
    TxnLog.create(spark, t, nation, partitionBy = Seq("n_regionkey"))
    // drifted batch (missing a declared column) must fail at write time
    intercept[TxnLog.SchemaMismatchException] {
      TxnLog.idempotentAppend(spark, t,
        nation.drop("n_name").limit(1), "app", 0L)
    }
    // a valid batch lands under the hive layout, not as a root file
    TxnLog.idempotentAppend(spark, t,
      nation.filter(col("n_nationkey") === 999).unionByName(
        spark.range(1).select(lit(900).as("n_nationkey"),
          lit("NEW").as("n_name"), lit(7).as("n_regionkey"))), "app", 1L)
    val live = TxnLog.files(t)
    assert(live.forall(_.contains("n_regionkey=")),
      s"all data files must carry the partition path: $live")
    assert(TxnLog.snapshot(spark, t)
      .filter(col("n_nationkey") === 900 && col("n_regionkey") === 7)
      .count() == 1)
  }

  test("schema-evolving append lost race refuses to clobber the winner") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    // a concurrent writer owns v2 and declared an evolved schema with
    // column colY — a blind retry of OUR evolution line would clobber it
    val winnerSchema = org.apache.spark.sql.types.StructType(
      nation.schema.fields :+ org.apache.spark.sql.types.StructField(
        "colY", org.apache.spark.sql.types.LongType))
    Files.write(Paths.get(t, "_txn_log", f"${2L}%020d.log"),
      java.util.Arrays.asList("op\tappend", s"schema\t${winnerSchema.json}"))
    intercept[TxnLog.SchemaMismatchException] {
      TxnLog.append(spark, t,
        nation.limit(1).withColumn("colX", lit(1L)), mergeSchema = true)
    }
    // the winner's evolution is intact
    assert(TxnLog.declaredSchema(t).get.fieldNames.contains("colY"))
    // and a batch that carries the merged set composes cleanly
    val v = TxnLog.append(spark, t, nation.limit(1)
      .withColumn("colY", lit(2L)).withColumn("colX", lit(1L)),
      mergeSchema = true)
    assert(v == 3L)
    val names = TxnLog.declaredSchema(t).get.fieldNames.toSet
    assert(names.contains("colY") && names.contains("colX"))
  }

  test("appendStream on a partitioned table carries partition values") {
    val t = freshTable()
    TxnLog.create(spark, t, nation, partitionBy = Seq("n_regionkey"))
    TxnLog.append(spark, t, spark.range(1)
      .select(lit(901).as("n_nationkey"), lit("FEED").as("n_name"),
        lit(4).as("n_regionkey")))
    val q = TxnLog.appendStream(spark, t).writeStream
      .format("memory").queryName("txn_feed_part").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("txn_feed_part")
    assert(got.count() == nation.count() + 1)
    assert(got.filter(col("n_regionkey").isNull).count() == 0,
      "partition column must stream through from the hive path, not null")
    assert(got.filter(col("n_nationkey") === 901)
      .select("n_regionkey").collect().head.get(0).toString == "4")
  }

  test("vacuum prunes log entries and checkpoints past the horizon") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_nationkey") === 0))
    (1 to 12).foreach(i => TxnLog.append(spark, t,
      nation.filter(col("n_nationkey") === i)))
    assert(TxnLog.versions(t) == (1L to 13L))
    val headRows = rowsOf(TxnLog.snapshot(spark, t).orderBy("n_nationkey"))
    val deleted = TxnLog.vacuum(t, retainVersions = 3, minAgeMs = 0)
    // log entries below the newest checkpoint ≤ horizon (v10) are gone,
    // and so is their superseded metadata
    assert(TxnLog.versions(t) == (10L to 13L),
      s"expected log pruned to [10..13], got ${TxnLog.versions(t)}")
    assert(deleted.exists(_.contains("_txn_log/")),
      "pruned log entries must be reported")
    // retained reads replay from the checkpoint, identical rows
    assert(rowsOf(TxnLog.snapshot(spark, t).orderBy("n_nationkey")) ==
      headRows)
    assert(TxnLog.snapshot(spark, t, Some(11L)).count() == 11)
    // below the horizon: clean failure, not plausible wrong data
    intercept[Exception] { TxnLog.snapshot(spark, t, Some(9L)) }
    // and the table keeps working: appends continue past the prune
    val v = TxnLog.append(spark, t,
      nation.filter(col("n_nationkey") === 20))
    assert(v == 14L)
  }

  test("vacuum writes a horizon checkpoint when none exists yet") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_nationkey") === 0))
    (1 to 5).foreach(i => TxnLog.append(spark, t,
      nation.filter(col("n_nationkey") === i)))
    assert(TxnLog.versions(t) == (1L to 6L)) // no natural checkpoint yet
    val headRows = rowsOf(TxnLog.snapshot(spark, t).orderBy("n_nationkey"))
    TxnLog.vacuum(t, retainVersions = 1, minAgeMs = 0)
    assert(TxnLog.versions(t) == Seq(6L),
      s"expected only the horizon version, got ${TxnLog.versions(t)}")
    assert(rowsOf(TxnLog.snapshot(spark, t).orderBy("n_nationkey")) ==
      headRows)
    assert(TxnLog.append(spark, t,
      nation.filter(col("n_nationkey") === 21)) == 7L)
  }

  test("changesBetween synthesizes the delta across a restore") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_regionkey") < 2))
    TxnLog.append(spark, t, nation.filter(col("n_regionkey") >= 2))
    val v3 = TxnLog.deleteWhere(spark, t, col("n_regionkey") === 1)
    val v4 = TxnLog.restore(spark, t, 2L)
    assert(v4 == 4L)
    val feed = TxnLog.changesBetween(spark, t, 2L, 4L)
    val byType = feed.groupBy("_change_type", "_commit_version")
      .count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val nR1 = nation.filter(col("n_regionkey") === 1).count()
    // v3: journaled deletes; v4 (the restore): the same rows come BACK
    // as synthesized inserts — the diff of the snapshots around it
    assert(byType(("delete", v3)) == nR1)
    assert(byType(("insert", v4)) == nR1)
    assert(byType.size == 2, s"unexpected extra change rows: $byType")
    // the restored-in rows are exactly region 1's
    assert(feed.filter(col("_commit_version") === v4)
      .select("n_nationkey").orderBy("n_nationkey").collect()
      .map(_.get(0)).toSeq ==
      nation.filter(col("n_regionkey") === 1)
        .select("n_nationkey").orderBy("n_nationkey").collect()
        .map(_.get(0)).toSeq)
  }

  test("idempotentUpsert: replayed MERGE commits nothing, journals nothing") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    val updates = nation.filter(col("n_nationkey") < 3)
      .withColumn("n_name", lit("MERGED"))
    val v = TxnLog.idempotentUpsert(spark, t, updates,
      Seq("n_nationkey"), "merge-app", 0L)
    assert(v == 2L)
    val nVersions = TxnLog.versions(t).size
    val nCdf = TxnLog.changesBetween(spark, t, 1L, v).count()
    assert(nCdf == 6) // 3 pre + 3 post
    // the crash-replay: same (appId, txnVersion) arrives again
    val v2 = TxnLog.idempotentUpsert(spark, t, updates,
      Seq("n_nationkey"), "merge-app", 0L)
    assert(v2 == v, "replay must return the original commit version")
    assert(TxnLog.versions(t).size == nVersions,
      "replay must not commit a new version")
    assert(TxnLog.changesBetween(spark, t, 1L,
      TxnLog.versions(t).last).count() == nCdf,
      "replay must not re-journal change rows")
    // the NEXT batch lands, and a lost race against an unrelated
    // writer recomputes instead of failing
    Files.write(Paths.get(t, "_txn_log", f"${3L}%020d.log"),
      java.util.Arrays.asList("op\tappend"))
    val v3 = TxnLog.idempotentUpsert(spark, t,
      nation.filter(col("n_nationkey") === 5)
        .withColumn("n_name", lit("MERGED2")),
      Seq("n_nationkey"), "merge-app", 1L)
    assert(v3 == 4L)
    assert(TxnLog.snapshot(spark, t)
      .filter(col("n_name").startsWith("MERGED")).count() == 4)
  }

  test("minMaxFromLog: metadata answer is exact or refused, never a guess") {
    val t = freshTable()
    TxnLog.create(spark, t,
      nation.repartitionByRange(3, col("n_nationkey")),
      statsCols = Seq("n_nationkey"))
    assert(TxnLog.minMaxFromLog(t, "n_nationkey").contains((0L, 24L)))
    // a column without stats on every file refuses
    assert(TxnLog.minMaxFromLog(t, "n_regionkey").isEmpty)
    // an appended file without stats poisons the column → refuse
    TxnLog.append(spark, t, spark.range(1)
      .select(lit(900).as("n_nationkey"), lit("X").as("n_name"),
        lit(9).as("n_regionkey")))
    assert(TxnLog.minMaxFromLog(t, "n_nationkey").isEmpty)
    // with stats recorded the answer tracks the append
    TxnLog.append(spark, t, spark.range(1)
      .select(lit(-5).as("n_nationkey"), lit("Y").as("n_name"),
        lit(9).as("n_regionkey")), statsCols = Seq("n_nationkey"))
    assert(TxnLog.minMaxFromLog(t, "n_nationkey").isEmpty,
      "the stats-free v2 file still poisons the column")
    // fresh table: DV delete of the extreme row must flip to refusal
    val t2 = freshTable()
    TxnLog.create(spark, t2, nation, statsCols = Seq("n_nationkey"))
    assert(TxnLog.minMaxFromLog(t2, "n_nationkey").contains((0L, 24L)))
    TxnLog.deleteWhereDV(spark, t2, col("n_nationkey") === 24)
    assert(TxnLog.minMaxFromLog(t2, "n_nationkey").isEmpty,
      "live deletion vectors must refuse the metadata answer")
  }

  test("hilbert compaction: stats skipping works on BOTH cluster columns") {
    val t = freshTable()
    val o = Tables.load(spark, sf0001, "orders")
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .repartition(8, col("o_orderkey")) // both dims scattered everywhere
    TxnLog.create(spark, t, o, statsCols = Seq("o_custkey", "o_orderdate"))
    val nFiles = TxnLog.files(t).size
    def filesScanned(colName: String, lo: Long, hi: Long) =
      TxnLog.snapshotWhere(spark, t, colName, lo, hi).inputFiles.length
    val custLo = 1L; val custHi = 30L
    val dLo = java.time.LocalDate.parse("1997-01-01").toEpochDay
    val dHi = java.time.LocalDate.parse("1997-03-31").toEpochDay
    // scattered: neither predicate prunes anything
    assert(filesScanned("o_custkey", custLo, custHi) == nFiles)
    assert(filesScanned("o_orderdate", dLo, dHi) == nFiles)
    TxnLog.compact(spark, t, targetFiles = 16,
      clusterBy = Seq("o_custkey", "o_orderdate"), hilbert = true)
    val total = TxnLog.files(t).size
    val byCust = filesScanned("o_custkey", custLo, custHi)
    val byDate = filesScanned("o_orderdate", dLo, dHi)
    assert(byCust < total, s"custkey pruning: $byCust of $total")
    assert(byDate < total, s"orderdate pruning: $byDate of $total")
    // layout-only: same rows, and the narrow reads stay exact under the
    // residual filter
    assert(TxnLog.snapshot(spark, t).count() == o.count())
    assert(TxnLog.snapshotWhere(spark, t, "o_custkey", custLo, custHi)
      .where(col("o_custkey").between(custLo, custHi)).count() ==
      o.filter(col("o_custkey").between(custLo, custHi)).count())
  }

  test("overwritePartitions swaps exactly the partitions present") {
    val t = freshTable()
    TxnLog.create(spark, t, nation, partitionBy = Seq("n_regionkey"))
    val before = TxnLog.files(t)
    // the recomputed day: region 2, one row fewer, renamed
    val dropKey = nation.filter(col("n_regionkey") === 2)
      .agg(min("n_nationkey")).head().getInt(0)
    val repl = nation.filter(col("n_regionkey") === 2 &&
      col("n_nationkey") =!= dropKey)
      .withColumn("n_name", concat(lit("R2_"), col("n_nationkey")))
    val v2 = TxnLog.overwritePartitions(spark, t, repl)
    val after = TxnLog.files(t)
    // untouched partitions keep their exact files; region 2's are new
    assert(before.filterNot(_.contains("n_regionkey=2"))
      .forall(after.contains))
    assert(after.filter(_.contains("n_regionkey=2"))
      .forall(f => !before.contains(f)))
    val snap = TxnLog.snapshot(spark, t)
    assert(snap.count() == nation.count() - 1) // one region-2 row dropped
    assert(snap.filter(col("n_regionkey") === 2).count() == repl.count())
    assert(snap.filter(col("n_name").startsWith("R2_")).count() ==
      repl.count())
    // the swap is journaled: old region-2 rows out, new ones in
    val cdc = TxnLog.changesBetween(spark, t, v2 - 1, v2)
    assert(cdc.filter(col("_change_type") === "delete").count() ==
      nation.filter(col("n_regionkey") === 2).count())
    assert(cdc.filter(col("_change_type") === "insert").count() ==
      repl.count())
    // a lost race against a disjoint-partition commit retries and lands
    Files.write(Paths.get(t, "_txn_log", f"${v2 + 1}%020d.log"),
      java.util.Arrays.asList("op\tappend",
        "add\tn_regionkey=4/part-race.parquet"))
    val v4 = TxnLog.overwritePartitions(spark, t,
      repl.withColumn("n_name", lit("AGAIN")))
    assert(v4 == v2 + 2)
    // an unpartitioned table refuses
    val t2 = freshTable()
    TxnLog.create(spark, t2, nation)
    intercept[Exception] { TxnLog.overwritePartitions(spark, t2, nation) }
  }

  test("deletion vectors: merge-on-read delete, zero file rewrites") {
    val t = freshTable()
    val orders = Tables.load(spark, sf0001, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    TxnLog.create(spark, t, orders.repartitionByRange(4, col("o_orderkey")))
    val before = TxnLog.files(t)
    val n = orders.count()
    val v2 = TxnLog.deleteWhereDV(spark, t, col("o_totalprice") > 300000)
    // every data file keeps its exact name — the delete wrote none
    assert(TxnLog.files(t) == before)
    val n300 = orders.filter(col("o_totalprice") > 300000).count()
    assert(n300 > 0)
    assert(TxnLog.snapshot(spark, t).count() == n - n300)
    // metadata-only count stays exact under DVs
    assert(TxnLog.countRows(t).contains(n - n300))
    // the change feed journals the victims like a copy-on-write delete
    val cdc = TxnLog.changesBetween(spark, t, 1L, v2)
    assert(cdc.count() == n300 &&
      cdc.filter(col("_change_type") === "delete").count() == n300)
    // a SECOND DV delete sees the first (no double-victimization)
    val v3 = TxnLog.deleteWhereDV(spark, t, col("o_totalprice") > 200000)
    val n200 = orders.filter(col("o_totalprice") > 200000).count()
    assert(TxnLog.snapshot(spark, t).count() == n - n200)
    assert(TxnLog.countRows(t).contains(n - n200))
    assert(TxnLog.changesBetween(spark, t, v2, v3).count() == n200 - n300)
    // time travel is DV-versioned: v1 has everything, v2 one delete in
    assert(TxnLog.snapshot(spark, t, Some(1L)).count() == n)
    assert(TxnLog.snapshot(spark, t, Some(v2)).count() == n - n300)
    // the SQL relation serves a DV-bearing snapshot (merge-on-read
    // reads route through the DV-aware relation, not the file scan)
    assert(spark.read.format("txnlog").load(t).count() == n - n200)
    // compact materializes the deletes away (REORG PURGE)
    TxnLog.compact(spark, t, targetFiles = 2)
    assert(TxnLog.snapshot(spark, t).count() == n - n200)
    assert(TxnLog.countRows(t).contains(n - n200))
    assert(spark.read.format("txnlog").load(t).count() == n - n200)
  }

  test("zero-victim DV delete commits a marker only — no read tax added") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    val v = TxnLog.deleteWhereDV(spark, t, col("n_nationkey") === 999)
    assert(v == 2L)
    assert(TxnLog.snapshot(spark, t).count() == nation.count())
    assert(TxnLog.countRows(t).contains(nation.count()))
    // no deletion-vector files were journaled, so the SQL relation
    // (which refuses live DVs) still works
    assert(spark.read.format("txnlog").load(t).count() == nation.count())
  }

  test("deletion vectors survive checkpoints and roll back with restore") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    val v2 = TxnLog.deleteWhereDV(spark, t, col("n_regionkey") === 1)
    val nR1 = nation.filter(col("n_regionkey") === 1).count()
    // force a checkpoint beyond the DV commit and replay through it
    (1 to 9).foreach(i => TxnLog.append(spark, t,
      spark.range(1).select(lit(100 + i).as("n_nationkey"),
        lit(s"X$i").as("n_name"), lit(8).as("n_regionkey"))))
    assert(TxnLog.versions(t).last > TxnLog.CheckpointInterval)
    assert(TxnLog.snapshot(spark, t).count() ==
      nation.count() - nR1 + 9)
    // an upsert that rewrites files must not resurrect DV-deleted rows
    TxnLog.upsert(spark, t, nation.filter(col("n_nationkey") === 0)
      .withColumn("n_name", lit("PATCHED")), Seq("n_nationkey"))
    val snap = TxnLog.snapshot(spark, t)
    assert(snap.filter(col("n_regionkey") === 1).count() == 0,
      "rewrite must not resurrect DV-deleted rows")
    assert(snap.filter(col("n_name") === "PATCHED").count() == 1)
    // restore to the pre-delete version: rows return, counts exact
    TxnLog.restore(spark, t, 1L)
    assert(TxnLog.snapshot(spark, t).count() == nation.count())
    assert(TxnLog.countRows(t).contains(nation.count()))
    // and restore back ONTO the DV version keeps its deletes
    TxnLog.restore(spark, t, v2)
    assert(TxnLog.snapshot(spark, t).count() == nation.count() - nR1)
    assert(TxnLog.countRows(t).contains(nation.count() - nR1))
  }

  test("txnlog format: SQL and reader API match snapshot; version travels") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_regionkey") < 2))
    TxnLog.append(spark, t, nation.filter(col("n_regionkey") >= 2))
    // pure SQL over the registered short name (v1 relations register
    // through USING — the pre-catalog Delta contract)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_sql_v " +
      s"USING txnlog OPTIONS (path '$t')")
    val viaSql = spark.sql("SELECT * FROM txn_sql_v ORDER BY n_nationkey")
    assert(rowsOf(viaSql) ==
      rowsOf(TxnLog.snapshot(spark, t).orderBy("n_nationkey")))
    // reader API + time travel option
    val v1 = spark.read.format("txnlog").option("version", "1").load(t)
    assert(v1.count() == nation.filter(col("n_regionkey") < 2).count())
    intercept[Exception] {
      spark.read.format("txnlog").option("version", "9").load(t).count()
    }
  }

  test("txnlog format: partitioned tables surface partition columns") {
    val t = freshTable()
    TxnLog.create(spark, t, nation, partitionBy = Seq("n_regionkey"))
    val df = spark.read.format("txnlog").load(t)
    assert(df.columns.toSet == nation.columns.toSet)
    assert(rowsOf(df.select("n_nationkey", "n_name", "n_regionkey")
      .orderBy("n_nationkey")) ==
      rowsOf(nation.orderBy("n_nationkey")))
    // partition filter via SQL prunes AND returns the right rows
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_part_v " +
      s"USING txnlog OPTIONS (path '$t')")
    val one = spark.sql(
      "SELECT n_nationkey FROM txn_part_v WHERE n_regionkey = 2 " +
        "ORDER BY n_nationkey")
    assert(rowsOf(one) == rowsOf(nation.filter(col("n_regionkey") === 2)
      .select("n_nationkey").orderBy("n_nationkey")))
  }

  test("unpartitioned pruned merge rewrites only files holding the keys") {
    val t = freshTable()
    val orders = Tables.load(spark, sf0001, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    // 4 range-clustered files → each owns a narrow o_orderkey interval
    TxnLog.create(spark, t,
      orders.repartitionByRange(4, col("o_orderkey")),
      statsCols = Seq("o_orderkey"), bloomCols = Seq("o_orderkey"))
    val before = TxnLog.files(t)
    assert(before.size == 4)
    // updates hit a handful of LOW keys — one file's interval
    val updates = orders.filter(col("o_orderkey") <= 7)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
    val v2 = TxnLog.upsert(spark, t, updates, Seq("o_orderkey"))
    val after = TxnLog.files(t)
    val untouched = before.filter(after.contains)
    assert(untouched.size == 3,
      s"exactly the 3 key-free files must keep their names " +
        s"(before=$before after=$after)")
    // merged rows match the join-rewrite semantics exactly
    val expect = ops.Merge.upsert(orders, updates, Seq("o_orderkey"))
    assert(rowsOf(TxnLog.snapshot(spark, t).orderBy("o_orderkey")) ==
      rowsOf(expect.orderBy("o_orderkey")))
    // the CDF journal still covers the merge
    val cdc = TxnLog.changesBetween(spark, t, 1L, v2)
    assert(cdc.filter(col("_change_type") === "update_postimage").count() ==
      updates.count())
    // the REWRITTEN file re-recorded its skipping metadata: a second
    // narrow merge still prunes (files count stays 4: 3 old + 1 new)
    val v3 = TxnLog.upsert(spark, t,
      updates.withColumn("o_totalprice", col("o_totalprice") + 1),
      Seq("o_orderkey"))
    assert(v3 == v2 + 1)
    assert(TxnLog.files(t).count(before.contains) == 3,
      "second merge must still leave the 3 untouched files alone")
    // all-new keys beyond every file's range: pure insert, zero rewrites
    val fresh = spark.range(1).select(lit(99000001).as("o_orderkey"),
      lit(1).as("o_custkey"), lit(1.0).as("o_totalprice"))
    TxnLog.upsert(spark, t, fresh, Seq("o_orderkey"))
    assert(TxnLog.files(t).count(before.contains) == 3 &&
      TxnLog.snapshot(spark, t).count() == orders.count() + 1)
  }

  test("bloom probe canonicalization matches the build side for dates") {
    val t = freshTable()
    val df = Tables.load(spark, sf0001, "orders")
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"))
      .repartitionByRange(4, col("o_orderkey"))
    TxnLog.create(spark, t, df, bloomCols = Seq("od"))
    val probe = df.filter(col("o_orderkey") === 7).select("od")
      .collect().head.getDate(0)
    // String.valueOf(Date) happens to agree with Spark's cast, so ALSO
    // probe a timestamp-shaped rendering risk: the count must match a
    // plain filter (no file wrongly skipped = no rows missing)
    val got = TxnLog.snapshotWhereEq(spark, t, "od", probe).count()
    assert(got == df.filter(col("od") === probe).count())
    assert(got > 0)
  }

  test("partition-scoped retry treats a concurrent DV delete as a conflict") {
    val t = freshTable()
    TxnLog.create(spark, t, nation, partitionBy = Seq("n_regionkey"))
    // a concurrent merge-on-read delete journals ONLY dv/dvcount/cdc
    // lines — no add/remove. A retry that classified it as
    // non-conflicting would republish actions computed from the pre-DV
    // base state, resurrecting the deleted rows.
    val f2 = TxnLog.files(t).find(_.contains("n_regionkey=2")).get
    Files.write(Paths.get(t, "_txn_log", f"${2L}%020d.log"),
      java.util.Arrays.asList("op\tdeleteDV",
        "dv\t_deletion_vectors/part-fake.parquet", s"dvcount\t$f2\t3"))
    val ups = nation.filter(col("n_regionkey") === 2)
      .withColumn("n_name", lit("TOUCHED"))
    intercept[TxnLog.ConcurrentCommitException] {
      TxnLog.upsert(spark, t, ups, Seq("n_nationkey"),
        expectedVersion = Some(1L))
    }
    // …but a DV delete in a DISJOINT partition stays non-conflicting:
    // the retry lands (Delta's conflict matrix, DV case included)
    val t2 = freshTable()
    TxnLog.create(spark, t2, nation, partitionBy = Seq("n_regionkey"))
    val f4 = TxnLog.files(t2).find(_.contains("n_regionkey=4")).get
    Files.write(Paths.get(t2, "_txn_log", f"${2L}%020d.log"),
      java.util.Arrays.asList("op\tdeleteDV",
        "dv\t_deletion_vectors/part-fake.parquet", s"dvcount\t$f4\t1"))
    val v3 = TxnLog.upsert(spark, t2, ups, Seq("n_nationkey"),
      expectedVersion = Some(1L))
    assert(v3 == 3L)
    // a dvclear (compact/restore) resets masks table-wide: always stale
    val t3 = freshTable()
    TxnLog.create(spark, t3, nation, partitionBy = Seq("n_regionkey"))
    Files.write(Paths.get(t3, "_txn_log", f"${2L}%020d.log"),
      java.util.Arrays.asList("op\trestore", "dvclear"))
    intercept[TxnLog.ConcurrentCommitException] {
      TxnLog.upsert(spark, t3, ups, Seq("n_nationkey"),
        expectedVersion = Some(1L))
    }
  }

  test("DV delete predicates see evolved columns (declared-schema scan)") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    // evolve: the new column exists only in the appended file's footer
    TxnLog.append(spark, t, nation.limit(0).withColumn("flag", lit("x")),
      mergeSchema = true)
    TxnLog.append(spark, t,
      spark.range(2).select((col("id") + 900).cast("int").as("n_nationkey"),
        lit("NEW").as("n_name"), lit(9).as("n_regionkey"),
        lit("kill").as("flag")))
    // the victim scan must resolve `flag` on EVERY file (old footers
    // lack it) — single-footer inference would fail or mis-scope it
    val v = TxnLog.deleteWhereDV(spark, t, col("flag") === "kill")
    assert(TxnLog.snapshot(spark, t).count() == nation.count())
    val cdc = TxnLog.changesBetween(spark, t, v - 1, v)
    assert(cdc.count() == 2 &&
      cdc.columns.contains("flag"), "CDC must carry the evolved column")
  }

  test("restore below the log-retention horizon refuses descriptively") {
    val t = freshTable()
    TxnLog.create(spark, t, nation) // v1
    (2 to 9).foreach(i => TxnLog.append(spark, t,
      spark.range(1).select(lit(100 + i).as("n_nationkey"),
        lit(s"X$i").as("n_name"), lit(8).as("n_regionkey"))))
    val vRestore = TxnLog.restore(spark, t, 1L) // v10 → checkpointed
    assert(vRestore == 10L)
    TxnLog.append(spark, t, nation.limit(1)) // v11
    TxnLog.vacuum(t, retainVersions = 2, minAgeMs = 0)
    assert(TxnLog.versions(t) == Seq(10L, 11L))
    // fromV=0 over a window whose FIRST retained commit is the restore:
    // the predecessor snapshot is gone — a clean refusal, not a crash
    val e = intercept[Exception] {
      TxnLog.changesBetween(spark, t, 0L, 11L).count()
    }
    assert(e.getMessage.contains("log-retention horizon"))
    // windows past the restore still serve
    assert(TxnLog.changesBetween(spark, t, 10L, 11L).count() == 1)
  }

  test("txnlog view re-resolves the log head; explicit version pins") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_live_v " +
      s"USING txnlog OPTIONS (path '$t')")
    assert(spark.table("txn_live_v").count() == nation.count())
    // new commits are visible through the SAME view (no frozen snapshot)
    TxnLog.append(spark, t, spark.range(1)
      .select(lit(555).as("n_nationkey"), lit("LATE").as("n_name"),
        lit(9).as("n_regionkey")))
    assert(spark.table("txn_live_v").count() == nation.count() + 1)
    // an explicit version option stays pinned across commits
    val pinned = spark.read.format("txnlog").option("version", "1").load(t)
    TxnLog.append(spark, t, spark.range(1)
      .select(lit(556).as("n_nationkey"), lit("LATER").as("n_name"),
        lit(9).as("n_regionkey")))
    assert(pinned.count() == nation.count())
    // compact + vacuum: the view must re-resolve, not scan deleted files
    TxnLog.compact(spark, t, targetFiles = 1)
    TxnLog.vacuum(t, retainVersions = 1, minAgeMs = 0)
    assert(spark.table("txn_live_v").count() == nation.count() + 2)
  }

  test("txnlog write path: save modes land transactional commits") {
    val t = freshTable()
    // default ErrorIfExists → create (with skipping metadata options)
    nation.filter(col("n_regionkey") < 2).write.format("txnlog")
      .option("statsCols", "n_nationkey").save(t)
    assert(TxnLog.versions(t) == Seq(1L))
    // append validates + commits v2
    nation.filter(col("n_regionkey") >= 2).write.format("txnlog")
      .mode("append").save(t)
    assert(TxnLog.versions(t) == Seq(1L, 2L))
    assert(TxnLog.snapshot(spark, t).count() == nation.count())
    // overwrite replaces; history stays addressable
    nation.filter(col("n_regionkey") === 0).write.format("txnlog")
      .mode("overwrite").save(t)
    assert(TxnLog.snapshot(spark, t).count() ==
      nation.filter(col("n_regionkey") === 0).count())
    assert(TxnLog.snapshot(spark, t, Some(2L)).count() == nation.count())
    // ignore is a no-op on an existing table
    nation.write.format("txnlog").mode("ignore").save(t)
    assert(TxnLog.versions(t).last == 3L)
    // a drifted append fails at write time (schema contract holds
    // through the format string too)
    intercept[TxnLog.SchemaMismatchException] {
      nation.withColumn("n_nationkey", col("n_nationkey").cast("long"))
        .write.format("txnlog").mode("append").save(t)
    }
    // partitioned create via option: hive layout + partition pruning
    val t2 = freshTable()
    nation.write.format("txnlog").option("partitionBy", "n_regionkey")
      .save(t2)
    assert(TxnLog.files(t2).forall(_.contains("n_regionkey=")))
    assert(rowsOf(spark.read.format("txnlog").load(t2)
      .select("n_nationkey", "n_name", "n_regionkey")
      .orderBy("n_nationkey")) == rowsOf(nation.orderBy("n_nationkey")))
  }

  test("INSERT INTO a txnlog view commits through the log") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_ins_v " +
      s"USING txnlog OPTIONS (path '$t')")
    spark.sql("INSERT INTO txn_ins_v VALUES (700, 'INS', 3)")
    // the row must arrive as a LOG COMMIT — a raw file drop into the
    // directory would be invisible to every log-planned reader
    assert(TxnLog.versions(t) == Seq(1L, 2L),
      "insert must be one transactional append commit")
    assert(TxnLog.snapshot(spark, t)
      .filter(col("n_name") === "INS").count() == 1)
    assert(spark.table("txn_ins_v").count() == nation.count() + 1)
    // INSERT OVERWRITE is the transactional snapshot replacement
    spark.sql("INSERT OVERWRITE txn_ins_v VALUES (701, 'OVR', 4)")
    assert(TxnLog.snapshot(spark, t).count() == 1)
    assert(TxnLog.snapshot(spark, t, Some(2L)).count() ==
      nation.count() + 1, "history stays addressable")
  }

  test("DV-aware SQL relation: filters, projections, pruning stay live") {
    val t = freshTable()
    val orders = Tables.load(spark, sf0001, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    TxnLog.create(spark, t, orders.repartitionByRange(4, col("o_orderkey")),
      statsCols = Seq("o_orderkey"))
    TxnLog.deleteWhereDV(spark, t, col("o_totalprice") > 300000)
    val expect = orders.filter(col("o_totalprice") <= 300000)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_dv_v " +
      s"USING txnlog OPTIONS (path '$t')")
    assert(rowsOf(spark.sql(
      "SELECT o_orderkey, o_totalprice FROM txn_dv_v " +
        "WHERE o_orderkey <= 7 ORDER BY o_orderkey")) ==
      rowsOf(expect.filter(col("o_orderkey") <= 7)
        .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")))
    assert(spark.table("txn_dv_v").count() == expect.count())
    // file pruning is STILL decided from the log with DVs live: the
    // narrow-key filter keeps one of the four range-clustered files —
    // the files the view's index selects for the scan's own filters
    def selected(df: org.apache.spark.sql.DataFrame): Int = {
      val scan = df.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.getOrElse(fail("expected a FileSourceScanExec"))
      scan.relation.location
        .listFiles(scan.partitionFilters, scan.dataFilters)
        .map(_.files.size).sum
    }
    assert(selected(spark.table("txn_dv_v")
      .filter(col("o_orderkey") <= 7)) == 1)
    assert(selected(spark.table("txn_dv_v")) == 4)
  }

  test("DV subtraction keeps each surviving row's physical row index") {
    val t = freshTable()
    TxnLog.create(spark, t, spark.range(0, 300, 1, 1)
      .select(col("id").as("k"), (col("id") * 10).as("v")))
    TxnLog.setProperties(spark, t, Map(TxnLog.RowTrackKey -> "true"))
    // (k → parquet row index) and (k → stable row id), read through the
    // one table read (`_metadata` on the snapshot's own scan)
    def positions(): Map[Long, Long] = TxnLog.snapshot(spark, t)
      .select(col("k"), col("_metadata.row_index")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ids(): Map[Long, Long] = TxnLog.snapshotWithRowIds(spark, t)
      .select("k", "_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pos0 = positions()
    val ids0 = ids()
    assert(pos0.values.toSeq.sorted == (0L until 300L),
      "one file: every row has its own physical position")
    TxnLog.deleteWhereDV(spark, t, col("k") % 7 === 3 && col("k") < 150)
    // the second delete hits rows AFTER the first's, on the same file: a
    // DV written against post-subtraction positions would mask the
    // wrong rows (each earlier deletion shifts later rows down by one)
    TxnLog.deleteWhereDV(spark, t, col("k") >= 200 && col("k") % 5 === 0)
    assert(TxnLog.files(t).size == 1, "DV deletes rewrite no file")
    val keep = (0L until 300L)
      .filterNot(k => (k % 7 == 3 && k < 150) || (k >= 200 && k % 5 == 0))
    assert(rowsOf(TxnLog.snapshot(spark, t).orderBy("k")) ==
      keep.map(k => Seq(k, k * 10)))
    assert(positions() == pos0.filter { case (k, _) => keep.contains(k) },
      "a surviving row keeps its physical row index under DV subtraction")
    assert(ids() == ids0.filter { case (k, _) => keep.contains(k) },
      "kept rows keep their stable row ids across both deletes")
  }

  test("one read path: snapshot equals format(\"txnlog\") on every shape") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    object Plans
      extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    def txnlog(t: String, version: Option[Long] = None): DataFrame =
      version.foldLeft(spark.read.format("txnlog"))((r, v) =>
        r.option("version", v)).load(t)
    def sorted(df: DataFrame): Seq[Seq[Any]] =
      rowsOf(df.orderBy(df.columns.toSeq.map(col): _*))
    val nationX = nation.select(col("n_nationkey"), col("n_name"),
      col("n_regionkey"), (col("n_nationkey") * 7).as("n_code"))
    val plain = freshTable()
    TxnLog.create(spark, plain, nationX)
    val parted = freshTable()
    TxnLog.create(spark, parted, nationX, partitionBy = Seq("n_regionkey"))
    val renamed = freshTable()
    TxnLog.create(spark, renamed, nationX)
    TxnLog.renameColumn(spark, renamed, "n_name", "name")
    val masked = freshTable()
    TxnLog.create(spark, masked, nationX)
    TxnLog.deleteWhereDV(spark, masked, col("n_regionkey") === 0)
    // a clone of a partitioned DV table, then its own append and delete:
    // its live files mix the source's absolute paths and its own
    val src = freshTable()
    TxnLog.create(spark, src, nationX, partitionBy = Seq("n_regionkey"))
    TxnLog.deleteWhereDV(spark, src, col("n_nationkey") % 3 === 0)
    val clone = freshTable()
    TxnLog.shallowClone(spark, src, clone)
    TxnLog.append(spark, clone,
      nationX.withColumn("n_nationkey", col("n_nationkey") + 100))
    TxnLog.deleteWhereDV(spark, clone, col("n_nationkey") % 5 === 1)
    def absolute(f: String): Boolean = f.startsWith("/") || f.contains(":/")
    assert(TxnLog.files(clone).exists(absolute) &&
      TxnLog.files(clone).exists(!absolute(_)),
      "the clone must mix two bases")
    val evolved = freshTable()
    TxnLog.create(spark, evolved, nationX)
    TxnLog.addColumns(spark, evolved,
      Seq(("n_extra", org.apache.spark.sql.types.StringType, None)))
    val empty = freshTable()
    TxnLog.createEmpty(spark, empty, nationX.schema)
    val cases: Seq[(String, DataFrame, DataFrame, Long)] = Seq(
      ("plain", TxnLog.snapshot(spark, plain), txnlog(plain), 25L),
      ("hive-partitioned", TxnLog.snapshot(spark, parted), txnlog(parted),
        25L),
      ("renamed", TxnLog.snapshot(spark, renamed), txnlog(renamed), 25L),
      ("DV-masked", TxnLog.snapshot(spark, masked), txnlog(masked), 20L),
      ("clone of a partitioned DV table", TxnLog.snapshot(spark, clone),
        txnlog(clone), 33L),
      ("time travel before an evolution",
        TxnLog.snapshot(spark, evolved, Some(1L)), txnlog(evolved, Some(1L)),
        25L),
      ("empty DDL-first", TxnLog.snapshot(spark, empty), txnlog(empty), 0L))
    cases.foreach { case (name, snap, viaFormat, n) =>
      assert(snap.schema == viaFormat.schema, name)
      assert(snap.count() == n, name)
      assert(sorted(snap) == sorted(viaFormat), name)
      if (n > 0) {
        val plan = snap.queryExecution.executedPlan
        assert(Plans.collect(plan) { case s: FileSourceScanExec => s }
          .nonEmpty, s"$name: expected a FileSourceScanExec")
        assert(Plans.collect(plan) { case j: BaseJoinExec => j }.isEmpty,
          s"$name: the snapshot plan must hold no join\n$plan")
      }
    }
    assert(TxnLog.snapshot(spark, parted).columns.toSeq ==
      nationX.columns.toSeq, "declared column order, partitions included")
    assert(TxnLog.snapshot(spark, evolved, Some(1L)).columns.toSeq ==
      nationX.columns.toSeq)
  }

  test("q321 keeps its file-pruning require at sf0.001 and its oracle") {
    // the key bands are fractions of the largest key, so the narrow-key
    // merge touches the same few range files at every scale factor
    val name = "q321_txn_sql_merge_recency"
    val got = rowsOf(SparkEntry.queries(name)(spark, sf0001))
    Tables.load(spark, sf0001, "orders").createOrReplaceTempView("orders")
    val want =
      try rowsOf(spark.sql(SparkEntry.oracleSql(name)))
      finally spark.catalog.dropTempView("orders")
    assert(got.map(_.take(2)) == want.map(_.take(2)))
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g(2).asInstanceOf[Double] -
        w(2).asInstanceOf[Double]) < 0.005, s"$g vs $w")
    }
  }

  test("vectorized merge-on-read: DV and mapped reads keep FileSourceScan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec =
      df.queryExecution.executedPlan
        .collectFirst { case s: FileSourceScanExec => s }
        .getOrElse(fail("expected a FileSourceScanExec — the read fell " +
          "back off the vectorized path"))
    val t = freshTable()
    val orders = Tables.load(spark, sf0001, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    TxnLog.create(spark, t,
      orders.repartitionByRange(4, col("o_orderkey")),
      statsCols = Seq("o_orderkey"))
    TxnLog.deleteWhereDV(spark, t, col("o_totalprice") > 300000)
    val expect = orders.filter(col("o_totalprice") <= 300000)
    val df = spark.read.format("txnlog").load(t)
    // 1. plan shape: a real parquet FileSourceScan (vectorized decode,
    // parquet pushdown, log-decided pruning) — DV subtraction no longer
    // costs the external-row relation; only batch HANDOFF is off
    val q = df.filter(col("o_orderkey") <= 7)
    val scan = scanOf(q)
    assert(!scan.supportsColumnar,
      "DV mode row-filters, so the scan hands off rows")
    assert(scan.metadata("PushedFilters").contains("o_orderkey"),
      "parquet row-group pushdown stays live under DVs")
    assert(rowsOf(q.select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")) ==
      rowsOf(expect.filter(col("o_orderkey") <= 7)
        .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")))
    assert(df.count() == expect.count())
    // 2. stats-based file pruning still planned from the log in DV
    // mode: replay the scan's own pushed dataFilters through the index
    assert(scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters)
      .map(_.files.size).sum == 1,
      "narrow-key filter must keep one of four range-clustered files")
    // 3. compact purges DVs; a fresh relation returns to BATCH handoff,
    // and a rename after that keeps it (mapping is a reader-construction
    // rename, zero per-row cost)
    TxnLog.compact(spark, t, targetFiles = 2)
    TxnLog.renameColumn(spark, t, "o_totalprice", "price")
    val m = spark.read.format("txnlog").load(t)
    val mq = m.filter(col("o_orderkey") <= 7)
    assert(scanOf(mq).supportsColumnar,
      "mapped-without-DV reads keep the columnar batch path")
    assert(rowsOf(mq.select("o_orderkey", "price").orderBy("o_orderkey")) ==
      rowsOf(expect.filter(col("o_orderkey") <= 7)
        .select(col("o_orderkey"), col("o_totalprice").as("price"))
        .orderBy("o_orderkey")))
    // 4. DVs landing AFTER a batch-mode view resolved must refuse (the
    // pinned format cannot row-filter) — a fresh view serves them
    val t2 = freshTable()
    TxnLog.create(spark, t2, nation)
    val stale = spark.read.format("txnlog").load(t2)
    stale.count() // force resolution pre-DV
    TxnLog.deleteWhereDV(spark, t2, col("n_nationkey") === 0)
    val e = intercept[Throwable] { stale.count() }
    def messages(x: Throwable): String =
      if (x == null) "" else x.getMessage + " | " + messages(x.getCause)
    assert(messages(e).contains("re-create the view"))
    assert(spark.read.format("txnlog").load(t2).count() ==
      nation.count() - 1)
    // 5. same refusal for a rename landing after resolution
    val stale2 = spark.read.format("txnlog").load(t2)
    TxnLog.renameColumn(spark, t2, "n_name", "nm")
    val e2 = intercept[Throwable] { stale2.count() }
    assert(messages(e2).contains("re-create the view"))
    assert(spark.read.format("txnlog").load(t2)
      .filter(col("nm") === "NATION_3").count() == 1)
  }

  test("compact after rename re-keys stats/blooms to the new names") {
    val t = freshTable()
    val df = spark.range(0, 4000)
      .select(col("id").as("k"), (col("id") % 7).as("v"),
        concat(lit("u"), col("id")).as("tag"))
      .repartitionByRange(8, col("k"))
    TxnLog.create(spark, t, df, statsCols = Seq("k"),
      bloomCols = Seq("tag"))
    TxnLog.renameColumn(spark, t, "k", "key")
    TxnLog.renameColumn(spark, t, "tag", "label")
    // renamed columns are (safely) unprunable on the old files — a
    // probe under the new name keeps every file
    val full = TxnLog.snapshot(spark, t).inputFiles.length
    assert(TxnLog.snapshotWhere(spark, t, "key", 1000L, 1499L)
      .inputFiles.length == full,
      "old files carry stats under the OLD logical name only")
    // compact re-records skipping metadata under the POST-rename
    // logical names (reading the physical columns underneath), so
    // pruning recovers without any caller-side re-mapping
    TxnLog.compact(spark, t, targetFiles = 8, clusterBy = Seq("key"),
      statsCols = Seq("key"), bloomCols = Seq("label"))
    val full2 = TxnLog.snapshot(spark, t).inputFiles.length
    assert(TxnLog.snapshotWhere(spark, t, "key", 1000L, 1499L)
      .inputFiles.length < full2,
      "compact must restore stats pruning on the new name")
    assert(TxnLog.snapshotWhereEq(spark, t, "label", "u17")
      .inputFiles.length < full2,
      "compact must restore bloom pruning on the new name")
    assert(TxnLog.snapshotWhereEq(spark, t, "label", "u17")
      .filter(col("label") === "u17").count() == 1)
    assert(TxnLog.snapshot(spark, t).count() == 4000)
  }

  test("3-column hilbert compact prunes on every clustered column") {
    val t = freshTable()
    // three independent uniform axes: lexicographic range layout would
    // leave b and c scattered across every file
    val df = spark.range(0, 8000).select(
      (col("id") % 97).as("a"), ((col("id") * 31) % 89).as("b"),
      ((col("id") * 57) % 83).as("c"))
    TxnLog.create(spark, t, df)
    TxnLog.compact(spark, t, targetFiles = 16,
      clusterBy = Seq("a", "b", "c"), hilbert = true)
    val full = TxnLog.snapshot(spark, t).inputFiles.length
    assert(full >= 8, s"expected a multi-file layout, got $full")
    for (c <- Seq("a", "b", "c")) {
      val kept = TxnLog.snapshotWhere(spark, t, c, 10L, 14L)
        .inputFiles.length
      assert(kept < full,
        s"hilbert layout must let a single-column probe on $c prune " +
          s"($kept vs $full)")
    }
    // layout-only: the multiset is untouched
    assert(TxnLog.snapshot(spark, t)
      .groupBy("a").count().orderBy("a").collect().toSeq ==
      df.groupBy("a").count().orderBy("a").collect().toSeq)
  }

  test("SQL surface: time travel, MERGE INTO, catalog tables, insert guard") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_regionkey") < 2))
    TxnLog.append(spark, t, nation.filter(col("n_regionkey") >= 2))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_sql_v " +
      s"USING txnlog OPTIONS (path '$t')")
    // VERSION AS OF / TIMESTAMP AS OF resolve through the hint-batch
    // rule onto the pinned read options
    assert(spark.sql("SELECT count(*) FROM txn_sql_v VERSION AS OF 1")
      .head.getLong(0) == nation.filter(col("n_regionkey") < 2).count())
    assert(spark.sql(
      "SELECT count(*) FROM txn_sql_v TIMESTAMP AS OF '2035-01-01'")
      .head.getLong(0) == nation.count())
    // MERGE INTO: updates + inserts as one transactional commit
    nation.filter(col("n_nationkey") < 3)
      .withColumn("n_name", concat(col("n_name"), lit("_M")))
      .unionByName(nation.filter(col("n_nationkey") < 2)
        .withColumn("n_nationkey", col("n_nationkey") + 900))
      .createOrReplaceTempView("txn_sql_src")
    spark.sql(
      """MERGE INTO txn_sql_v USING txn_sql_src
        |ON txn_sql_v.n_nationkey = txn_sql_src.n_nationkey
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(TxnLog.versions(t) == Seq(1L, 2L, 3L),
      "SQL MERGE must be exactly one commit")
    assert(spark.table("txn_sql_v")
      .filter(col("n_name").endsWith("_M")).count() == 3)
    assert(spark.table("txn_sql_v").count() == nation.count() + 2)
    // matched-DELETE is the general clause engine (round 14): one more
    // commit removing exactly the source-matched rows
    spark.sql(
      """MERGE INTO txn_sql_v USING txn_sql_src
        |ON txn_sql_v.n_nationkey = txn_sql_src.n_nationkey
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(TxnLog.versions(t) == Seq(1L, 2L, 3L, 4L))
    assert(spark.table("txn_sql_v").count() == nation.count() - 3,
      "matched DELETE must drop the 3 updated originals and 2 inserts")
    // unsupported MERGE shapes refuse DESCRIPTIVELY (never silently
    // diverge from SQL semantics)
    val e2 = intercept[Exception] { spark.sql(
      """MERGE INTO txn_sql_v USING txn_sql_src
        |ON txn_sql_v.n_nationkey > txn_sql_src.n_nationkey
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin) }
    assert(e2.getMessage.contains("conjunction of equalities"))
    // catalog lifecycle: saveAsTable → spark.table → CACHED-relation
    // INSERT (the guard must land it as a log commit, never raw files)
    val t2 = freshTable()
    spark.sql("DROP TABLE IF EXISTS txn_sql_cat")
    nation.filter(col("n_regionkey") < 2).write.format("txnlog")
      .option("path", t2).saveAsTable("txn_sql_cat")
    assert(spark.table("txn_sql_cat").count() ==
      nation.filter(col("n_regionkey") < 2).count())
    nation.filter(col("n_regionkey") >= 2)
      .createOrReplaceTempView("txn_sql_rest")
    spark.sql("INSERT INTO txn_sql_cat SELECT * FROM txn_sql_rest")
    assert(TxnLog.versions(t2) == Seq(1L, 2L),
      "cached-relation INSERT must be one transactional commit " +
        "(raw-file inserts are invisible to the log)")
    assert(spark.table("txn_sql_cat").count() == nation.count())
    // catalog table supports SQL time travel and MERGE too
    assert(spark.sql("SELECT count(*) FROM txn_sql_cat VERSION AS OF 1")
      .head.getLong(0) == nation.filter(col("n_regionkey") < 2).count())
    // the log's schema outlives the catalog's stored copy (evolution);
    // REFRESH TABLE drops the cached relation so the next resolution
    // reads the evolved declaration — the catalog-table twin of the
    // temp-view "re-create the view" contract
    TxnLog.append(spark, t2, nation.limit(1)
      .withColumn("n_nationkey", col("n_nationkey") + 950)
      .withColumn("extra", lit(7)), mergeSchema = true)
    spark.sql("REFRESH TABLE txn_sql_cat")
    assert(spark.table("txn_sql_cat").columns.contains("extra"))
    assert(spark.table("txn_sql_cat")
      .filter(col("extra") === 7).count() == 1)
    assert(spark.table("txn_sql_cat")
      .filter(col("extra").isNull).count() == nation.count())
    // DROP removes the catalog entry; the table directory survives
    spark.sql("DROP TABLE txn_sql_cat")
    assert(!spark.catalog.tableExists("txn_sql_cat"))
    assert(TxnLog.exists(t2))
    // SQL UPDATE: copy-on-write with update_pre/post CDF journaling
    val t3 = freshTable()
    TxnLog.create(spark, t3, nation)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_dml_v " +
      s"USING txnlog OPTIONS (path '$t3')")
    spark.sql("UPDATE txn_dml_v SET n_name = concat(n_name, '_U') " +
      "WHERE n_regionkey = 2")
    val vU = TxnLog.versions(t3).last
    assert(spark.read.format("txnlog").load(t3)
      .filter(col("n_name").endsWith("_U")).count() ==
      nation.filter(col("n_regionkey") === 2).count())
    assert(TxnLog.changesBetween(spark, t3, vU - 1, vU)
      .filter(col("_change_type") === "update_postimage").count() ==
      nation.filter(col("n_regionkey") === 2).count())
    // SQL DELETE: merge-on-read DV commit — zero files rewritten
    val filesBefore = TxnLog.files(t3)
    spark.sql("DELETE FROM txn_dml_v WHERE n_regionkey = 0")
    assert(TxnLog.files(t3) == filesBefore,
      "SQL DELETE must journal deletion vectors, not rewrite files")
    assert(spark.read.format("txnlog").load(t3).count() ==
      nation.filter(col("n_regionkey") =!= 0).count())
    // NULL-predicate rows are KEPT (SQL semantics)
    spark.sql("DELETE FROM txn_dml_v " +
      "WHERE CASE WHEN n_regionkey = 1 THEN true ELSE CAST(NULL AS " +
      "BOOLEAN) END")
    assert(spark.read.format("txnlog").load(t3).count() ==
      nation.filter(col("n_regionkey") =!= 0).count() -
        nation.filter(col("n_regionkey") === 1).count())
  }

  test("maintenance SQL: VACUUM, OPTIMIZE ZORDER, DESCRIBE HISTORY") {
    val t = freshTable()
    val df = spark.range(0, 4000).select(
      (col("id") % 97).as("a"), ((col("id") * 31) % 89).as("b"),
      col("id").as("k"))
    TxnLog.create(spark, t, df)
    TxnLog.append(spark, t, df.limit(10))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_maint_v " +
      s"USING txnlog OPTIONS (path '$t')")
    // OPTIMIZE ZORDER: one compaction commit, hilbert-clustered, with
    // pruning effective on BOTH zorder columns afterwards
    val opt = spark.sql(
      "OPTIMIZE txn_maint_v ZORDER BY (a, b)").collect()
    assert(opt.length == 1 && opt(0).getLong(1) >= 2L)
    val full = TxnLog.snapshot(spark, t).inputFiles.length
    for (c <- Seq("a", "b"))
      assert(TxnLog.snapshotWhere(spark, t, c, 5L, 9L)
        .inputFiles.length < full, s"zorder must let $c prune")
    assert(TxnLog.snapshot(spark, t).count() == 4010)
    // DESCRIBE HISTORY: every commit, operations labeled
    val hist = spark.sql("DESCRIBE HISTORY txn_maint_v").collect()
    assert(hist.map(_.getLong(0)).toSeq == TxnLog.versions(t))
    assert(hist.map(_.getString(1)).toSeq ==
      Seq("create", "append", "compact"))
    // VACUUM RETAIN 0 HOURS: reclaims the pre-compaction files; the
    // statement returns the swept paths and the head stays readable
    val swept = spark.sql("VACUUM txn_maint_v RETAIN 0 HOURS").collect()
    assert(swept.nonEmpty, "vacuum must reclaim the rewritten files")
    assert(TxnLog.snapshot(spark, t).count() == 4010)
    // quoted-path addressing works without any view
    assert(spark.sql(s"DESCRIBE HISTORY '$t'").count() >= 1)
  }

  test("readStream.format(txnlog): version offsets, rewrite refusal") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_regionkey") < 2))
    TxnLog.append(spark, t, nation.filter(col("n_regionkey") >= 2))
    def runStream(extra: Map[String, String]): Seq[Seq[Any]] = {
      val reader = spark.readStream.format("txnlog").option("path", t)
      val src = extra.foldLeft(reader) { case (r, (k, v)) =>
        r.option(k, v) }.load()
      val qname = "txn_src_" + math.abs(t.hashCode)
      val q = src.groupBy("n_regionkey")
        .agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(qname)
        .outputMode("complete").start()
      try { q.processAllAvailable() }
      finally q.stop()
      rowsOf(spark.table(qname).orderBy("n_regionkey"))
    }
    // exactly-once append replay across both commits
    assert(runStream(Map.empty) ==
      rowsOf(nation.groupBy("n_regionkey").agg(count(lit(1)).as("n"))
        .orderBy("n_regionkey")))
    // startingVersion bounds the initial replay
    assert(runStream(Map("startingVersion" -> "2")) ==
      rowsOf(nation.filter(col("n_regionkey") >= 2)
        .groupBy("n_regionkey").agg(count(lit(1)).as("n"))
        .orderBy("n_regionkey")))
    // a layout-only compaction is invisible; a row-rewriting commit
    // refuses without ignoreChanges and is skipped with it
    TxnLog.compact(spark, t, targetFiles = 2)
    assert(runStream(Map.empty).map(_(1).asInstanceOf[Long]).sum ==
      nation.count())
    TxnLog.upsert(spark, t, nation.limit(2)
      .withColumn("n_name", lit("REWRITTEN")), Seq("n_nationkey"))
    val e = intercept[Throwable] { runStream(Map.empty) }
    def messages(x: Throwable): String =
      if (x == null) "" else x.getMessage + " | " + messages(x.getCause)
    assert(messages(e).contains("ignoreChanges"))
    assert(runStream(Map("ignoreChanges" -> "true"))
      .map(_(1).asInstanceOf[Long]).sum == nation.count(),
      "ignoreChanges must skip the rewrite commit, not duplicate rows")
  }

  test("scheme-agnostic table I/O: full lifecycle through a file:// URI") {
    // every TxnLog operation resolves its FileSystem from the table
    // path's own scheme (the Hadoop API) — the same code path an
    // hdfs:// or object-store table takes; file:// proves the plumbing
    val t = "file:" + freshTable()
    TxnLog.create(spark, t, nation, partitionBy = Seq("n_regionkey"),
      statsCols = Seq("n_nationkey"))
    TxnLog.append(spark, t, spark.range(1)
      .select(lit(900).as("n_nationkey"), lit("URI").as("n_name"),
        lit(9).as("n_regionkey")))
    assert(TxnLog.snapshot(spark, t).count() == nation.count() + 1)
    // partition-scoped merge + CDF
    val ups = nation.filter(col("n_regionkey") === 2)
      .withColumn("n_name", concat(col("n_name"), lit("_U")))
    val vU = TxnLog.upsert(spark, t, ups, Seq("n_nationkey"))
    assert(TxnLog.changesBetween(spark, t, vU - 1, vU)
      .filter(col("_change_type") === "update_postimage").count() ==
      ups.count())
    // merge-on-read delete + metadata count
    TxnLog.deleteWhereDV(spark, t, col("n_name") === "URI")
    assert(TxnLog.countRows(t).contains(nation.count()))
    assert(TxnLog.snapshot(spark, t).count() == nation.count())
    // SQL view over the URI path (DV-aware relation)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_uri_v " +
      s"USING txnlog OPTIONS (path '$t')")
    assert(spark.table("txn_uri_v").count() == nation.count())
    // stats pruning from the log still works through the URI
    assert(TxnLog.snapshotWhere(spark, t, "n_nationkey", 0L, 3L)
      .filter(col("n_nationkey") <= 3).count() == 4)
    // compact purges DVs; the fast HadoopFsRelation path comes back
    TxnLog.compact(spark, t, targetFiles = 1)
    assert(spark.read.format("txnlog").load(t).count() == nation.count())
    // append-feed streaming dir + vacuum lifecycle through the URI
    val swept = TxnLog.vacuum(t, retainVersions = 1, minAgeMs = 0)
    assert(swept.nonEmpty, "vacuum must reclaim the rewritten files")
    assert(TxnLog.snapshot(spark, t).count() == nation.count())
    // history + time-travel guardrails intact
    assert(TxnLog.history(spark, t).count() == TxnLog.versions(t).size)
  }

  test("LogStore: hard-link CAS wins exactly once; rename store excludes") {
    import org.apache.hadoop.fs.{Path => HPath}
    val dir = Files.createTempDirectory("graft_logstore_")
    dir.toFile.deleteOnExit()
    val fs = new org.apache.hadoop.fs.RawLocalFileSystem()
    fs.initialize(new java.net.URI("file:///"),
      new org.apache.hadoop.conf.Configuration())
    val dest = new HPath(s"file:$dir/00001.log")
    val a = "one\n".getBytes("UTF-8")
    assert(graft.sources.LogStore.HardLink.putIfAbsent(fs, dest, a))
    assert(!graft.sources.LogStore.HardLink.putIfAbsent(fs, dest,
      "two\n".getBytes("UTF-8")), "second put of the same version loses")
    assert(new String(Files.readAllBytes(
      Paths.get(dir.toString, "00001.log"))) == "one\n",
      "the loser must not clobber the winner")
    // no temp debris left behind
    assert(!Files.list(dir).anyMatch(
      p => p.getFileName.toString.endsWith(".inprogress")))
    // the rename store publishes and cleans its temp (its EXCLUSION
    // guarantee is HDFS's rename contract — which is exactly why the
    // file:// scheme maps to HardLink, where POSIX rename would
    // silently replace)
    val dest2 = new HPath(s"file:$dir/00002.log")
    assert(graft.sources.LogStore.AtomicRename.putIfAbsent(fs, dest2, a))
    assert(Files.exists(Paths.get(dir.toString, "00002.log")))
    assert(!Files.list(dir).anyMatch(
      p => p.getFileName.toString.endsWith(".inprogress")))
    assert(graft.sources.LogStore.forScheme("file") ==
      graft.sources.LogStore.HardLink)
    assert(graft.sources.LogStore.forScheme("hdfs") ==
      graft.sources.LogStore.AtomicRename)
  }

  test("column mapping: rename is a metadata commit, old files readable") {
    val t = freshTable()
    TxnLog.create(spark, t, nation, statsCols = Seq("n_nationkey"))
    val files0 = TxnLog.files(t)
    TxnLog.renameColumn(spark, t, "n_name", "nation_name")
    assert(TxnLog.files(t) == files0, "rename must rewrite zero files")
    val snap = TxnLog.snapshot(spark, t)
    assert(snap.columns.toSeq ==
      Seq("n_nationkey", "nation_name", "n_regionkey"))
    assert(rowsOf(snap.orderBy("n_nationkey").select("nation_name")) ==
      rowsOf(nation.orderBy("n_nationkey").select("n_name")))
    // time travel returns the OLD logical name
    assert(TxnLog.snapshot(spark, t, Some(1L)).columns.contains("n_name"))
    // post-rename APPEND writes the immutable physical name: one
    // logical column across pre- and post-rename files
    TxnLog.append(spark, t, spark.range(1)
      .select(lit(700).as("n_nationkey"), lit("NEWROW").as("nation_name"),
        lit(9).as("n_regionkey")))
    val snap2 = TxnLog.snapshot(spark, t)
    assert(snap2.count() == nation.count() + 1)
    assert(snap2.filter(col("nation_name") === "NEWROW").count() == 1)
    assert(snap2.filter(col("nation_name").isNull).count() == 0,
      "pre-rename rows must surface through the mapping, not as nulls")
    // MERGE on the renamed table
    TxnLog.upsert(spark, t, spark.range(1)
      .select(lit(0).as("n_nationkey"), lit("PATCH").as("nation_name"),
        lit(0).as("n_regionkey")), Seq("n_nationkey"))
    assert(TxnLog.snapshot(spark, t)
      .filter(col("nation_name") === "PATCH").count() == 1)
    // SQL view routes through the mapped reader
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_map_v " +
      s"USING txnlog OPTIONS (path '$t')")
    assert(spark.table("txn_map_v").count() == nation.count() + 1)
    assert(spark.sql(
      "SELECT count(*) AS n FROM txn_map_v WHERE nation_name = 'PATCH'")
      .head().getLong(0) == 1L)
    // renaming to a name that collides refuses
    intercept[Exception] {
      TxnLog.renameColumn(spark, t, "nation_name", "n_regionkey")
    }
  }

  test("column mapping: drop is metadata; re-added name never resurrects") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    val files0 = TxnLog.files(t)
    TxnLog.dropColumn(spark, t, "n_name")
    assert(TxnLog.files(t) == files0, "drop must rewrite zero files")
    assert(TxnLog.snapshot(spark, t).columns.toSeq ==
      Seq("n_nationkey", "n_regionkey"))
    // re-add the same LOGICAL name via evolution: the sticky mapping
    // property gives it a GUID physical name, so the dropped values
    // inside the old files can never resurface
    TxnLog.append(spark, t,
      nation.select("n_nationkey", "n_regionkey").limit(0)
        .withColumn("n_name", lit("x")), mergeSchema = true)
    assert(TxnLog.snapshot(spark, t)
      .filter(col("n_name").isNotNull).count() == 0,
      "dropped values must not resurrect under a re-added name")
    // fresh writes land under the new physical name and read back
    TxnLog.append(spark, t, spark.range(1)
      .select(lit(800).as("n_nationkey"), lit(9).as("n_regionkey"),
        lit("fresh").as("n_name")))
    val snap = TxnLog.snapshot(spark, t)
    assert(snap.filter(col("n_name") === "fresh").count() == 1)
    assert(snap.count() == nation.count() + 1)
    // time travel: pre-drop snapshots still carry the column + values
    assert(TxnLog.snapshot(spark, t, Some(1L))
      .filter(col("n_name").isNotNull).count() == nation.count())
    // partition columns refuse rename/drop (their values ARE the paths)
    val t2 = freshTable()
    TxnLog.create(spark, t2, nation, partitionBy = Seq("n_regionkey"))
    intercept[Exception] {
      TxnLog.renameColumn(spark, t2, "n_regionkey", "rk")
    }
    intercept[Exception] { TxnLog.dropColumn(spark, t2, "n_regionkey") }
  }

  test("commit CAS under real concurrency: N racing appenders, zero loss") {
    // the round-12 centerpiece is the pluggable put-if-absent; this
    // hammers it with genuinely concurrent writers through the public
    // API — every append must land exactly once, versions must be a
    // contiguous prefix, and the final snapshot must hold every row
    val t = freshTable()
    TxnLog.create(spark, t, nation.limit(1)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey")))
    val writers = 8
    val perWriter = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      val tasks = (0 until writers).map { w =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            // each worker thread needs the active session for ioConf
            org.apache.spark.sql.SparkSession.setActiveSession(spark)
            (0 until perWriter).foreach { i =>
              TxnLog.append(spark, t, spark.range(1)
                .select(lit(1000 + w * 100 + i).as("n_nationkey"),
                  lit(s"W${w}_$i").as("n_name"), lit(w).as("n_regionkey")))
            }
          }
        })
      }
      tasks.foreach(_.get())
    } finally pool.shutdown()
    val vs = TxnLog.versions(t)
    assert(vs == (1L to (1 + writers * perWriter)).toSeq,
      s"every append must land as exactly one contiguous version: $vs")
    val snap = TxnLog.snapshot(spark, t)
    assert(snap.count() == 1 + writers * perWriter)
    assert(snap.filter(col("n_nationkey") >= 1000).distinct().count() ==
      writers * perWriter, "no append may be lost or duplicated")
  }

  test("timestampAsOf resolves the newest commit at-or-before the instant") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_regionkey") < 2))
    Thread.sleep(20) // mtime granularity guard
    val betweenV1V2 = System.currentTimeMillis()
    Thread.sleep(20)
    TxnLog.append(spark, t, nation.filter(col("n_regionkey") >= 2))
    assert(TxnLog.versionAt(t, betweenV1V2) == 1L)
    assert(TxnLog.versionAt(t, System.currentTimeMillis()) == 2L)
    // before the first commit: clean refusal
    intercept[Exception] { TxnLog.versionAt(t, 1L) }
    // reader option: epoch millis and ISO both pin the snapshot
    val n1 = nation.filter(col("n_regionkey") < 2).count()
    assert(spark.read.format("txnlog")
      .option("timestampAsOf", betweenV1V2.toString).load(t)
      .count() == n1)
    assert(spark.read.format("txnlog")
      .option("timestampAsOf",
        java.time.Instant.ofEpochMilli(betweenV1V2).toString).load(t)
      .count() == n1)
  }

  test("writeStream.format(txnlog): first batch creates, replays absorb") {
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("graft_sink_spec_")
    root.toFile.deleteOnExit()
    val t = root.resolve("t").toString
    val src = root.resolve("src")
    Files.createDirectories(src)
    nation.filter(col("n_regionkey") < 2).write.mode("overwrite")
      .parquet(src.resolve("a").toString)
    nation.filter(col("n_regionkey") >= 2).write.mode("overwrite")
      .parquet(src.resolve("b").toString)
    def runOnce(ck: String): Unit = {
      val q = spark.readStream.schema(nation.schema)
        .parquet(src.toString + "/*")
        .writeStream.format("txnlog")
        .option("path", t).option("txnAppId", "spec-sink")
        .option("checkpointLocation", root.resolve(ck).toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce("ck1")
    assert(TxnLog.snapshot(spark, t).count() == nation.count())
    // FRESH checkpoint = every batch re-delivered; markers absorb all
    runOnce("ck2")
    assert(TxnLog.snapshot(spark, t).count() == nation.count(),
      "replayed micro-batches must commit nothing")
    // missing txnAppId refuses; Complete mode refuses
    intercept[Exception] {
      spark.readStream.schema(nation.schema).parquet(src.toString + "/*")
        .writeStream.format("txnlog").option("path", t)
        .option("checkpointLocation", root.resolve("ck3").toString)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
  }

  test("readChangeFeed option serves exactly changesBetween's window") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    TxnLog.upsert(spark, t, nation.filter(col("n_nationkey") < 3)
      .withColumn("n_name", lit("U")), Seq("n_nationkey")) // v2
    TxnLog.deleteWhere(spark, t, col("n_regionkey") === 4) // v3
    val sql = spark.read.format("txnlog")
      .option("readChangeFeed", "true")
      .option("startingVersion", "2").load(t)
    val prog = TxnLog.changesBetween(spark, t, 1L, 3L)
    val order = Seq("_commit_version", "_change_type", "n_nationkey")
    assert(rowsOf(sql.orderBy(order.map(col): _*)) ==
      rowsOf(prog.orderBy(order.map(col): _*)))
    assert(sql.count() > 0)
    // endingVersion bounds the window; default is the head
    assert(spark.read.format("txnlog").option("readChangeFeed", "true")
      .option("startingVersion", "2").option("endingVersion", "2")
      .load(t).select("_commit_version").distinct().count() == 1)
  }

  test("CDF window spanning restore-after-overwritePartitions synthesizes") {
    val t = freshTable()
    TxnLog.create(spark, t, nation, partitionBy = Seq("n_regionkey"))
    val repl = nation.filter(col("n_regionkey") === 2)
      .withColumn("n_name", concat(lit("SWAP_"), col("n_nationkey")))
    val v2 = TxnLog.overwritePartitions(spark, t, repl)
    val v3 = TxnLog.restore(spark, t, 1L)
    // the undo window: the swapped-in rows leave, the originals return
    val w = TxnLog.changesBetween(spark, t, v2, v3)
    val r2n = nation.filter(col("n_regionkey") === 2).count()
    assert(w.filter(col("_change_type") === "delete").count() == r2n)
    assert(w.filter(col("_change_type") === "delete")
      .filter(col("n_name").startsWith("SWAP_")).count() == r2n,
      "deletes must be the swapped-in rows")
    assert(w.filter(col("_change_type") === "insert").count() == r2n)
    assert(w.filter(col("_change_type") === "insert")
      .filter(col("n_name").startsWith("SWAP_")).count() == 0,
      "inserts must be the restored originals")
    // the full window from v1 nets out to zero row-level drift
    val all = TxnLog.changesBetween(spark, t, 1L, v3)
    assert(all.filter(col("_change_type") === "insert").count() ==
      all.filter(col("_change_type") === "delete").count())
  }

  test("shallow clone: zero-copy branch, divergence, compaction severs") {
    val src = freshTable()
    TxnLog.create(spark, src, nation, partitionBy = Seq("n_regionkey"),
      statsCols = Seq("n_nationkey"))
    TxnLog.append(spark, src, spark.range(1)
      .select(lit(900L).cast("int").as("n_nationkey"),
        lit("EXTRA").as("n_name"), lit(9).cast("int").as("n_regionkey")),
      statsCols = Seq("n_nationkey"))
    val dest = freshTable()
    assert(TxnLog.shallowClone(spark, src, dest) == 1L)
    // the clone reads the source snapshot — and its directory holds NO
    // data files, only the log (zero bytes copied)
    assert(rowsOf(TxnLog.snapshot(spark, dest).orderBy("n_nationkey")) ==
      rowsOf(TxnLog.snapshot(spark, src).orderBy("n_nationkey")))
    val destDir = Paths.get(dest)
    def parquetUnder(p: java.nio.file.Path): Long = {
      val s = Files.walk(p)
      try s.filter(_.toString.endsWith(".parquet"))
        .filter(!_.toString.contains("_txn_log")).count()
      finally s.close()
    }
    assert(parquetUnder(destDir) == 0, "clone must copy zero data files")
    // skipping metadata carried over: stats pruning live on the clone
    assert(TxnLog.snapshotWhere(spark, dest, "n_nationkey", 0L, 3L)
      .inputFiles.length <
      TxnLog.snapshot(spark, dest).inputFiles.length)
    // divergence both ways: a write to the clone never touches the
    // source; a write to the source never reaches the clone
    TxnLog.append(spark, dest, spark.range(1)
      .select(lit(901L).cast("int").as("n_nationkey"),
        lit("CLONE_ONLY").as("n_name"),
        lit(1).cast("int").as("n_regionkey")))
    TxnLog.append(spark, src, spark.range(1)
      .select(lit(902L).cast("int").as("n_nationkey"),
        lit("SRC_ONLY").as("n_name"),
        lit(1).cast("int").as("n_regionkey")))
    // mixed-base read: clone-local relative files union the source's
    // absolute references in one scan
    val cloneRows = TxnLog.snapshot(spark, dest)
    assert(cloneRows.count() == nation.count() + 2)
    assert(cloneRows.filter(col("n_name") === "CLONE_ONLY").count() == 1)
    assert(cloneRows.filter(col("n_name") === "SRC_ONLY").count() == 0)
    assert(TxnLog.snapshot(spark, src)
      .filter(col("n_name") === "CLONE_ONLY").count() == 0)
    // the vectorized SQL path plans the same mixed-base file set
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_clone_v " +
      s"USING txnlog OPTIONS (path '$dest')")
    assert(spark.table("txn_clone_v").count() == nation.count() + 2)
    assert(spark.sql(
      "SELECT count(*) FROM txn_clone_v WHERE n_regionkey = 1")
      .head.getLong(0) ==
      nation.filter(col("n_regionkey") === 1).count() + 1)
    // compaction severs the reference: every live file is clone-local
    TxnLog.compact(spark, dest, targetFiles = 1)
    assert(TxnLog.files(dest).forall(f =>
      !f.startsWith("/") && !f.contains(":/")),
      "compact must leave only clone-local relative paths")
    assert(parquetUnder(destDir) >= 1)
    assert(TxnLog.snapshot(spark, dest).count() == nation.count() + 2)
    // a DV-bearing source clones WITH its masks: deleted rows stay
    // deleted through snapshot, SQL, and the clone's own CDF
    val srcDv = freshTable()
    TxnLog.create(spark, srcDv, nation)
    TxnLog.deleteWhereDV(spark, srcDv, col("n_regionkey") === 0)
    val liveN = nation.filter(col("n_regionkey") =!= 0).count()
    val destDv = freshTable()
    TxnLog.shallowClone(spark, srcDv, destDv)
    assert(TxnLog.snapshot(spark, destDv).count() == liveN)
    assert(TxnLog.snapshot(spark, destDv)
      .filter(col("n_regionkey") === 0).count() == 0,
      "cloned deletion vectors must keep masking")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_clone_dv_v " +
      s"USING txnlog OPTIONS (path '$destDv')")
    assert(spark.table("txn_clone_dv_v").count() == liveN)
    // the clone's v1 insert feed must not resurrect the masked rows
    val feed = TxnLog.changesBetween(spark, destDv, 0L, 1L)
    assert(feed.filter(col("_change_type") === "insert").count() ==
      liveN)
    // the clone deletes independently (its own DV journal), and its
    // compact materializes ALL masks away locally
    TxnLog.deleteWhereDV(spark, destDv, col("n_regionkey") === 1)
    assert(TxnLog.snapshot(spark, destDv).count() ==
      nation.filter(col("n_regionkey") >= 2).count())
    assert(TxnLog.snapshot(spark, srcDv).count() == liveN,
      "the clone's delete must never reach the source")
    TxnLog.compact(spark, destDv, targetFiles = 1)
    assert(TxnLog.snapshot(spark, destDv).count() ==
      nation.filter(col("n_regionkey") >= 2).count())
    assert(TxnLog.files(destDv).forall(f =>
      !f.startsWith("/") && !f.contains(":/")))
    // SQL surface: clone at an explicit source version + catalog entry
    val dest2 = freshTable()
    spark.sql("DROP TABLE IF EXISTS txn_clone_cat")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_clone_src_v " +
      s"USING txnlog OPTIONS (path '$src')")
    val out = spark.sql(s"CREATE TABLE txn_clone_cat SHALLOW CLONE " +
      s"txn_clone_src_v VERSION AS OF 1 LOCATION '$dest2'").collect()
    assert(out.length == 1 && out(0).getLong(0) == 1L)
    assert(spark.table("txn_clone_cat").count() == nation.count(),
      "VERSION AS OF 1 pins the pre-append source snapshot")
    spark.sql("DROP TABLE txn_clone_cat")
  }

  test("RESTORE and ALTER TABLE column DDL through SQL") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_regionkey") < 2))
    TxnLog.append(spark, t, nation.filter(col("n_regionkey") >= 2))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_rsql_v " +
      s"USING txnlog OPTIONS (path '$t')")
    // RESTORE TO VERSION AS OF: one new commit, contents roll back
    val r = spark.sql(
      "RESTORE TABLE txn_rsql_v TO VERSION AS OF 1").collect()
    assert(r.length == 1 && r(0).getLong(0) == 1L &&
      r(0).getLong(1) == 3L)
    assert(spark.table("txn_rsql_v").count() ==
      nation.filter(col("n_regionkey") < 2).count())
    // RESTORE TO TIMESTAMP AS OF: lenient date strings resolve to the
    // newest version committed at-or-before the instant — here the
    // restore commit itself, so the rolled-back state is re-affirmed
    // as one more commit
    spark.sql("RESTORE txn_rsql_v TO TIMESTAMP AS OF '2035-01-01'")
    assert(spark.table("txn_rsql_v").count() ==
      nation.filter(col("n_regionkey") < 2).count())
    assert(TxnLog.versions(t).size == 4)
    // roll FORWARD by version: the pre-restore contents come back
    spark.sql("RESTORE txn_rsql_v TO VERSION AS OF 2")
    assert(spark.table("txn_rsql_v").count() == nation.count())
    // ALTER TABLE ADD COLUMN: metadata-only, old rows read as null
    spark.sql("ALTER TABLE txn_rsql_v ADD COLUMN score INT")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_rsql_v " +
      s"USING txnlog OPTIONS (path '$t')")
    assert(spark.table("txn_rsql_v").columns.contains("score"))
    assert(spark.table("txn_rsql_v")
      .filter(col("score").isNull).count() == nation.count())
    TxnLog.append(spark, t, spark.range(1)
      .select(lit(910).cast("int").as("n_nationkey"),
        lit("SCORED").as("n_name"), lit(0).cast("int").as("n_regionkey"),
        lit(7).cast("int").as("score")))
    // RENAME + DROP: mapping commits; the re-created view serves the
    // new shape and the renamed column's values survive
    spark.sql("ALTER TABLE txn_rsql_v RENAME COLUMN score TO quality")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_rsql_v " +
      s"USING txnlog OPTIONS (path '$t')")
    assert(spark.sql(
      "SELECT n_name FROM txn_rsql_v WHERE quality = 7")
      .head.getString(0) == "SCORED")
    spark.sql("ALTER TABLE txn_rsql_v DROP COLUMN quality")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_rsql_v " +
      s"USING txnlog OPTIONS (path '$t')")
    assert(!spark.table("txn_rsql_v").columns.contains("quality"))
    // non-txnlog ALTER TABLE falls through to the stock parser —
    // Spark's own error for its own tables, never ours
    nation.createOrReplaceTempView("plain_nation_v")
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE plain_nation_v ADD COLUMN x INT") }
    assert(!e.getMessage.contains("txnlog"))
  }

  test("CREATE TABLE AS SELECT through the txnlog provider") {
    val t = freshTable()
    spark.sql("DROP TABLE IF EXISTS txn_ctas")
    nation.createOrReplaceTempView("txn_ctas_src")
    spark.sql(s"CREATE TABLE txn_ctas USING txnlog LOCATION '$t' AS " +
      "SELECT n_nationkey, n_name, n_regionkey FROM txn_ctas_src " +
      "WHERE n_regionkey < 3")
    assert(TxnLog.versions(t) == Seq(1L),
      "CTAS must land as exactly the create commit")
    assert(spark.table("txn_ctas").count() ==
      nation.filter(col("n_regionkey") < 3).count())
    // the created table is a first-class txnlog table: DML + history
    spark.sql("DELETE FROM txn_ctas WHERE n_regionkey = 0")
    assert(spark.table("txn_ctas").count() ==
      nation.filter(col("n_regionkey") > 0 && col("n_regionkey") < 3)
        .count())
    spark.sql("DROP TABLE txn_ctas")
    assert(TxnLog.exists(t))
  }

  test("shallow clone carries column mapping, properties, constraints") {
    val src = freshTable()
    TxnLog.create(spark, src, nation)
    // rename BEFORE the constraint: mapping DDL refuses while CHECK
    // expressions (name-referencing) exist — its own guard
    TxnLog.renameColumn(spark, src, "n_name", "nation_name")
    TxnLog.addCheck(spark, src, "key_range", "n_nationkey < 100")
    val dest = freshTable()
    TxnLog.shallowClone(spark, src, dest)
    // the mapped schema serves through the clone: logical rename
    // visible, values read from the physical column in SOURCE files
    val snap = TxnLog.snapshot(spark, dest)
    assert(snap.columns.contains("nation_name") &&
      !snap.columns.contains("n_name"))
    assert(rowsOf(snap.orderBy("n_nationkey")) ==
      rowsOf(nation.withColumnRenamed("n_name", "nation_name")
        .orderBy("n_nationkey")))
    // constraints came over: the clone enforces them on ITS writes
    val e = intercept[Exception] { TxnLog.append(spark, dest,
      spark.range(1).select(lit(500).cast("int").as("n_nationkey"),
        lit("BAD").as("nation_name"),
        lit(0).cast("int").as("n_regionkey"))) }
    assert(e.getMessage.contains("key_range"))
    // sticky columnMapping property came over too
    assert(TxnLog.detail(dest)._6.get("columnMapping").contains("name"))
  }

  test("SHOW PARTITIONS serves live per-partition counts from the log") {
    val t = freshTable()
    TxnLog.create(spark, t, nation, partitionBy = Seq("n_regionkey"))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_showp_v " +
      s"USING txnlog OPTIONS (path '$t')")
    val rows = spark.sql("SHOW PARTITIONS txn_showp_v").collect()
    val expected = nation.groupBy("n_regionkey").count().collect()
      .map(r => s"n_regionkey=${r.get(0)}" -> r.getLong(1)).toMap
    assert(rows.map(r => r.getString(0) -> r.getLong(1)).toMap ==
      expected)
    // counts are LIVE: a DV delete in one partition shrinks only it
    TxnLog.deleteWhereDV(spark, t,
      col("n_regionkey") === 2 && col("n_nationkey") < 10)
    val after = spark.sql("SHOW PARTITIONS txn_showp_v").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val deleted = nation.filter(
      col("n_regionkey") === 2 && col("n_nationkey") < 10).count()
    assert(after("n_regionkey=2") == expected("n_regionkey=2") - deleted)
    assert(after.view.filterKeys(_ != "n_regionkey=2").toMap ==
      expected.view.filterKeys(_ != "n_regionkey=2").toMap)
    // unpartitioned tables refuse descriptively
    val t2 = freshTable()
    TxnLog.create(spark, t2, nation)
    val e = intercept[Exception] {
      spark.sql(s"SHOW PARTITIONS '$t2'").collect() }
    assert(e.getMessage.contains("not partitioned"))
  }

  test("CONVERT TO TXNLOG adopts a parquet directory in place") {
    // flat layout via SQL
    val flat = freshTable()
    nation.repartition(3).write.parquet(flat)
    val out = spark.sql(s"CONVERT TO TXNLOG '$flat'").collect()
    assert(out.length == 1 && out(0).getLong(0) == 1L &&
      out(0).getLong(1) >= 3L)
    assert(rowsOf(TxnLog.snapshot(spark, flat).orderBy("n_nationkey")) ==
      rowsOf(nation.orderBy("n_nationkey")))
    // post-convert the table is first-class: DV delete, time travel
    TxnLog.deleteWhereDV(spark, flat, col("n_regionkey") === 0)
    assert(TxnLog.snapshot(spark, flat).count() ==
      nation.filter(col("n_regionkey") =!= 0).count())
    assert(TxnLog.snapshot(spark, flat, Some(1L)).count() ==
      nation.count())
    // hive-partitioned layout: partition columns in the declared
    // schema, partition-scoped reads work
    val part = freshTable()
    nation.write.partitionBy("n_regionkey").parquet(part)
    TxnLog.convertFromParquet(spark, part)
    val snap = TxnLog.snapshot(spark, part)
    assert(snap.columns.contains("n_regionkey"))
    assert(snap.count() == nation.count())
    assert(snap.filter(col("n_regionkey") === 2).count() ==
      nation.filter(col("n_regionkey") === 2).count())
    // converting twice refuses; converting a non-directory refuses
    val e = intercept[Exception] {
      TxnLog.convertFromParquet(spark, part) }
    assert(e.getMessage.contains("already"))
  }

  test("clone of a clone chains absolute references correctly") {
    val a = freshTable()
    TxnLog.create(spark, a, nation, statsCols = Seq("n_nationkey"))
    val b = freshTable()
    TxnLog.shallowClone(spark, a, b)
    // b diverges with a local write, then clones again: c must see
    // BOTH b's local files (absolute via b) and a's files (absolute
    // strings copied verbatim — abs-of-abs resolves to itself)
    TxnLog.append(spark, b, spark.range(1)
      .select(lit(900).cast("int").as("n_nationkey"),
        lit("B_ONLY").as("n_name"), lit(0).cast("int").as("n_regionkey")))
    val c = freshTable()
    TxnLog.shallowClone(spark, b, c)
    assert(TxnLog.snapshot(spark, c).count() == nation.count() + 1)
    assert(TxnLog.snapshot(spark, c)
      .filter(col("n_name") === "B_ONLY").count() == 1)
    // c copied NOTHING; b holds only its own appended rows' files
    def localParquet(d: String): Long = {
      val st = Files.walk(Paths.get(d))
      try st.filter(p => p.toString.endsWith(".parquet") &&
        !p.toString.contains("_txn_log")).count()
      finally st.close()
    }
    assert(localParquet(c) == 0L, "clone-of-clone must copy zero files")
    assert(localParquet(b) >= 1L)
    // stats pruning still live two hops out
    assert(TxnLog.snapshotWhere(spark, c, "n_nationkey", 0L, 3L)
      .inputFiles.length <= TxnLog.snapshot(spark, c).inputFiles.length)
    // compacting c severs BOTH upstream references
    TxnLog.compact(spark, c, targetFiles = 1)
    assert(TxnLog.files(c).forall(f =>
      !f.startsWith("/") && !f.contains(":/")))
    assert(TxnLog.snapshot(spark, c).count() == nation.count() + 1)
  }

  test("SET/SHOW TBLPROPERTIES and table_changes() through SQL") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_regionkey") < 2))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_props_v " +
      s"USING txnlog OPTIONS (path '$t')")
    // SET TBLPROPERTIES: one metadata commit, sticky, last-wins
    spark.sql("ALTER TABLE txn_props_v SET TBLPROPERTIES " +
      "('owner'='etl', 'retention.hours'='168')")
    spark.sql("ALTER TABLE txn_props_v SET TBLPROPERTIES " +
      "('owner'='pipeline')")
    val props = spark.sql("SHOW TBLPROPERTIES txn_props_v").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props == Map("owner" -> "pipeline",
      "retention.hours" -> "168"))
    assert(TxnLog.versions(t) == Seq(1L, 2L, 3L))
    // non-txnlog SHOW TBLPROPERTIES reaches Spark's own handler
    // (a plain temp view has none of our sticky log properties)
    nation.createOrReplaceTempView("plain_props_v")
    val plain = spark.sql("SHOW TBLPROPERTIES plain_props_v").collect()
      .map(_.getString(0)).toSet
    assert(!plain.contains("owner"),
      "a plain view must not serve the txnlog table's properties")
    // table_changes(): the CDF window inline in SQL
    TxnLog.append(spark, t, nation.filter(col("n_regionkey") >= 2))
    val vA = TxnLog.versions(t).last
    TxnLog.upsert(spark, t, nation.filter(col("n_nationkey") < 2)
      .withColumn("n_name", concat(col("n_name"), lit("_U"))),
      Seq("n_nationkey"))
    val changes = spark.sql(
      s"SELECT _change_type, count(*) AS n FROM " +
        s"table_changes('txn_props_v', $vA) GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(changes("insert") ==
      nation.filter(col("n_regionkey") >= 2).count())
    assert(changes("update_postimage") == 2L &&
      changes("update_preimage") == 2L)
    // path form + explicit end version: just the append window
    val byPath = spark.sql(
      s"SELECT count(*) FROM table_changes('$t', $vA, $vA)")
      .head.getLong(0)
    assert(byPath == nation.filter(col("n_regionkey") >= 2).count())
  }

  test("minreader protocol guard refuses newer-writer logs descriptively") {
    val t = freshTable()
    val log = Paths.get(t, "_txn_log")
    Files.createDirectories(log)
    Files.write(log.resolve(f"${1L}%020d.log"),
      java.util.Arrays.asList("op\tcreate", "minreader\t99",
        "schema\t" + nation.schema.json))
    val e = intercept[Exception] { TxnLog.snapshot(spark, t) }
    assert(e.getMessage.contains("reader version 99"))
    // an unknown ACTION (a future writer without the courtesy bump)
    // refuses too, with the newer-writer hint — never a silent skip
    val t2 = freshTable()
    val log2 = Paths.get(t2, "_txn_log")
    Files.createDirectories(log2)
    Files.write(log2.resolve(f"${1L}%020d.log"),
      java.util.Arrays.asList("op\tcreate",
        "schema\t" + nation.schema.json, "wormhole\tx"))
    val e2 = intercept[Exception] { TxnLog.snapshot(spark, t2) }
    assert(e2.getMessage.contains("newer writer"))
    // a current-build table carries minreader=1 and replays fine
    val t3 = freshTable()
    TxnLog.create(spark, t3, nation)
    assert(TxnLog.snapshot(spark, t3).count() == nation.count())
  }

  test("constraint DDL and DESCRIBE DETAIL through SQL") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_cons_v " +
      s"USING txnlog OPTIONS (path '$t')")
    spark.sql("ALTER TABLE txn_cons_v ADD CONSTRAINT key_range " +
      "CHECK (n_nationkey < 100)")
    def badRow = spark.range(1).select(
      lit(500).cast("int").as("n_nationkey"), lit("BAD").as("n_name"),
      lit(0).cast("int").as("n_regionkey"))
    // the constraint ENFORCES: a violating append refuses
    val e = intercept[Exception] { TxnLog.append(spark, t, badRow) }
    assert(e.getMessage.contains("key_range"))
    // a constraint existing rows violate refuses at ADD time
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE txn_cons_v ADD CONSTRAINT impossible " +
        "CHECK (n_regionkey > 99)") }
    assert(e2.getMessage.contains("impossible"))
    // DESCRIBE DETAIL: head facts straight from the log
    val d = spark.sql("DESCRIBE DETAIL txn_cons_v").collect()(0)
    assert(d.getString(0) == "txnlog")
    assert(d.getLong(2) == TxnLog.versions(t).last)
    assert(d.getLong(3) >= 1L) // n_files
    assert(d.getLong(5) == nation.count()) // n_rows
    assert(d.getLong(8) == 1L) // n_constraints
    // DROP CONSTRAINT stops enforcement
    spark.sql("ALTER TABLE txn_cons_v DROP CONSTRAINT key_range")
    TxnLog.append(spark, t, badRow)
    assert(TxnLog.snapshot(spark, t).count() == nation.count() + 1)
    assert(spark.sql("DESCRIBE DETAIL txn_cons_v")
      .collect()(0).getLong(8) == 0L)
    // dropping an unknown constraint refuses descriptively
    val e3 = intercept[Exception] {
      spark.sql("ALTER TABLE txn_cons_v DROP CONSTRAINT nope") }
    assert(e3.getMessage.contains("no CHECK constraint"))
  }

  test("streaming source maxVersionsPerTrigger bounds each micro-batch") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_nationkey") < 5))
    for (lo <- Seq(5, 10, 15, 20))
      TxnLog.append(spark, t, nation.filter(
        col("n_nationkey") >= lo && col("n_nationkey") < lo + 5))
    val src = spark.readStream.format("txnlog").option("path", t)
      .option("maxVersionsPerTrigger", "2").load()
    val qname = "txn_rate_" + math.abs(t.hashCode)
    val q = src.writeStream.format("memory").queryName(qname)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table(qname).count() == nation.count(),
      "rate limiting must not lose or duplicate rows")
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 3,
      s"5 versions at 2/trigger need >= 3 non-empty micro-batches, " +
        s"got ${batches.length}")
  }

  test("streaming a DV-carrying clone serves the masked initial snapshot") {
    val src = freshTable()
    TxnLog.create(spark, src, nation)
    TxnLog.deleteWhereDV(spark, src, col("n_nationkey") < 5)
    val dest = freshTable()
    TxnLog.shallowClone(spark, src, dest)
    // the clone's v1 carries adds AND the DVs that mask them — an
    // initial snapshot, NOT a rewrite: the stream must serve it (minus
    // the masked rows) without demanding ignoreChanges, like Delta's
    // source serving a cloned snapshot with DVs applied
    val s = spark.readStream.format("txnlog").option("path", dest).load()
    val qname = "txn_dvclone_" + math.abs(dest.hashCode)
    val q = s.writeStream.format("memory").queryName(qname)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table(qname).count() == nation.count() - 5,
      "clone stream must apply the commit's own deletion vectors")
    assert(spark.table(qname).filter(col("n_nationkey") < 5).count() == 0)
  }

  test("clone-chain CDF: the clone's feed is its own log, source invisible") {
    val src = freshTable()
    TxnLog.create(spark, src, nation)
    TxnLog.deleteWhereDV(spark, src, col("n_nationkey") >= 20)
    val dest = freshTable()
    TxnLog.shallowClone(spark, src, dest)
    // the SOURCE advancing after the clone must be invisible to every
    // clone-side change consumer (the clone's history starts at ITS v1)
    TxnLog.append(spark, src, spark.range(1)
      .select(lit(800).cast("int").as("n_nationkey"),
        lit("SRC_AFTER").as("n_name"), lit(0).cast("int").as("n_regionkey")))
    // window (0, 1]: the clone commit synthesizes inserts from its adds
    // with its own DVs subtracted — the masked rows never appear
    val v1 = TxnLog.changesBetween(spark, dest, 0L, 1L)
    assert(v1.count() == 20,
      "clone v1 feed = source snapshot minus cloned deletion vectors")
    assert(v1.filter(col("_change_type") =!= "insert").count() == 0)
    assert(v1.filter(col("n_name") === "SRC_AFTER").count() == 0)
    // the clone's OWN later commits journal normally on top
    TxnLog.upsert(spark, dest, nation.filter(col("n_nationkey") === 3)
      .withColumn("n_name", lit("CLONE_EDIT")), Seq("n_nationkey"))
    val all = TxnLog.changesBetween(spark, dest, 0L, 2L)
    assert(all.filter(col("_commit_version") === 2L &&
      col("_change_type") === "update_postimage").count() == 1)
    assert(all.filter(col("n_name") === "SRC_AFTER").count() == 0,
      "source commits after the clone must never enter the clone's feed")
    // table_changes() — the SQL spelling — sees the same window
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_chaincdf_v " +
      s"USING txnlog OPTIONS (path '$dest')")
    assert(spark.sql(
      s"SELECT count(*) FROM table_changes('$dest', 1, 1)")
      .head.getLong(0) == 20)
  }

  test("general MERGE: clause conditions, matched DELETE, ordering, CDF") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_gm_v " +
      s"USING txnlog OPTIONS (path '$t')")
    // source: key 0 flagged for delete; keys 1,2 updates (1 recent,
    // 2 stale); keys 900 (insert) and 901 (op='D' — must NOT insert)
    spark.createDataFrame(Seq(
      (0, "X", 99, "D"), (1, "FRESH", 7, "U"), (2, "STALE", -1, "U"),
      (900, "NEW", 5, "U"), (901, "DEAD", 5, "D")))
      .toDF("k", "name", "r", "op")
      .createOrReplaceTempView("txn_gm_src")
    spark.sql(
      """MERGE INTO txn_gm_v t USING txn_gm_src s
        |ON t.n_nationkey = s.k
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED AND s.r >= 0 THEN
        |  UPDATE SET n_name = s.name, n_regionkey = s.r
        |WHEN NOT MATCHED AND s.op <> 'D' THEN
        |  INSERT (n_nationkey, n_name) VALUES (s.k, s.name)""".stripMargin)
    val out = TxnLog.snapshot(spark, t)
    assert(out.filter(col("n_nationkey") === 0).count() == 0, "matched DELETE")
    assert(rowsOf(out.filter(col("n_nationkey") === 1)
      .select("n_name", "n_regionkey")) == Seq(Seq("FRESH", 7)))
    // key 2's clause condition failed and no later clause may re-fire
    assert(out.filter(col("n_nationkey") === 2)
      .head.getString(1) != "STALE", "guarded update must skip stale rows")
    assert(rowsOf(out.filter(col("n_nationkey") === 900)
      .select("n_name")) == Seq(Seq("NEW")))
    assert(out.filter(col("n_nationkey") === 900).head.isNullAt(2),
      "INSERT column list leaves unassigned columns null")
    assert(out.filter(col("n_nationkey") === 901).count() == 0,
      "conditional INSERT must skip op='D' rows")
    assert(out.count() == nation.count() - 1 + 1)
    assert(TxnLog.versions(t) == Seq(1L, 2L),
      "general MERGE must land as one transactional commit")
    // CDF: delete for key 0, pre/post for key 1, insert for 900 — and
    // NOTHING for the stale key 2
    val cdf = TxnLog.changesBetween(spark, t, 1L, 2L)
    assert(cdf.filter(col("_change_type") === "delete").count() == 1)
    assert(cdf.filter(col("n_nationkey") === 1 &&
      col("_change_type").startsWith("update_")).count() == 2)
    assert(cdf.filter(col("_change_type") === "insert").count() == 1)
    assert(cdf.filter(col("n_nationkey") === 2).count() == 0)
  }

  test("general MERGE: NOT MATCHED BY SOURCE, recency guard, dup refusal") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_gm2_v " +
      s"USING txnlog OPTIONS (path '$t')")
    spark.createDataFrame(Seq((0, "KEEP0"), (1, "KEEP1")))
      .toDF("k", "name").createOrReplaceTempView("txn_gm2_src")
    // prune everything the source does not mention, bump what it does
    spark.sql(
      """MERGE INTO txn_gm2_v t USING txn_gm2_src s
        |ON t.n_nationkey = s.k
        |WHEN MATCHED THEN UPDATE SET n_name = s.name
        |WHEN NOT MATCHED BY SOURCE AND t.n_regionkey <> 2 THEN DELETE
        |""".stripMargin)
    val out = TxnLog.snapshot(spark, t)
    val expected = nation.filter(col("n_regionkey") === 2 &&
      !col("n_nationkey").isin(0, 1)).count() + 2
    assert(out.count() == expected,
      "NMBS DELETE must prune exactly the unguarded unmatched rows")
    assert(rowsOf(out.filter(col("n_nationkey") === 1).select("n_name")) ==
      Seq(Seq("KEEP1")))
    // duplicate source keys matching one target row refuse (SQL's
    // cardinality rule), raised from inside the plan
    spark.createDataFrame(Seq((1, "A"), (1, "B"))).toDF("k", "name")
      .createOrReplaceTempView("txn_gm2_dup")
    val e = intercept[Exception] { spark.sql(
      """MERGE INTO txn_gm2_v t USING txn_gm2_dup s
        |ON t.n_nationkey = s.k
        |WHEN MATCHED THEN UPDATE SET n_name = s.name""".stripMargin) }
    def rootMsg(x: Throwable): String =
      (Iterator.iterate(x)(_.getCause).takeWhile(_ != null)
        .map(m => Option(m.getMessage).getOrElse("")).mkString(" | "))
    assert(rootMsg(e).contains("multiple source rows"), rootMsg(e))
    // a non-equality ON refuses descriptively
    val e2 = intercept[Exception] { spark.sql(
      """MERGE INTO txn_gm2_v t USING txn_gm2_src s
        |ON t.n_nationkey < s.k
        |WHEN MATCHED THEN UPDATE SET n_name = s.name""".stripMargin) }
    assert(e2.getMessage.contains("conjunction of equalities"))
  }

  /** Every regular file under a table directory. */
  private def filesUnder(t: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(Paths.get(t))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(_.toString).toSet
    finally s.close()
  }

  private val setV = TxnLog.MergeClause(None, isDelete = false,
    Seq("v" -> col("__s.v")))
  private val insertKV = TxnLog.MergeClause(None, isDelete = false,
    Seq("k" -> col("__s.k"), "v" -> col("__s.v")))

  test("general MERGE scans its touched files once and pins nothing after") {
    val t = freshTable()
    val n = 400
    TxnLog.create(spark, t, spark.range(n).select(
      col("id").cast("int").as("k"), (col("id") * 2).cast("int").as("v")))
    val src = spark.createDataFrame(
      (0 until 50).map(k => (k, -k)) ++ (1000 until 1010).map(k => (k, k)))
      .toDF("k", "v")
    val sc = spark.sparkContext
    val pinnedBefore = sc.getPersistentRDDs.keySet
    // rows read by stages that scan files: a stage reading stored blocks
    // counts those rows as input too, so it is left out
    val scanned = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          scanned.addAndGet(e.stageInfo.taskMetrics.inputMetrics.recordsRead)
    }
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(l)
    try TxnLog.merge(spark, t, src, keys = Seq("k"),
      matched = Seq(setV), notMatched = Seq(insertKV))
    finally {
      org.apache.spark.ListenerDrain(sc)
      sc.removeSparkListener(l)
    }
    assert(scanned.get == n,
      s"merge scanned ${scanned.get} rows of a $n-row target")
    assert((sc.getPersistentRDDs.keySet -- pinnedBefore).isEmpty,
      "merge left a persisted RDD behind")
    assert(TxnLog.snapshot(spark, t).count() == n + 10)
    val cdf = TxnLog.changesBetween(spark, t, 1L, 2L)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cdf == Map("update_preimage" -> 50L, "update_postimage" -> 50L,
      "insert" -> 10L))
  }

  test("a refused duplicate-key MERGE leaves no version, file or pin") {
    val t = freshTable()
    TxnLog.create(spark, t, spark.range(100).select(
      col("id").cast("int").as("k"), lit(0).as("v")))
    val files = filesUnder(t)
    val sc = spark.sparkContext
    val pinnedBefore = sc.getPersistentRDDs.keySet
    val dup = spark.createDataFrame(Seq((1, 5), (1, 6), (500, 7)))
      .toDF("k", "v")
    // uncoalesced shuffle partitions: the tasks that hold no duplicate
    // can commit their files before the job fails
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false")
    val e = try intercept[Exception](TxnLog.merge(spark, t, dup,
      keys = Seq("k"), matched = Seq(setV), notMatched = Seq(insertKV)))
    finally spark.conf.unset(coalesce)
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(x => String.valueOf(x.getMessage))
      .mkString(" | ")
    assert(msgs.contains("multiple source rows"), msgs)
    assert(TxnLog.versions(t) == Seq(1L))
    assert(filesUnder(t) == files, "a refused merge left staged files")
    assert((sc.getPersistentRDDs.keySet -- pinnedBefore).isEmpty,
      "a refused merge left a persisted RDD behind")
  }

  test("DV delete and update release their victim pin on every path") {
    val t = freshTable()
    TxnLog.create(spark, t, spark.range(100).select(
      col("id").cast("int").as("k"), lit(0).as("v")))
    TxnLog.addCheck(spark, t, "v_small", "v < 10")
    val sc = spark.sparkContext
    def pinsLeftBy(body: => Any) = {
      val before = sc.getPersistentRDDs.keySet
      body
      sc.getPersistentRDDs.keySet -- before
    }
    assert(pinsLeftBy(TxnLog.deleteWhereDV(spark, t, col("k") < 10)).isEmpty,
      "a matching DV delete left a persisted RDD behind")
    assert(pinsLeftBy(TxnLog.deleteWhereDV(spark, t, col("k") > 1000)).isEmpty,
      "a DV delete that matched nothing left a persisted RDD behind")
    assert(pinsLeftBy(TxnLog.updateWhereDV(spark, t, col("k") === 50,
      Seq("v" -> lit(5)))).isEmpty, "a DV update left a persisted RDD behind")
    val refused = pinsLeftBy(intercept[Exception](TxnLog.updateWhereDV(
      spark, t, col("k") === 60, Seq("v" -> lit(99)))))
    assert(refused.isEmpty, "a refused DV update left a persisted RDD behind")
    assert(TxnLog.snapshot(spark, t).count() == 90)
    assert(TxnLog.snapshot(spark, t).filter(col("v") === 5).count() == 1)
  }

  /** The action lines of version `v` of table `t`. */
  private def logLines(t: String, v: Long): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get(t, "_txn_log", f"$v%020d.log")).asScala.toSeq
  }

  test("merge key tuples prune jointly: stats on one key, bloom on the other") {
    val t = freshTable()
    val day0 = java.time.LocalDate.of(2024, 1, 1)
    def day(n: Int) = java.sql.Date.valueOf(day0.plusDays(n))
    // the history ends the day before day0 and holds AA, BB and CC
    val hist = for (s <- Seq("AA", "BB", "CC"); d <- -100 until 0)
      yield (s, day(d), d.toDouble)
    TxnLog.create(spark, t, spark.createDataFrame(hist)
      .toDF("symbol", "date", "close").coalesce(1),
      statsCols = Seq("date"), bloomCols = Seq("symbol"))
    val history = TxnLog.files(t)
    // old symbols on new dates, a new listing on old dates: the batch's
    // dates overlap the history's and AA is in its bloom, yet no tuple
    // passes both tests
    val batch = spark.createDataFrame(Seq(("AA", day(0), 1.0),
      ("BB", day(1), 2.0), ("ZZ", day(-50), 3.0), ("ZZ", day(-49), 4.0)))
      .toDF("symbol", "date", "close")
    val all = Seq("symbol", "date", "close").map(c => c -> col(s"__s.$c"))
    val v = TxnLog.merge(spark, t, batch, Seq("symbol", "date"),
      matched = Seq(TxnLog.MergeClause(None, isDelete = false, all)),
      notMatched = Seq(TxnLog.MergeClause(None, isDelete = false, all)))
    assert(history.forall(TxnLog.files(t).contains),
      "a merge whose tuples miss the history must not touch its file")
    assert(!logLines(t, v).exists(l =>
      l.startsWith("remove\t") || l.startsWith("dv")), logLines(t, v))
    assert(TxnLog.snapshot(spark, t).count() == 304)
  }

  test("one merge masks a lightly touched file and copies a heavy one") {
    val t = freshTable()
    def rows(lo: Int, hi: Int) = spark.range(lo, hi).select(
      col("id").cast("int").as("k"), (col("id") * 2).cast("int").as("v"))
      .coalesce(1)
    TxnLog.create(spark, t, rows(0, 300), statsCols = Seq("k"))
    TxnLog.append(spark, t, rows(1000, 1010))
    TxnLog.setProperties(spark, t, Map(TxnLog.RowTrackKey -> "true"))
    val Seq(big, small) = TxnLog.files(t)
    val v0 = TxnLog.versions(t).last
    def table(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v").collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    val before = table(TxnLog.snapshot(spark, t))
    def ids() = TxnLog.snapshotWithRowIds(spark, t).select("k", "_row_id")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val idsBefore = ids()
    // one key of the 300-row file (1/300: masked), four of the 10-row
    // file (4/10: copied), one new key beyond every file
    val src = spark.createDataFrame(Seq((5, -5), (1000, -1), (1001, -1),
      (1002, -1), (1003, -1), (5000, 50))).toDF("k", "v")
    val v = TxnLog.merge(spark, t, src, keys = Seq("k"),
      matched = Seq(setV), notMatched = Seq(insertKV))
    val lines = logLines(t, v)
    assert(lines.contains(s"dvcount\t$big\t1"), lines)
    assert(lines.count(_.startsWith("dv\t")) == 1, lines)
    assert(lines.contains(s"remove\t$small") &&
      !lines.contains(s"remove\t$big"), lines)
    val want = before ++ Seq(5 -> -5, 5000 -> 50) ++
      (1000 to 1003).map(_ -> -1)
    assert(table(TxnLog.snapshot(spark, t)) == want)
    assert(TxnLog.countRows(t) == Some(want.size.toLong))
    val cdf = TxnLog.changesBetween(spark, t, v - 1, v)
      .select("_change_type", "k", "v").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(cdf == (Seq(5, 1000, 1001, 1002, 1003).flatMap(k =>
      Seq(("update_preimage", k, before(k)), ("update_postimage", k, want(k))))
      :+ (("insert", 5000, 50))).toSet)
    // the masked file's kept rows keep their row ids
    val idsAfter = ids()
    (0 until 300).filter(_ != 5).foreach(k =>
      assert(idsAfter(k) == idsBefore(k), s"row id of kept row $k moved"))
    assert(idsAfter.values.toSet.size == want.size, "row ids must be unique")
    assert(table(TxnLog.snapshot(spark, t, Some(v0))) == before)
    TxnLog.vacuum(t, retainVersions = 1, minAgeMs = 0L)
    assert(!Files.exists(Paths.get(t, small)), "vacuum must delete the copied file")
    assert(table(TxnLog.snapshot(spark, t)) == want)
  }

  test("a file's bloom is sized to the values it holds") {
    val t = freshTable()
    TxnLog.create(spark, t, spark.range(300).select(
      concat(lit("s"), col("id")).as("sym"), col("id").as("k")).coalesce(1),
      bloomCols = Seq("sym"))
    val bloom = logLines(t, 1L).filter(_.startsWith("bloom\t"))
    assert(bloom.size == 1, bloom)
    val m = bloom.head.split('\t')(3).toInt
    assert(m <= (1 << 15), s"a 300-value file's bloom has $m bits")
    (0 until 300).foreach(i => assert(
      TxnLog.snapshotWhereEq(spark, t, "sym", s"s$i").inputFiles.length == 1,
      s"committed value s$i must probe positive"))
  }

  test("planning a snapshot over a fresh deletion vector starts no job") {
    val t = freshTable()
    TxnLog.create(spark, t, spark.range(100)
      .select(col("id").cast("int").as("k")).coalesce(1))
    TxnLog.deleteWhereDV(spark, t, col("k") < 10)
    TxnLog.clearStateCaches() // decode the committed DV file from disk
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(l)
    val got = try TxnLog.snapshot(spark, t).collect()
    finally {
      org.apache.spark.ListenerDrain(sc)
      sc.removeSparkListener(l)
    }
    assert(got.length == 90)
    assert(jobs.get == 1, s"${jobs.get} jobs: planning decoded the DV " +
      "file with a Spark job")
  }

  test("general MERGE prunes files on the merge keys") {
    val t = freshTable()
    TxnLog.create(spark, t,
      nation.repartitionByRange(5, col("n_nationkey")),
      statsCols = Seq("n_nationkey"))
    val before = TxnLog.files(t)
    assert(before.size >= 4)
    // a narrow-key conditional merge must rewrite only the files whose
    // stats admit the keys — NOT the whole table
    TxnLog.merge(spark, t,
      spark.createDataFrame(Seq((0, "Z0"), (1, "Z1")))
        .toDF("n_nationkey", "name"),
      keys = Seq("n_nationkey"),
      matched = Seq(TxnLog.MergeClause(None, isDelete = false,
        Seq("n_name" -> col("__s.name")))),
      notMatched = Nil)
    val after = TxnLog.files(t)
    assert(before.toSet.intersect(after.toSet).size >= before.size - 1,
      s"narrow merge must keep most files live untouched: " +
        s"${before.size} -> kept ${before.toSet.intersect(after.toSet).size}")
    val out = TxnLog.snapshot(spark, t)
    assert(rowsOf(out.filter(col("n_nationkey") <= 1)
      .orderBy("n_nationkey").select("n_name")) ==
      Seq(Seq("Z0"), Seq("Z1")))
    assert(out.count() == nation.count())
    // an all-update merge with no not-matched clause DROPS no rows in
    // untouched files (they were never read)
    assert(out.filter(col("n_nationkey") > 1).count() ==
      nation.filter(col("n_nationkey") > 1).count())
  }

  test("ADD COLUMNS with DEFAULT: pre-evolution rows read the default") {
    import org.apache.spark.sql.types.{IntegerType, StringType}
    val t = freshTable()
    TxnLog.create(spark, t, nation) // these files lack the new columns
    TxnLog.addColumns(spark, t, Seq(
      ("quality", IntegerType, Some("7")),
      ("tag", StringType, Some("'legacy'"))))
    // programmatic snapshot: every pre-evolution row surfaces the
    // DEFAULT (not null) — the parquet reader fills footer-missing
    // columns from the schema's existence-default metadata
    val snap = TxnLog.snapshot(spark, t)
    assert(snap.filter(col("quality") === 7).count() == nation.count())
    assert(snap.filter(col("tag") === "legacy").count() == nation.count())
    // post-evolution writes supply the columns; genuine nulls STAY null
    TxnLog.append(spark, t, nation.limit(2)
      .withColumn("n_nationkey", col("n_nationkey") + 500)
      .withColumn("quality", lit(1))
      .withColumn("tag", lit(null).cast("string")))
    val s2 = TxnLog.snapshot(spark, t)
    assert(s2.filter(col("n_nationkey") >= 500 &&
      col("tag").isNull).count() == 2)
    assert(s2.filter(col("tag") === "legacy").count() == nation.count())
    // the vectorized SQL relation serves the same values
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_dflt_v " +
      s"USING txnlog OPTIONS (path '$t')")
    assert(spark.table("txn_dflt_v")
      .filter(col("quality") === 7).count() == nation.count())
    // a non-constant or non-castable DEFAULT fails the DDL, not reads
    val e = intercept[Exception] { TxnLog.addColumns(spark, t,
      Seq(("bad", IntegerType, Some("'not a number'")))) }
    assert(e.getMessage.contains("does not cast"))
  }

  test("DDL-first CREATE TABLE: empty schema-born table, then load") {
    val t = freshTable()
    val r = spark.sql(s"CREATE TABLE txn_ddl_t (n_nationkey INT, " +
      s"n_name STRING, n_regionkey INT) USING txnlog " +
      s"PARTITIONED BY (n_regionkey) LOCATION '$t'").collect()
    assert(r.length == 1 && r(0).getLong(0) == 1L)
    assert(TxnLog.versions(t) == Seq(1L))
    // empty reads serve the DECLARED schema through both paths
    assert(TxnLog.snapshot(spark, t).count() == 0)
    assert(TxnLog.snapshot(spark, t).columns.toSeq ==
      Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(spark.table("txn_ddl_t").count() == 0)
    // double-create refuses; IF NOT EXISTS is the idempotent form
    val e = intercept[Exception] { spark.sql(
      s"CREATE TABLE txn_ddl_t2 (a INT) USING txnlog LOCATION '$t'") }
    assert(e.getMessage.contains("already exists"))
    spark.sql(s"CREATE TABLE IF NOT EXISTS txn_ddl_t " +
      s"(n_nationkey INT, n_name STRING, n_regionkey INT) " +
      s"USING txnlog LOCATION '$t'") // no-op
    assert(TxnLog.versions(t) == Seq(1L))
    // the first load validates against the declaration and lands in
    // the DECLARED hive layout (partition cols from the log property)
    nation.createOrReplaceTempView("txn_ddl_src")
    spark.sql("INSERT INTO txn_ddl_t SELECT * FROM txn_ddl_src")
    assert(TxnLog.versions(t) == Seq(1L, 2L))
    assert(TxnLog.files(t).forall(_.contains("n_regionkey=")),
      s"files must land hive-partitioned: ${TxnLog.files(t).take(3)}")
    assert(spark.table("txn_ddl_t").count() == nation.count())
    assert(spark.sql(
      "SELECT count(*) FROM txn_ddl_t WHERE n_regionkey = 2")
      .head.getLong(0) == nation.filter(col("n_regionkey") === 2).count())
    // a drifted batch refuses like any append
    val e2 = intercept[Exception] { TxnLog.append(spark, t,
      nation.withColumn("extra", lit(1))) }
    assert(e2.getMessage.contains("undeclared"))
    spark.sql("DROP TABLE txn_ddl_t")
  }

  test("SQL ADD COLUMNS: multi-column with DEFAULTs in one commit") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_addc_v " +
      s"USING txnlog OPTIONS (path '$t')")
    val v = spark.sql("ALTER TABLE txn_addc_v ADD COLUMNS " +
      "(score DECIMAL(10,2) DEFAULT 9.50, tag STRING DEFAULT 'legacy', " +
      "note STRING)").collect()
    assert(v.length == 1 && v(0).getLong(0) == 2L,
      "multi-column ADD COLUMNS must be ONE metadata commit")
    // temp views pin their schema at creation — re-create to serve the
    // evolved shape (the documented contract, same as every other
    // schema DDL)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_addc_v " +
      s"USING txnlog OPTIONS (path '$t')")
    val out = spark.table("txn_addc_v")
    assert(out.columns.toSeq.takeRight(3) == Seq("score", "tag", "note"))
    assert(out.filter(col("tag") === "legacy").count() == nation.count())
    assert(out.filter(col("score") === 9.5).count() == nation.count())
    assert(out.filter(col("note").isNull).count() == nation.count())
    assert(TxnLog.files(t).size ==
      TxnLog.snapshot(spark, t).inputFiles.length,
      "ADD COLUMNS must rewrite zero files")
  }

  test("append fills missing DEFAULT-bearing columns (INSERT-time half)") {
    import org.apache.spark.sql.types.{IntegerType, StringType}
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    TxnLog.addColumns(spark, t, Seq(
      ("quality", IntegerType, Some("7")),
      ("note", StringType, None))) // no default
    // a writer that predates the evolution appends WITHOUT the new
    // columns: quality takes its CURRENT_DEFAULT, but note (no
    // default) still refuses — the missing-column contract is intact
    val e = intercept[Exception] { TxnLog.append(spark, t, nation
      .withColumn("n_nationkey", col("n_nationkey") + 300)) }
    assert(e.getMessage.contains("note"))
    TxnLog.dropColumn(spark, t, "note")
    TxnLog.append(spark, t, nation
      .withColumn("n_nationkey", col("n_nationkey") + 300))
    val snap = TxnLog.snapshot(spark, t)
    assert(snap.filter(col("n_nationkey") >= 300 &&
      col("quality") === 7).count() == nation.count(),
      "rows from a default-unaware writer must take the default")
    // an explicit value (including NULL) always wins over the default
    TxnLog.append(spark, t, nation.limit(1)
      .withColumn("n_nationkey", col("n_nationkey") + 700)
      .withColumn("quality", lit(null).cast("int")))
    assert(TxnLog.snapshot(spark, t)
      .filter(col("n_nationkey") >= 700).head.isNullAt(3))
  }

  test("type widening is a metadata commit; old int files read as long") {
    val t = freshTable()
    TxnLog.create(spark, t, nation, statsCols = Seq("n_nationkey"))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_widen_v " +
      s"USING txnlog OPTIONS (path '$t')")
    spark.sql("ALTER TABLE txn_widen_v ALTER COLUMN n_nationkey " +
      "TYPE BIGINT")
    assert(TxnLog.files(t).size ==
      TxnLog.snapshot(spark, t).inputFiles.length,
      "widening must rewrite zero files")
    // pre-widening int32 files decode as LONG (parquet reader
    // promotion) through both read paths
    val snap = TxnLog.snapshot(spark, t)
    assert(snap.schema("n_nationkey").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(snap.agg(sum(col("n_nationkey"))).head.getLong(0) ==
      nation.agg(sum(col("n_nationkey").cast("long"))).head.getLong(0))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_widen_v " +
      s"USING txnlog OPTIONS (path '$t')")
    assert(spark.table("txn_widen_v").schema("n_nationkey").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(spark.sql("SELECT sum(n_nationkey) FROM txn_widen_v")
      .head.getLong(0) == snap.agg(sum("n_nationkey")).head.getLong(0))
    // post-widening appends carry genuinely long values
    TxnLog.append(spark, t, spark.range(1).select(
      lit(9000000000L).as("n_nationkey"), lit("BIG").as("n_name"),
      lit(0).cast("int").as("n_regionkey")))
    assert(TxnLog.snapshot(spark, t)
      .filter(col("n_nationkey") === 9000000000L).count() == 1)
    // stats skipping stays live across the widening (canonical longs)
    assert(TxnLog.snapshotWhere(spark, t, "n_nationkey", 0L, 3L)
      .inputFiles.length <= TxnLog.snapshot(spark, t).inputFiles.length)
    // lossy changes refuse descriptively; time travel serves the OLD type
    val e = intercept[Exception] { TxnLog.widenColumn(spark, t,
      "n_name", org.apache.spark.sql.types.IntegerType) }
    assert(e.getMessage.contains("lossless"))
    assert(TxnLog.snapshot(spark, t, Some(1L))
      .schema("n_nationkey").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }

  test("general MERGE prunes partitions when partition cols are keys") {
    val t = freshTable()
    TxnLog.create(spark, t, nation, partitionBy = Seq("n_regionkey"))
    val before = TxnLog.files(t)
    // keyed on (n_regionkey, n_nationkey): equal keys imply equal
    // partition values, so only region 2's files may be touched
    TxnLog.merge(spark, t,
      spark.createDataFrame(Seq((2, 12, "EDITED"), (2, 908, "NEWROW")))
        .toDF("r", "k", "name"),
      keys = Seq("n_regionkey", "n_nationkey"),
      matched = Seq(TxnLog.MergeClause(None, isDelete = false,
        Seq("n_name" -> col("__s.name")))),
      notMatched = Seq(TxnLog.MergeClause(None, isDelete = false,
        Seq("n_nationkey" -> col("__s.k"),
          "n_name" -> col("__s.name"),
          "n_regionkey" -> col("__s.r")))),
      sourceKeys = Seq("r", "k"))
    val after = TxnLog.files(t)
    assert(before.filterNot(_.contains("n_regionkey=2"))
      .forall(after.contains),
      "files outside the touched partition must stay live untouched")
    val out = TxnLog.snapshot(spark, t)
    assert(out.filter(col("n_nationkey") === 12).head.getString(1) ==
      "EDITED")
    assert(out.filter(col("n_nationkey") === 908).count() == 1)
    assert(out.count() == nation.count() + 1)
  }

  test("general MERGE: constraints enforced, mapping + DV interplay") {
    // CHECK constraints gate the merge's rewrite like every writer
    val t = freshTable()
    TxnLog.create(spark, t, nation,
      checks = Seq(("key_range", "n_nationkey < 1000")))
    val e = intercept[Exception] { TxnLog.merge(spark, t,
      spark.createDataFrame(Seq((3, 5000))).toDF("n_nationkey", "nk2"),
      keys = Seq("n_nationkey"),
      matched = Seq(TxnLog.MergeClause(None, isDelete = false,
        Seq("n_nationkey" -> col("__s.nk2")))),
      notMatched = Nil) }
    assert(e.getMessage.contains("key_range"),
      s"constraint must reject the violating merge: ${e.getMessage}")
    assert(TxnLog.versions(t) == Seq(1L), "nothing may commit")
    // column mapping: merge through a RENAMED column works (logical
    // names in clauses, physical staging underneath); rename requires
    // dropping the constraint first (its own documented contract)
    TxnLog.dropCheck(spark, t, "key_range")
    TxnLog.renameColumn(spark, t, "n_name", "label")
    TxnLog.merge(spark, t,
      spark.createDataFrame(Seq((3, "MAPPED"))).toDF("n_nationkey", "v"),
      keys = Seq("n_nationkey"),
      matched = Seq(TxnLog.MergeClause(None, isDelete = false,
        Seq("label" -> col("__s.v")))),
      notMatched = Nil)
    assert(TxnLog.snapshot(spark, t)
      .filter(col("n_nationkey") === 3).head.getString(1) == "MAPPED")
    // DV interplay: DVs masking UNTOUCHED files survive a pruned merge
    val t2 = freshTable()
    TxnLog.create(spark, t2,
      nation.repartitionByRange(5, col("n_nationkey")),
      statsCols = Seq("n_nationkey"))
    TxnLog.deleteWhereDV(spark, t2, col("n_nationkey") >= 20)
    val maskedCount = TxnLog.snapshot(spark, t2).count()
    TxnLog.merge(spark, t2,
      spark.createDataFrame(Seq((0, "Z"))).toDF("n_nationkey", "v"),
      keys = Seq("n_nationkey"),
      matched = Seq(TxnLog.MergeClause(None, isDelete = false,
        Seq("n_name" -> col("__s.v")))),
      notMatched = Nil)
    assert(TxnLog.snapshot(spark, t2).count() == maskedCount,
      "a pruned merge must not resurrect other files' DV-deleted rows")
    assert(TxnLog.snapshot(spark, t2)
      .filter(col("n_nationkey") === 0).head.getString(1) == "Z")
  }

  test("DDL CREATE TABLE with inline CHECK constraints enforces from birth") {
    val t = freshTable()
    spark.sql(s"CREATE TABLE txn_ddlc_t (k INT, v STRING, " +
      s"CONSTRAINT k_range CHECK (k < 100 AND k >= 0)) " +
      s"USING txnlog LOCATION '$t'")
    assert(TxnLog.checkConstraints(t) ==
      Map("k_range" -> "k < 100 AND k >= 0"))
    // the constraint bites on the very FIRST load
    val e = intercept[Exception] { spark.sql(
      "INSERT INTO txn_ddlc_t SELECT 500 AS k, 'BAD' AS v") }
    def root(x: Throwable): String = Iterator.iterate(x)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(root(e).contains("k_range"), root(e))
    spark.sql("INSERT INTO txn_ddlc_t SELECT 5 AS k, 'OK' AS v")
    assert(spark.table("txn_ddlc_t").count() == 1)
    spark.sql("DROP TABLE txn_ddlc_t")
  }

  test("VACUUM DRY RUN reports victims without deleting anything") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    TxnLog.overwrite(spark, t, nation.filter(col("n_regionkey") === 0))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_vdr_v " +
      s"USING txnlog OPTIONS (path '$t')")
    val wouldSweep = spark.sql("VACUUM txn_vdr_v RETAIN 0 HOURS DRY RUN")
      .collect().map(_.getString(0))
    assert(wouldSweep.nonEmpty, "the replaced v1 files are sweepable")
    // NOTHING was deleted: time travel to v1 still serves
    assert(TxnLog.snapshot(spark, t, Some(1L)).count() == nation.count())
    // the real vacuum then sweeps exactly what the dry run predicted
    val swept = TxnLog.vacuum(t, retainVersions = 1, minAgeMs = 0)
    assert(wouldSweep.toSet.subsetOf(swept.toSet),
      s"dry-run prediction must be a subset of the real sweep " +
        s"(log-retention pruning may add more): " +
        s"${wouldSweep.toSet -- swept.toSet}")
  }

  test("GENERATED columns: computed at write, partitionable, refusals") {
    val t = freshTable()
    spark.sql(s"CREATE TABLE txn_gen_t (user_id INT, ts TIMESTAMP, " +
      s"day DATE GENERATED ALWAYS AS (to_date(ts))) USING txnlog " +
      s"PARTITIONED BY (day) LOCATION '$t'")
    // the writer supplies the BASE columns only; the table computes
    // day and lays the hive partitions out on it
    spark.sql("INSERT INTO txn_gen_t (user_id, ts) SELECT 1, " +
      "TIMESTAMP '2026-03-05 10:00:00' UNION ALL SELECT 2, " +
      "TIMESTAMP '2026-03-06 23:59:00'")
    assert(TxnLog.files(t).count(_.contains("day=2026-03-05")) >= 1,
      s"generated partition layout missing: ${TxnLog.files(t)}")
    val out = TxnLog.snapshot(spark, t)
    assert(out.filter(col("user_id") === 1).head
      .getDate(2).toString == "2026-03-05")
    // a batch SUPPLYING the generated column is RECOMPUTED — the
    // declared expression is the single source of truth (Spark's own
    // insert preprocessing pads missing insert-list columns with
    // NULL, so a supplied value is indistinguishable from padding)
    TxnLog.append(spark, t,
      spark.sql("SELECT 3 AS user_id, TIMESTAMP '2026-03-07 00:00:00' " +
        "AS ts, DATE '1999-01-01' AS day"))
    assert(TxnLog.snapshot(spark, t).filter(col("user_id") === 3)
      .head.getDate(2).toString == "2026-03-07",
      "a supplied generated value must be recomputed, never trusted")
    // a generated expr referencing another generated (or missing)
    // column refuses at DDL time
    val e2 = intercept[Exception] { spark.sql(
      s"CREATE TABLE txn_gen_bad (a INT, b INT GENERATED ALWAYS AS " +
        s"(c + 1)) USING txnlog LOCATION '${freshTable()}'") }
    assert(e2.getMessage.contains("non-generated declared column"))
    spark.sql("DROP TABLE txn_gen_t")
  }

  test("INSERT [OVERWRITE] PARTITION lands partition-scoped commits") {
    val t = freshTable()
    TxnLog.create(spark, t, nation, partitionBy = Seq("n_regionkey"))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_insp_src " +
      s"USING txnlog OPTIONS (path '$t')") // unused; keep names apart
    // register as a CATALOG table so the raw-file insert route is the
    // one exercised (the guard's rewrite target)
    spark.sql("DROP TABLE IF EXISTS txn_insp_t")
    spark.sql(s"CREATE TABLE txn_insp_t USING txnlog LOCATION '$t'")
    // static INSERT INTO PARTITION: appends INTO the named partition,
    // the static value rejoining the rows as a typed literal
    spark.sql("INSERT INTO txn_insp_t PARTITION (n_regionkey = 2) " +
      "SELECT 700 AS n_nationkey, 'STATIC_ADD' AS n_name")
    val s1 = TxnLog.snapshot(spark, t)
    assert(s1.filter(col("n_name") === "STATIC_ADD")
      .head.getInt(2) == 2, "the static value must land in the rows")
    assert(s1.count() == nation.count() + 1)
    // static INSERT OVERWRITE PARTITION: replaces EXACTLY that
    // partition, every other partition keeps its exact files
    val beforeOther = TxnLog.files(t).filterNot(_.contains("n_regionkey=2"))
    spark.sql("INSERT OVERWRITE txn_insp_t PARTITION (n_regionkey = 2) " +
      "SELECT 701 AS n_nationkey, 'SWAPPED' AS n_name")
    val s2 = TxnLog.snapshot(spark, t)
    assert(s2.filter(col("n_regionkey") === 2).count() == 1,
      "the named partition must be replaced wholesale")
    assert(s2.filter(col("n_name") === "SWAPPED").count() == 1)
    assert(s2.filter(col("n_regionkey") =!= 2).count() ==
      nation.filter(col("n_regionkey") =!= 2).count())
    assert(beforeOther.forall(TxnLog.files(t).contains),
      "untouched partitions must keep their exact files")
    // dynamic INSERT OVERWRITE (no static spec): with dynamic mode on,
    // only the partitions present in the query are replaced
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql("INSERT OVERWRITE txn_insp_t " +
        "SELECT 800 AS n_nationkey, 'DYN' AS n_name, " +
        "CAST(1 AS INT) AS n_regionkey")
      val s3 = TxnLog.snapshot(spark, t)
      assert(s3.filter(col("n_regionkey") === 1).count() == 1,
        "dynamic overwrite must replace only the touched partition")
      assert(s3.filter(col("n_regionkey") === 0).count() ==
        nation.filter(col("n_regionkey") === 0).count(),
        "partitions absent from the query must survive")
    } finally prev.fold(spark.conf.unset(
      "spark.sql.sources.partitionOverwriteMode"))(v =>
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", v))
    spark.sql("DROP TABLE txn_insp_t")
  }

  test("OPTIMIZE WHERE compacts one partition, DV state elsewhere intact") {
    val t = freshTable()
    // two small appends per partition → fragmented layout
    TxnLog.create(spark, t, nation.filter(col("n_nationkey") % 2 === 0),
      partitionBy = Seq("n_regionkey"))
    TxnLog.append(spark, t, nation.filter(col("n_nationkey") % 2 === 1))
    // DV delete in region 1 — scoped compaction of region 2 must NOT
    // clear it (a table-wide dvclear would resurrect the rows)
    TxnLog.deleteWhereDV(spark, t,
      col("n_regionkey") === 1 && col("n_nationkey") < 10)
    val masked = TxnLog.snapshot(spark, t).count()
    val beforeR2 = TxnLog.files(t).count(_.contains("n_regionkey=2"))
    assert(beforeR2 >= 2, s"need a fragmented partition, got $beforeR2")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txn_optw_v " +
      s"USING txnlog OPTIONS (path '$t')")
    spark.sql("OPTIMIZE txn_optw_v WHERE n_regionkey = 2")
    val after = TxnLog.files(t)
    assert(after.count(_.contains("n_regionkey=2")) < beforeR2,
      "the scoped partition must compact")
    assert(TxnLog.files(t, Some(3L)).filterNot(_.contains("n_regionkey=2"))
      .forall(after.contains),
      "files outside the scoped partition must stay live untouched")
    assert(TxnLog.snapshot(spark, t).count() == masked,
      "scoped compaction must not resurrect region 1's DV-deleted rows")
    // a non-partition column refuses descriptively
    val e = intercept[Exception] {
      spark.sql("OPTIMIZE txn_optw_v WHERE n_name = 'KENYA'") }
    assert(e.getMessage.contains("not a partition column"))
  }

  test("in-commit timestamps survive mtime rewrites (copy/rsync)") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_regionkey") < 2))
    Thread.sleep(15)
    val midpoint = System.currentTimeMillis()
    Thread.sleep(15)
    TxnLog.append(spark, t, nation.filter(col("n_regionkey") >= 2))
    // a backup-restore / rsync rewrites every file's mtime to NOW —
    // timestamp time travel must keep answering from the stamps
    // journaled INSIDE the commits, not the filesystem's
    Seq(1L, 2L).foreach { v =>
      Paths.get(t, "_txn_log", f"$v%020d.log").toFile
        .setLastModified(System.currentTimeMillis() + 3600000L)
    }
    assert(TxnLog.versionAt(t, midpoint) == 1L,
      "cts must win over the rewritten mtimes")
    assert(TxnLog.snapshot(spark, t,
      Some(TxnLog.versionAt(t, midpoint))).count() ==
      nation.filter(col("n_regionkey") < 2).count())
    // DESCRIBE HISTORY surfaces the stamp
    val h = TxnLog.history(spark, t).orderBy("version").collect()
    assert(h(0).getLong(5) <= midpoint && midpoint <= h(1).getLong(5))
    // logs that PREDATE stamping (hand-written) fall back to mtime
    val t2 = freshTable()
    val log2 = Paths.get(t2, "_txn_log")
    Files.createDirectories(log2)
    Files.write(log2.resolve(f"${1L}%020d.log"),
      java.util.Arrays.asList("op\tcreate",
        "schema\t" + nation.schema.json))
    assert(TxnLog.versionAt(t2, System.currentTimeMillis()) == 1L)
  }

  test("minwriter protocol guard refuses commits, reads stay legal") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    // a (hypothetical newer) writer raises the WRITE floor to 2
    val log = Paths.get(t, "_txn_log")
    Files.write(log.resolve(f"${2L}%020d.log"),
      java.util.Arrays.asList("op\tprotocolBump", "minwriter\t9"))
    // reads are NOT gated by minwriter
    assert(TxnLog.snapshot(spark, t).count() == nation.count())
    // every commit path refuses descriptively
    val e = intercept[Exception] { TxnLog.append(spark, t, nation) }
    assert(e.getMessage.contains("writer version 9"), e.getMessage)
    val e2 = intercept[Exception] {
      TxnLog.deleteWhereDV(spark, t, col("n_nationkey") < 3) }
    assert(e2.getMessage.contains("writer version 9"))
  }

  test("protocol floors survive inside checkpoints") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_nationkey") < 3))
    val log = Paths.get(t, "_txn_log")
    Files.write(log.resolve(f"${2L}%020d.log"),
      java.util.Arrays.asList("op\tprotocolBump", "minwriter\t9"))
    // hand-publish two more appends (the guard refuses TxnLog.append —
    // which is the point — so re-add the existing file as raw lines)
    val f0 = TxnLog.files(t).head
    (3L to 4L).foreach { v =>
      Files.write(log.resolve(f"$v%020d.log"),
        java.util.Arrays.asList("op\tappend", s"add\t$f0"))
    }
    // vacuum writes a HORIZON checkpoint at the retained head and
    // prunes every log entry below it — replay now starts from the
    // checkpoint alone. If the checkpoint dropped the floor, the
    // guard would silently vanish (the advisor's exact scenario).
    TxnLog.vacuum(t, retainVersions = 1, minAgeMs = 0)
    assert(!Files.exists(log.resolve(f"${2L}%020d.log")),
      "the bump commit itself must be pruned — the floor now lives " +
        "only in the checkpoint")
    assert(TxnLog.snapshot(spark, t).count() > 0) // reads stay legal
    val e = intercept[Exception] { TxnLog.append(spark, t, nation) }
    assert(e.getMessage.contains("writer version 9"),
      s"floor must survive checkpoint replay, got: ${e.getMessage}")
  }

  test("a table directory containing '=' grows no phantom partitions") {
    val root = Files.createTempDirectory("graft_txn_eq_")
    root.toFile.deleteOnExit()
    // the table's own ancestor chain carries a hive-looking segment;
    // base derivation must stop at the table dir, not pop into it
    val t = root.resolve("env=prod").resolve("t").toString
    TxnLog.create(spark, t, nation)
    val snap = TxnLog.snapshot(spark, t)
    assert(snap.columns.toSeq == Seq("n_nationkey", "n_name", "n_regionkey"),
      s"phantom partition column derived: ${snap.columns.mkString(",")}")
    assert(snap.count() == nation.count())
    // and a genuinely partitioned table under the same dir still
    // re-derives ITS partition column (and only it)
    val t2 = root.resolve("env=prod").resolve("t2").toString
    TxnLog.create(spark, t2, nation, partitionBy = Seq("n_regionkey"))
    val snap2 = TxnLog.snapshot(spark, t2)
    assert(snap2.columns.sorted.toSeq ==
      Seq("n_name", "n_nationkey", "n_regionkey"))
    assert(snap2.filter(col("n_regionkey") === 2).count() ==
      nation.filter(col("n_regionkey") === 2).count())
  }

  test("MERGE into an empty DDL-first table bootstraps as pure insert") {
    val t = freshTable()
    spark.sql("DROP TABLE IF EXISTS txn_mtb_t")
    spark.sql(s"CREATE TABLE txn_mtb_t (k INT, v STRING) USING txnlog " +
      s"LOCATION '$t'")
    spark.createDataFrame(Seq((1, "a"), (2, "b"))).toDF("k", "v")
      .createOrReplaceTempView("txn_mtb_src")
    // the canonical MERGE routes through upsert: with zero live files,
    // 0 touched == 0 live must mean pure INSERT, not whole-rewrite
    spark.sql("MERGE INTO txn_mtb_t t USING txn_mtb_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(rowsOf(spark.table("txn_mtb_t").orderBy("k")) ==
      Seq(Seq(1, "a"), Seq(2, "b")))
    // and the programmatic upsert agrees (same code path, re-entrant)
    val t2 = freshTable()
    TxnLog.createEmpty(spark, t2, spark.table("txn_mtb_src").schema)
    TxnLog.upsert(spark, t2, spark.table("txn_mtb_src"), Seq("k"))
    assert(TxnLog.snapshot(spark, t2).count() == 2)
    spark.sql("DROP TABLE txn_mtb_t")
  }

  test("empty-table reads: bloom probe and relation scan serve 0 rows") {
    val t = freshTable()
    spark.sql("DROP TABLE IF EXISTS txn_mty_t")
    spark.sql(s"CREATE TABLE txn_mty_t (k INT, v STRING) USING txnlog " +
      s"LOCATION '$t'")
    // snapshotWhereEq pre-fix threw NoSuchElementException on live.head
    val eq = TxnLog.snapshotWhereEq(spark, t, "k", 5)
    assert(eq.columns.toSeq == Seq("k", "v") && eq.count() == 0)
    // the filtered relation scan (buildScan) pre-fix threw the same way
    assert(spark.sql("SELECT v FROM txn_mty_t WHERE k = 5").count() == 0)
    spark.sql("DROP TABLE txn_mty_t")
  }

  test("general MERGE fills DEFAULTs and recomputes GENERATED columns") {
    import org.apache.spark.sql.types.StringType
    val t = freshTable()
    spark.sql("DROP TABLE IF EXISTS txn_mgen_t")
    spark.sql(s"CREATE TABLE txn_mgen_t (user_id INT, ts TIMESTAMP, " +
      s"day DATE GENERATED ALWAYS AS (to_date(ts))) USING txnlog " +
      s"PARTITIONED BY (day) LOCATION '$t'")
    spark.sql("INSERT INTO txn_mgen_t (user_id, ts) " +
      "SELECT 1, TIMESTAMP '2026-03-05 10:00:00'")
    TxnLog.addColumns(spark, t, Seq(("tag", StringType, Some("'legacy'"))))
    spark.sql("SELECT 1 AS id, TIMESTAMP '2026-04-09 08:00:00' AS ts2 " +
      "UNION ALL SELECT 7, TIMESTAMP '2026-04-10 09:00:00'")
      .createOrReplaceTempView("txn_mgen_src")
    // non-canonical MERGE (clause engine): the UPDATE moves the base
    // column ts, so the generated day must be RECOMPUTED, and the
    // INSERT omits tag + day, so tag takes its CURRENT_DEFAULT and
    // day is computed — neither may land null/stale
    spark.sql("""MERGE INTO txn_mgen_t t USING txn_mgen_src s
      |ON t.user_id = s.id
      |WHEN MATCHED THEN UPDATE SET ts = s.ts2
      |WHEN NOT MATCHED THEN INSERT (user_id, ts) VALUES (s.id, s.ts2)
      |""".stripMargin)
    val out = TxnLog.snapshot(spark, t)
    assert(out.filter(col("user_id") === 1).head
      .getDate(2).toString == "2026-04-09",
      "UPDATE must recompute the generated partition column")
    val ins = out.filter(col("user_id") === 7).head
    assert(ins.getDate(2).toString == "2026-04-10",
      "INSERT must compute the generated column, not null-fill it")
    assert(ins.getString(3) == "legacy",
      "INSERT must fill the CURRENT_DEFAULT for unassigned columns")
    // the hive layout moved with the recompute (no stale/null dirs)
    assert(TxnLog.files(t).count(_.contains("day=2026-04-09")) >= 1 &&
      !TxnLog.files(t).exists(_.contains("day=__HIVE_DEFAULT")),
      s"layout drifted: ${TxnLog.files(t)}")
    // CDF postimage/insert rows carry the recomputed values too
    val v = TxnLog.versions(t).last
    val cdf = TxnLog.changesBetween(spark, t, v - 1, v)
    assert(cdf.filter(col("_change_type") === "update_postimage").head
      .getDate(2).toString == "2026-04-09")
    assert(cdf.filter(col("_change_type") === "insert")
      .head.getString(3) == "legacy")
    spark.sql("DROP TABLE txn_mgen_t")
  }

  test("static OVERWRITE PARTITION: empty source truncates, spec wins") {
    val t = freshTable()
    TxnLog.create(spark, t, nation, partitionBy = Seq("n_regionkey"))
    spark.sql("DROP TABLE IF EXISTS txn_sop_t")
    spark.sql(s"CREATE TABLE txn_sop_t USING txnlog LOCATION '$t'")
    // a query that CARRIES the partition column with a conflicting
    // value: the static spec governs — rows may not be redirected
    spark.sql("INSERT OVERWRITE txn_sop_t PARTITION (n_regionkey = 2) " +
      "SELECT 700 AS n_nationkey, 'PINNED' AS n_name")
    assert(TxnLog.snapshot(spark, t)
      .filter(col("n_name") === "PINNED").head.getInt(2) == 2)
    // static OVERWRITE with an EMPTY source must TRUNCATE the named
    // partition (Hive/Spark static mode), not leave it intact
    spark.sql("INSERT OVERWRITE txn_sop_t PARTITION (n_regionkey = 2) " +
      "SELECT 1 AS n_nationkey, 'none' AS n_name WHERE false")
    val s2 = TxnLog.snapshot(spark, t)
    assert(s2.filter(col("n_regionkey") === 2).count() == 0,
      "empty static overwrite must truncate the named partition")
    assert(s2.filter(col("n_regionkey") =!= 2).count() ==
      nation.filter(col("n_regionkey") =!= 2).count(),
      "other partitions must survive the truncate")
    // the truncate is a real commit: time travel still serves the rows
    val vs = TxnLog.versions(t)
    assert(TxnLog.snapshot(spark, t, Some(vs(vs.length - 2)))
      .filter(col("n_regionkey") === 2).count() > 0)
    spark.sql("DROP TABLE txn_sop_t")
  }

  test("CREATE TABLE inline NOT NULL + DEFAULT: the reference bootstrap") {
    val t = freshTable()
    spark.sql("DROP TABLE IF EXISTS txn_cdef_t")
    // the reference's company-table shape (company.sql:7-16): PK-ish
    // NOT NULL key, nullable attributes, NOT NULL DEFAULT NOW() audit
    spark.sql(s"""CREATE TABLE txn_cdef_t (
      |  symbol STRING NOT NULL,
      |  company_name STRING,
      |  listing_date DATE,
      |  extracted_at TIMESTAMP,
      |  created_at TIMESTAMP NOT NULL DEFAULT NOW(),
      |  quality INT DEFAULT 7
      |) USING txnlog LOCATION '$t'""".stripMargin)
    // a programmatic batch OMITTING the defaulted columns: they fill
    // at write (INSERT-time half), so NOT NULL holds from birth
    TxnLog.append(spark, t, spark.sql(
      "SELECT 'AP' AS symbol, 'Ayala' AS company_name, " +
        "DATE '2000-01-01' AS listing_date, " +
        "TIMESTAMP '2026-01-01 00:00:00' AS extracted_at"))
    val row = TxnLog.snapshot(spark, t).head
    assert(row.getAs[java.sql.Timestamp]("created_at") != null,
      "NOW() default must fill the omitted audit column")
    assert(row.getAs[Int]("quality") == 7)
    // SQL INSERT with a column list omitting the defaulted columns
    spark.sql("INSERT INTO txn_cdef_t (symbol, company_name) " +
      "SELECT 'BDO', 'Banco de Oro'")
    val r2 = spark.table("txn_cdef_t").filter(col("symbol") === "BDO").head
    assert(r2.getAs[Int]("quality") == 7,
      "SQL INSERT must fill the declared DEFAULT, not null-pad")
    assert(r2.getAs[java.sql.Timestamp]("created_at") != null)
    // NULL into a NOT NULL column refuses descriptively
    val e = intercept[Exception] { TxnLog.append(spark, t, spark.sql(
      "SELECT CAST(NULL AS STRING) AS symbol, 'X' AS company_name, " +
        "DATE '2000-01-01' AS listing_date, " +
        "TIMESTAMP '2026-01-01 00:00:00' AS extracted_at")) }
    assert(e.getMessage.contains("nn_symbol"),
      s"NOT NULL must enforce as a write-time check: ${e.getMessage}")
    // declared nullability survives into the served schema
    assert(!spark.table("txn_cdef_t").schema("symbol").nullable ||
      TxnLog.snapshot(spark, t).schema("created_at") != null)
    // a DEFAULT that cannot cast refuses at DDL time
    val e2 = intercept[Exception] { spark.sql(
      s"CREATE TABLE txn_cdef_bad (a INT DEFAULT 'zap') USING txnlog " +
        s"LOCATION '${freshTable()}'") }
    assert(e2.getMessage.contains("does not cast"))
    spark.sql("DROP TABLE txn_cdef_t")
  }

  test("replaceWhere: one commit, victims stats-scoped, batch checked") {
    val t = freshTable()
    // five files clustered on n_nationkey so the stats intervals can
    // actually scope victims (create with stats, then append slices)
    TxnLog.create(spark, t, nation.filter(col("n_nationkey") < 5),
      statsCols = Seq("n_nationkey"))
    (1 to 4).foreach(i => TxnLog.append(spark, t,
      nation.filter(col("n_nationkey") >= i * 5 &&
        col("n_nationkey") < (i + 1) * 5)))
    val before = TxnLog.files(t)
    assert(before.size == 5)
    // replace the [10, 15) band with a recomputed batch
    val batch = nation.filter(col("n_nationkey") >= 10 &&
      col("n_nationkey") < 15)
      .withColumn("n_name", concat(col("n_name"), lit("_V2")))
    val vBase = TxnLog.versions(t).last
    TxnLog.replaceWhere(spark, t,
      "n_nationkey >= 10 AND n_nationkey < 15", batch)
    assert(TxnLog.versions(t).last == vBase + 1,
      "replaceWhere must be ONE commit")
    val out = TxnLog.snapshot(spark, t)
    assert(out.count() == nation.count())
    assert(out.filter(col("n_nationkey").between(10, 14) &&
      !col("n_name").endsWith("_V2")).count() == 0,
      "matching rows must be replaced by the batch")
    assert(out.filter(col("n_name").endsWith("_V2")).count() == 5)
    // files outside the predicate band keep their exact identity
    val after = TxnLog.files(t)
    val untouched = before.filter(after.contains)
    assert(untouched.size == 4,
      s"exactly the victim file may be rewritten: kept $untouched")
    // CDF: 5 deletes + 5 inserts, nothing else
    val cdf = TxnLog.changesBetween(spark, t, vBase, vBase + 1)
    assert(cdf.filter(col("_change_type") === "delete").count() == 5)
    assert(cdf.filter(col("_change_type") === "insert").count() == 5)
    // a batch that VIOLATES the predicate refuses (Delta's
    // replaceWhere constraint check), and no commit lands
    val e = intercept[Exception] { TxnLog.replaceWhere(spark, t,
      "n_nationkey >= 10 AND n_nationkey < 15",
      nation.filter(col("n_nationkey") === 20)) }
    assert(e.getMessage.contains("replaceWhere"))
    assert(TxnLog.versions(t).last == vBase + 1)
    // SQL spelling over a catalog table
    spark.sql("DROP TABLE IF EXISTS txn_rw_t")
    spark.sql(s"CREATE TABLE txn_rw_t USING txnlog LOCATION '$t'")
    spark.sql("INSERT INTO txn_rw_t REPLACE WHERE n_regionkey = 2 " +
      "SELECT n_nationkey + 900 AS n_nationkey, 'RW' AS n_name, " +
      "2 AS n_regionkey FROM txn_rw_t WHERE n_regionkey = 2")
    val s2 = spark.table("txn_rw_t")
    assert(s2.filter(col("n_regionkey") === 2 &&
      col("n_name") =!= "RW").count() == 0)
    assert(s2.filter(col("n_name") === "RW").count() ==
      nation.filter(col("n_regionkey") === 2).count())
    spark.sql("DROP TABLE txn_rw_t")
  }

  test("TRUNCATE TABLE: metadata-only wipe, schema survives, CDF refuses") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    spark.sql("DROP TABLE IF EXISTS txn_trunc_t")
    spark.sql(s"CREATE TABLE txn_trunc_t USING txnlog LOCATION '$t'")
    val vBase = TxnLog.versions(t).last
    spark.sql("TRUNCATE TABLE txn_trunc_t")
    assert(TxnLog.versions(t).last == vBase + 1, "one commit")
    assert(spark.table("txn_trunc_t").count() == 0)
    // schema + history survive: declared columns intact, time travel
    // serves the pre-truncate rows
    assert(TxnLog.snapshot(spark, t).columns.toSeq ==
      Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(TxnLog.snapshot(spark, t, Some(vBase)).count() ==
      nation.count())
    // TRULY metadata-only: the truncate commit carries no CDF files
    // (zero data bytes read or written — the 100 TB contract), so a
    // change window crossing it refuses descriptively, exactly like
    // CREATE OR REPLACE; a journaled wipe is deleteWhere(lit(true))
    val e = intercept[IllegalStateException] {
      TxnLog.changesBetween(spark, t, vBase, vBase + 1).count()
    }
    assert(e.getMessage.contains("journaled no change data"))
    // and the table keeps working: an append lands normally
    TxnLog.append(spark, t, nation.limit(3))
    assert(TxnLog.snapshot(spark, t).count() == 3)
    spark.sql("DROP TABLE txn_trunc_t")
  }

  test("CREATE OR REPLACE TABLE: atomic swap, old versions readable") {
    val t = freshTable()
    spark.sql("DROP TABLE IF EXISTS txn_cor_t")
    spark.sql(s"CREATE TABLE txn_cor_t (k INT, v STRING, " +
      s"CONSTRAINT k_pos CHECK (k >= 0)) USING txnlog LOCATION '$t'")
    spark.createDataFrame(Seq((1, "a"), (2, "b"))).toDF("k", "v")
      .createOrReplaceTempView("txn_cor_src")
    spark.sql("INSERT INTO txn_cor_t SELECT * FROM txn_cor_src")
    val vOld = TxnLog.versions(t).last
    // the replace: different schema, different constraint — ONE commit
    spark.sql(s"CREATE OR REPLACE TABLE txn_cor_t (name STRING, " +
      s"score DOUBLE, CONSTRAINT s_cap CHECK (score <= 1.0)) " +
      s"USING txnlog LOCATION '$t'")
    assert(TxnLog.versions(t).last == vOld + 1, "swap must be 1 commit")
    val snap = TxnLog.snapshot(spark, t)
    assert(snap.columns.toSeq == Seq("name", "score") && snap.count() == 0)
    // the OLD table is still addressable via time travel
    val old = TxnLog.snapshot(spark, t, Some(vOld))
    assert(old.columns.toSeq == Seq("k", "v") && old.count() == 2)
    // new constraint enforces; the old one is gone (k no longer exists)
    TxnLog.append(spark, t, spark.sql(
      "SELECT 'x' AS name, CAST(0.5 AS DOUBLE) AS score"))
    val e = intercept[Exception] { TxnLog.append(spark, t, spark.sql(
      "SELECT 'y' AS name, CAST(2.0 AS DOUBLE) AS score")) }
    assert(e.getMessage.contains("s_cap"))
    // a replace may also change the PARTITIONING (here: add one)
    spark.sql(s"CREATE OR REPLACE TABLE txn_cor_t (name STRING, " +
      s"bucket INT) USING txnlog PARTITIONED BY (bucket) LOCATION '$t'")
    TxnLog.append(spark, t, spark.sql(
      "SELECT 'z' AS name, 3 AS bucket"))
    assert(TxnLog.files(t).forall(_.contains("bucket=")),
      s"post-replace layout must follow the new declaration: " +
        s"${TxnLog.files(t)}")
    // … and REMOVE it again (the sticky property must clear)
    spark.sql(s"CREATE OR REPLACE TABLE txn_cor_t (name STRING) " +
      s"USING txnlog LOCATION '$t'")
    TxnLog.append(spark, t, spark.sql("SELECT 'w' AS name"))
    assert(TxnLog.files(t).forall(!_.contains("bucket=")),
      "replace back to unpartitioned must clear the partition property")
    spark.sql("DROP TABLE txn_cor_t")
  }

  test("DV-based UPDATE: zero files rewritten, CDF pre/post intact") {
    val t = freshTable()
    TxnLog.create(spark, t, nation, statsCols = Seq("n_nationkey"))
    spark.sql("DROP TABLE IF EXISTS txn_dvu_meta")
    val before = TxnLog.files(t)
    val vBase = TxnLog.versions(t).last
    TxnLog.updateWhereDV(spark, t, col("n_regionkey") === 2,
      Seq("n_name" -> concat(col("n_name"), lit("_DV"))))
    // the victim file is NOT rewritten: every pre-update file is still
    // live, plus exactly the appended updated-rows file
    val after = TxnLog.files(t)
    assert(before.forall(after.contains),
      "DV update must not rewrite any existing file")
    assert(after.size == before.size + 1,
      "DV update adds exactly the updated-rows file")
    // reads serve the post-image exactly once per row
    val out = TxnLog.snapshot(spark, t)
    assert(out.count() == nation.count())
    val r2 = nation.filter(col("n_regionkey") === 2).count()
    assert(out.filter(col("n_name").endsWith("_DV")).count() == r2)
    assert(out.filter(col("n_regionkey") === 2 &&
      !col("n_name").endsWith("_DV")).count() == 0,
      "masked pre-image rows must not resurface")
    // CDF: pre/post pairs, identical to copy-on-write updateWhere
    val cdf = TxnLog.changesBetween(spark, t, vBase, vBase + 1)
    assert(cdf.filter(col("_change_type") === "update_preimage")
      .count() == r2)
    assert(cdf.filter(col("_change_type") === "update_postimage" &&
      col("n_name").endsWith("_DV")).count() == r2)
    // countRows stays a pure metadata answer (adds minus dv masks)
    assert(TxnLog.countRows(t).contains(nation.count()))
    // auto-routing: the table now carries DVs, so plain updateWhere
    // takes the merge-on-read path too (no existing file rewritten)
    val files2 = TxnLog.files(t)
    TxnLog.updateWhere(spark, t, col("n_regionkey") === 1,
      Seq("n_name" -> concat(col("n_name"), lit("_B"))))
    assert(files2.forall(TxnLog.files(t).contains),
      "a DV-carrying table must auto-route UPDATE merge-on-read")
    // compact materializes everything away; values survive
    TxnLog.compact(spark, t)
    val fin = TxnLog.snapshot(spark, t)
    assert(fin.count() == nation.count())
    assert(fin.filter(col("n_name").endsWith("_DV")).count() == r2)
    // SET of a generated column refuses; partition-column SET refuses
    val t2 = freshTable()
    spark.sql(s"CREATE TABLE txn_dvu_g (a INT, ts TIMESTAMP, " +
      s"day DATE GENERATED ALWAYS AS (to_date(ts))) USING txnlog " +
      s"LOCATION '$t2'")
    spark.sql("INSERT INTO txn_dvu_g (a, ts) SELECT 1, " +
      "TIMESTAMP '2026-02-01 08:00:00'")
    val e = intercept[Exception] { TxnLog.updateWhereDV(spark, t2,
      lit(true), Seq("day" -> lit("1999-01-01"))) }
    assert(e.getMessage.contains("recomputed"))
    // … and a ts move RECOMPUTES day on the DV path
    TxnLog.updateWhereDV(spark, t2, col("a") === 1,
      Seq("ts" -> lit("2026-03-04 09:00:00").cast("timestamp")))
    assert(TxnLog.snapshot(spark, t2).head.getDate(2).toString ==
      "2026-03-04", "generated column must follow its base on DV update")
    spark.sql("DROP TABLE txn_dvu_g")
  }

  test("IDENTITY through non-append writers: fresh ids, guarded paths") {
    val t = freshTable()
    spark.sql("DROP TABLE IF EXISTS txn_idw_t")
    spark.sql(s"CREATE TABLE txn_idw_t (id BIGINT GENERATED ALWAYS AS " +
      s"IDENTITY (START WITH 10 INCREMENT BY 3), k INT, v STRING) " +
      s"USING txnlog LOCATION '$t'")
    // identity tables stamp the protocol floor: an old build must see
    // "upgrade", not "corrupt log" (idhigh) or silent id collisions
    val v1 = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(t, "_txn_log", f"${1L}%020d.log"))
    assert(v1.contains("minreader\t2") && v1.contains("minwriter\t2"),
      s"identity tables must raise the protocol floor, got $v1")
    TxnLog.append(spark, t, spark.sql(
      "SELECT 1 AS k, 'a' AS v UNION ALL SELECT 2, 'b'"))
    val high1 = TxnLog.snapshot(spark, t).agg(max(col("id")))
      .head.getLong(0)
    // replaceWhere: batch rows are NEW rows — supplied ids overwritten
    // with fresh ones past the high-water, high-water advances
    TxnLog.replaceWhere(spark, t, "k = 2", spark.sql(
      "SELECT CAST(1 AS BIGINT) AS id, 2 AS k, 'b2' AS v"))
    val s1 = TxnLog.snapshot(spark, t)
    assert(s1.select("id").distinct().count() == s1.count())
    val rwId = s1.filter(col("v") === "b2").head.getLong(0)
    assert(rwId > high1, s"replaceWhere must mint past high-water: $rwId")
    // overwrite: full replace still assigns fresh ids beyond history
    TxnLog.overwrite(spark, t, spark.sql(
      "SELECT CAST(2 AS BIGINT) AS id, 9 AS k, 'ow' AS v"))
    val owId = TxnLog.snapshot(spark, t).head.getLong(0)
    assert(owId > rwId, s"overwrite must mint past high-water: $owId")
    // the row-preserving paths keep stored ids verbatim
    TxnLog.append(spark, t, spark.sql("SELECT 9 AS k, 'keep' AS v"))
    val before = TxnLog.snapshot(spark, t)
      .filter(col("v") === "keep").head.getLong(0)
    TxnLog.updateWhere(spark, t, col("v") === "ow",
      Seq("v" -> org.apache.spark.sql.functions.lit("ow2")))
    assert(TxnLog.snapshot(spark, t).filter(col("v") === "keep")
      .head.getLong(0) == before,
      "updateWhere must not reassign untouched rows' ids")
    // SET of the identity column refuses (GENERATED ALWAYS)
    val eSet = intercept[Exception] { TxnLog.updateWhere(spark, t,
      col("v") === "ow2",
      Seq("id" -> org.apache.spark.sql.functions.lit(1L))) }
    assert(eSet.getMessage.contains("GENERATED ALWAYS") ||
      eSet.getMessage.contains("recomputed"))
    // the key-rewrite upsert refuses on identity tables (routes to
    // merge, which is clause-aware about the id channel)
    val eUp = intercept[Exception] { TxnLog.upsert(spark, t,
      spark.sql("SELECT 9 AS k, 'up' AS v"), Seq("k")) }
    assert(eUp.getMessage.contains("use merge"), eUp.getMessage)
    spark.sql("DROP TABLE txn_idw_t")
  }

  test("merge on an identity table: CDF insert rows carry the ids the " +
      "table holds (single-materialization contract)") {
    val t = freshTable()
    spark.sql("DROP TABLE IF EXISTS txn_idm_t")
    spark.sql(s"CREATE TABLE txn_idm_t (id BIGINT GENERATED ALWAYS AS " +
      s"IDENTITY, k INT, v STRING) USING txnlog LOCATION '$t'")
    TxnLog.append(spark, t, spark.sql(
      "SELECT 1 AS k, 'a' AS v UNION ALL SELECT 2, 'b'"))
    val vBase = TxnLog.versions(t).last
    // merge inserts two new keys: the identity assignment is
    // non-deterministic across executions, so staged files and the
    // CDF insert journal MUST come from one pinned materialization
    TxnLog.merge(spark, t,
      spark.sql("SELECT 2 AS k, 'b2' AS v UNION ALL " +
        "SELECT 3, 'c' UNION ALL SELECT 4, 'd'"),
      keys = Seq("k"),
      matched = Seq(TxnLog.MergeClause(None, isDelete = false,
        Seq("v" -> col("__s.v")))),
      notMatched = Seq(TxnLog.MergeClause(None, isDelete = false,
        Seq("k" -> col("__s.k"), "v" -> col("__s.v")))))
    val snap = TxnLog.snapshot(spark, t)
    assert(snap.select("id").distinct().count() == snap.count(),
      "ids stay unique through a merge")
    val tableIds = snap.filter(col("k").isin(3, 4))
      .select("id").collect().map(_.getLong(0)).toSet
    val cdfIns = TxnLog.changesBetween(spark, t, vBase, vBase + 1)
      .filter(col("_change_type") === "insert")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(cdfIns == tableIds,
      s"CDF insert ids $cdfIns must equal the table's $tableIds")
    spark.sql("DROP TABLE txn_idm_t")
  }

  test("IDENTITY columns: unique, increasing, high-water in the log") {
    val t = freshTable()
    spark.sql("DROP TABLE IF EXISTS txn_id_t")
    spark.sql(s"CREATE TABLE txn_id_t (id BIGINT GENERATED ALWAYS AS " +
      s"IDENTITY (START WITH 100 INCREMENT BY 10), v STRING) " +
      s"USING txnlog LOCATION '$t'")
    spark.sql("INSERT INTO txn_id_t (v) SELECT n_name FROM " +
      "parquet.`/root/testdata/sf0.001/nation.parquet`")
    val s1 = TxnLog.snapshot(spark, t)
    val n = s1.count()
    assert(s1.select("id").distinct().count() == n,
      "identity values must be unique")
    assert(s1.agg(min(col("id"))).head.getLong(0) == 100L,
      "the first batch starts at START WITH")
    assert(s1.filter((col("id") - 100) % 10 =!= 0).count() == 0,
      "values follow the increment grid")
    // a second batch starts beyond the committed high-water mark
    val high1 = s1.agg(max(col("id"))).head.getLong(0)
    spark.sql("INSERT INTO txn_id_t (v) VALUES ('x'), ('y')")
    val s2 = TxnLog.snapshot(spark, t)
    assert(s2.select("id").distinct().count() == n + 2)
    assert(s2.filter(col("v").isin("x", "y"))
      .agg(min(col("id"))).head.getLong(0) > high1,
      "the next write must start beyond the committed high-water")
    // a batch SUPPLYING the column is overwritten (GENERATED ALWAYS)
    TxnLog.append(spark, t, spark.sql(
      "SELECT CAST(5 AS BIGINT) AS id, 'supplied' AS v"))
    val sup = TxnLog.snapshot(spark, t)
      .filter(col("v") === "supplied").head.getLong(0)
    assert(sup > high1, s"supplied identity values must be reassigned, got $sup")
    // the high-water survives a checkpoint round-trip: versions...
    // (checkpoints are on a cadence; force several commits)
    (1 to 12).foreach(i => TxnLog.append(spark, t,
      spark.sql(s"SELECT 'b$i' AS v")))
    val all = TxnLog.snapshot(spark, t)
    assert(all.select("id").distinct().count() == all.count(),
      "uniqueness must hold across checkpointed history")
    // DDL refusals: non-integral type, zero step, partition column
    val e1 = intercept[Exception] { spark.sql(
      s"CREATE TABLE txn_id_bad1 (id STRING GENERATED ALWAYS AS " +
        s"IDENTITY, v STRING) USING txnlog LOCATION '${freshTable()}'") }
    assert(e1.getMessage.contains("must be BIGINT"))
    spark.sql("DROP TABLE txn_id_t")
  }

  test("ALTER COLUMN SET/DROP DEFAULT and NOT NULL are metadata commits") {
    val t = freshTable()
    spark.sql("DROP TABLE IF EXISTS txn_acm_t")
    spark.sql(s"CREATE TABLE txn_acm_t (k INT, v STRING, tier STRING) " +
      s"USING txnlog LOCATION '$t'")
    TxnLog.append(spark, t, spark.sql(
      "SELECT 1 AS k, 'a' AS v, CAST(NULL AS STRING) AS tier"))
    val files1 = TxnLog.files(t)
    // SET DEFAULT: future inserts omitting the column take it;
    // existing rows are untouched (CURRENT_DEFAULT only — the
    // existence default is fixed at column birth)
    spark.sql("ALTER TABLE txn_acm_t ALTER COLUMN tier " +
      "SET DEFAULT 'standard'")
    assert(TxnLog.files(t) == files1, "SET DEFAULT must be metadata-only")
    TxnLog.append(spark, t,
      spark.sql("SELECT 2 AS k, 'b' AS v")) // omits tier
    val out = TxnLog.snapshot(spark, t)
    assert(out.filter(col("k") === 2).head.getString(2) == "standard")
    assert(out.filter(col("k") === 1).head.isNullAt(2),
      "pre-existing rows must not take the new default")
    // DROP DEFAULT: the column stops filling (refuses as missing)
    spark.sql("ALTER TABLE txn_acm_t ALTER COLUMN tier DROP DEFAULT")
    val e0 = intercept[Exception] { TxnLog.append(spark, t,
      spark.sql("SELECT 3 AS k, 'c' AS v")) }
    assert(e0.getMessage.contains("missing declared columns"))
    // SET NOT NULL refuses while a NULL exists; after repairing,
    // it installs the write-time check and flips the declaration
    val e1 = intercept[Exception] { spark.sql(
      "ALTER TABLE txn_acm_t ALTER COLUMN tier SET NOT NULL") }
    assert(e1.getMessage.contains("existing rows hold NULL"))
    TxnLog.updateWhere(spark, t, col("tier").isNull,
      Seq("tier" -> lit("fixed")))
    spark.sql("ALTER TABLE txn_acm_t ALTER COLUMN tier SET NOT NULL")
    val e2 = intercept[Exception] { TxnLog.append(spark, t, spark.sql(
      "SELECT 4 AS k, 'd' AS v, CAST(NULL AS STRING) AS tier")) }
    assert(e2.getMessage.contains("nn_tier"))
    // DROP NOT NULL: the write is legal again
    spark.sql("ALTER TABLE txn_acm_t ALTER COLUMN tier DROP NOT NULL")
    TxnLog.append(spark, t, spark.sql(
      "SELECT 4 AS k, 'd' AS v, CAST(NULL AS STRING) AS tier"))
    assert(TxnLog.snapshot(spark, t).filter(col("k") === 4).count() == 1)
    spark.sql("DROP TABLE txn_acm_t")
  }

  test("CREATE OR REPLACE TABLE AS SELECT: definition + data, 1 commit") {
    val t = freshTable()
    spark.sql("DROP TABLE IF EXISTS txn_cras_t")
    spark.sql(s"CREATE TABLE txn_cras_t (k INT, v STRING) " +
      s"USING txnlog LOCATION '$t'")
    spark.createDataFrame(Seq((1, "a"))).toDF("k", "v")
      .createOrReplaceTempView("txn_cras_src")
    spark.sql("INSERT INTO txn_cras_t SELECT * FROM txn_cras_src")
    val vOld = TxnLog.versions(t).last
    nation.createOrReplaceTempView("txn_cras_n")
    spark.sql(s"CREATE OR REPLACE TABLE txn_cras_t USING txnlog " +
      s"PARTITIONED BY (n_regionkey) LOCATION '$t' AS " +
      s"SELECT n_nationkey, n_name, n_regionkey FROM txn_cras_n")
    assert(TxnLog.versions(t).last == vOld + 1,
      "definition AND data must land in ONE commit")
    val snap = TxnLog.snapshot(spark, t)
    assert(snap.count() == nation.count())
    assert(snap.columns.toSeq.sorted ==
      Seq("n_name", "n_nationkey", "n_regionkey"))
    assert(TxnLog.files(t).forall(_.contains("n_regionkey=")),
      "the swap must honor the new PARTITIONED BY")
    // the old table is still addressable
    val old = TxnLog.snapshot(spark, t, Some(vOld))
    assert(old.columns.toSeq == Seq("k", "v") && old.count() == 1)
    spark.sql("DROP TABLE txn_cras_t")
  }

  test("general MERGE WITH SCHEMA EVOLUTION extends the declaration") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    spark.sql("DROP TABLE IF EXISTS txn_mse_t")
    spark.sql(s"CREATE TABLE txn_mse_t USING txnlog LOCATION '$t'")
    // source carries a NEW column `score`; a conditional multi-clause
    // merge (NON-canonical) assigns it on both branches
    spark.createDataFrame(Seq((1, "ONE", 0.9), (900, "NEW", 0.5)))
      .toDF("k", "name", "score").createOrReplaceTempView("txn_mse_src")
    // without the flag: refuses
    val e = intercept[Exception] { spark.sql(
      """MERGE INTO txn_mse_t t USING txn_mse_src s
        |ON t.n_nationkey = s.k
        |WHEN MATCHED AND s.score > 0.5 THEN
        |  UPDATE SET n_name = s.name, score = s.score
        |WHEN NOT MATCHED THEN
        |  INSERT (n_nationkey, n_name, score) VALUES (s.k, s.name,
        |    s.score)""".stripMargin) }
    assert(e.getMessage.contains("undeclared column"))
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO txn_mse_t t
        |USING txn_mse_src s
        |ON t.n_nationkey = s.k
        |WHEN MATCHED AND s.score > 0.5 THEN
        |  UPDATE SET n_name = s.name, score = s.score
        |WHEN NOT MATCHED THEN
        |  INSERT (n_nationkey, n_name, score) VALUES (s.k, s.name,
        |    s.score)""".stripMargin)
    val out = TxnLog.snapshot(spark, t)
    assert(out.columns.toSeq ==
      Seq("n_nationkey", "n_name", "n_regionkey", "score"))
    assert(out.schema("score").dataType ==
      org.apache.spark.sql.types.DoubleType,
      "the evolved type must come from the assignment expression")
    assert(out.filter(col("n_nationkey") === 1).head.getDouble(3) == 0.9)
    assert(out.filter(col("n_nationkey") === 900).head.getDouble(3) == 0.5)
    assert(out.filter(col("score").isNull).count() == nation.count() - 1,
      "untouched rows surface the evolved column as null")
    // time travel serves the OLD schema
    val vs = TxnLog.versions(t)
    assert(TxnLog.snapshot(spark, t, Some(vs(vs.length - 2)))
      .columns.length == 3)
    spark.sql("DROP TABLE txn_mse_t")
  }

  test("multi-column DROP COLUMNS is one commit; old data unreadable") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    spark.sql("DROP TABLE IF EXISTS txn_mdrop_t")
    spark.sql(s"CREATE TABLE txn_mdrop_t USING txnlog LOCATION '$t'")
    val vBase = TxnLog.versions(t).last
    spark.sql("ALTER TABLE txn_mdrop_t DROP COLUMNS (n_name, " +
      "n_regionkey)")
    assert(TxnLog.versions(t).last == vBase + 1,
      "both drops must land in ONE commit")
    val snap = TxnLog.snapshot(spark, t)
    assert(snap.columns.toSeq == Seq("n_nationkey"))
    assert(snap.count() == nation.count())
    // time travel still serves the full pre-drop schema
    assert(TxnLog.snapshot(spark, t, Some(vBase)).columns.length == 3)
    // refusals: dropping everything, dropping a missing column
    val e1 = intercept[Exception] { TxnLog.dropColumns(spark, t,
      Seq("n_nationkey")) }
    assert(e1.getMessage.contains("every column"))
    val e2 = intercept[Exception] { TxnLog.dropColumns(spark, t,
      Seq("ghost")) }
    assert(e2.getMessage.toLowerCase.contains("no such column") ||
      e2.getMessage.toLowerCase.contains("ghost"))
    spark.sql("DROP TABLE txn_mdrop_t")
  }

  test("MERGE into an identity table: inserts take fresh unique ids") {
    val t = freshTable()
    spark.sql("DROP TABLE IF EXISTS txn_idm_t")
    spark.sql(s"CREATE TABLE txn_idm_t (id BIGINT GENERATED ALWAYS AS " +
      s"IDENTITY, k INT, v STRING) USING txnlog LOCATION '$t'")
    spark.sql("INSERT INTO txn_idm_t (k, v) VALUES (1, 'a'), (2, 'b')")
    val high1 = TxnLog.snapshot(spark, t).agg(max(col("id")))
      .head.getLong(0)
    spark.createDataFrame(Seq((2, "B2"), (3, "c"), (4, "d")))
      .toDF("mk", "mv").createOrReplaceTempView("txn_idm_src")
    // non-canonical merge (conditional): matched row keeps its id,
    // inserted rows take FRESH ids beyond the committed high-water
    spark.sql("""MERGE INTO txn_idm_t t USING txn_idm_src s
      |ON t.k = s.mk
      |WHEN MATCHED AND s.mv <> 'x' THEN UPDATE SET v = s.mv
      |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.mk, s.mv)
      |""".stripMargin)
    val out = TxnLog.snapshot(spark, t)
    assert(out.count() == 4)
    assert(out.select("id").distinct().count() == 4,
      "merge-inserted rows must take unique identity values")
    assert(out.filter(col("k") === 2).head.getAs[String]("v") == "B2")
    assert(out.filter(col("k").isin(3, 4))
      .agg(min(col("id"))).head.getLong(0) > high1,
      "fresh ids must reserve beyond the committed high-water")
    assert(out.filter(col("k").isin(1, 2))
      .agg(max(col("id"))).head.getLong(0) <= high1,
      "matched/untouched rows must keep their stored ids")
    // assigning the identity column refuses (GENERATED ALWAYS)
    val e = intercept[Exception] { spark.sql(
      """MERGE INTO txn_idm_t t USING txn_idm_src s ON t.k = s.mk
        |WHEN MATCHED AND s.mv <> 'x' THEN UPDATE SET id = 99
        |""".stripMargin) }
    assert(e.getMessage.contains("GENERATED ALWAYS"))
    // a SECOND merge keeps uniqueness (the idhigh line advanced)
    spark.createDataFrame(Seq((5, "e"), (6, "f"))).toDF("mk", "mv")
      .createOrReplaceTempView("txn_idm_src2")
    spark.sql("""MERGE INTO txn_idm_t t USING txn_idm_src2 s
      |ON t.k = s.mk
      |WHEN MATCHED AND s.mv <> 'x' THEN UPDATE SET v = s.mv
      |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.mk, s.mv)
      |""".stripMargin)
    val fin = TxnLog.snapshot(spark, t)
    assert(fin.count() == 6 && fin.select("id").distinct().count() == 6,
      "identity uniqueness must hold across successive merges")
    spark.sql("DROP TABLE txn_idm_t")
  }

  test("identity high-water survives RESTORE — rolled-back ids never reused") {
    val t = freshTable()
    spark.sql("DROP TABLE IF EXISTS txn_idr_t")
    spark.sql(s"CREATE TABLE txn_idr_t (id BIGINT GENERATED ALWAYS AS " +
      s"IDENTITY, v STRING) USING txnlog LOCATION '$t'")
    spark.sql("INSERT INTO txn_idr_t (v) VALUES ('a'), ('b')")
    val vKeep = TxnLog.versions(t).last
    spark.sql("INSERT INTO txn_idr_t (v) VALUES ('c'), ('d')")
    val highAll = TxnLog.snapshot(spark, t).agg(max(col("id")))
      .head.getLong(0)
    // roll back the second batch…
    spark.sql(s"RESTORE TABLE txn_idr_t TO VERSION AS OF $vKeep")
    assert(TxnLog.snapshot(spark, t).count() == 2)
    // …then insert again: the rolled-back commits' idhigh lines are
    // still in the log (replay max-merges), so the NEW rows can never
    // collide with ids that version-pinned readers may still serve
    spark.sql("INSERT INTO txn_idr_t (v) VALUES ('e')")
    val newId = TxnLog.snapshot(spark, t)
      .filter(col("v") === "e").head.getLong(0)
    assert(newId > highAll,
      s"post-restore identity $newId must exceed the pre-restore " +
        s"high-water $highAll — reuse would collide with time travel")
    spark.sql("DROP TABLE txn_idr_t")
  }

  test("replaceWhere on a PARTITIONED table keeps the hive layout") {
    val t = freshTable()
    TxnLog.create(spark, t, nation, partitionBy = Seq("n_regionkey"),
      statsCols = Seq("n_nationkey"))
    val before = TxnLog.files(t)
    // replace a KEY band (not a partition): victims span partitions,
    // survivors rewrite into their own hive dirs, the batch lands
    // through the declared layout
    TxnLog.replaceWhere(spark, t, "n_nationkey >= 10 AND n_nationkey < 15",
      nation.filter(col("n_nationkey").between(10, 14))
        .withColumn("n_name", concat(col("n_name"), lit("_RW"))))
    val out = TxnLog.snapshot(spark, t)
    assert(out.count() == nation.count())
    assert(out.filter(col("n_nationkey").between(10, 14) &&
      !col("n_name").endsWith("_RW")).count() == 0)
    assert(TxnLog.files(t).forall(_.contains("n_regionkey=")),
      s"all files must stay hive-partitioned: ${TxnLog.files(t).take(3)}")
    // partition pruning still serves correct slices afterwards
    assert(TxnLog.snapshot(spark, t).filter(col("n_regionkey") === 2)
      .count() == nation.filter(col("n_regionkey") === 2).count())
    // files in partitions the band never touches keep their identity
    val untouchedParts = before.filterNot { f =>
      nation.filter(col("n_nationkey").between(10, 14))
        .select("n_regionkey").distinct().collect()
        .map(r => s"n_regionkey=${r.getInt(0)}").exists(f.contains)
    }
    assert(untouchedParts.forall(TxnLog.files(t).contains),
      "partitions outside the band must keep their exact files")
    spark.sql("DROP TABLE IF EXISTS txn_idr_t")
  }

  // ─── row tracking (Delta row IDs) ──────────────────────────────────

  private def rowIds(t: String): Map[Long, Long] =
    TxnLog.snapshotWithRowIds(spark, t)
      .select(col("n_nationkey").cast("long"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap

  test("row tracking: enablement backfills bases; ids survive OPTIMIZE") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_regionkey") < 2))
    TxnLog.append(spark, t, nation.filter(col("n_regionkey") >= 2))
    // reads refuse until the property is on — no silent wrong ids
    val e0 = intercept[Exception] { TxnLog.snapshotWithRowIds(spark, t) }
    assert(e0.getMessage.contains("row tracking"))
    TxnLog.setProperties(spark, t, Map(TxnLog.RowTrackKey -> "true"))
    val before = rowIds(t)
    assert(before.size == nation.count())
    assert(before.values.toSeq.distinct.size == before.size, "ids unique")
    // backfill reserves contiguous ranges from 0 over the live files
    assert(before.values.min == 0L &&
      before.values.max == before.size - 1L, "backfill is dense from 0")
    // the enablement commit raised the protocol floors alongside the
    // semantics they gate (an old build must refuse, not misread)
    val enable = Files.readAllLines(
      Paths.get(t, "_txn_log", f"${3L}%020d.log"))
    assert(enable.contains("minreader\t3") &&
      enable.contains("minwriter\t3"),
      s"enablement must bump the protocol, got: $enable")
    // OPTIMIZE (a full rewrite, here also re-clustering) is layout-only:
    // every row keeps its id via the materialized column
    TxnLog.compact(spark, t, targetFiles = 2,
      clusterBy = Seq("n_regionkey"))
    assert(rowIds(t) == before, "ids must survive the rewrite")
    // plain reads never see the materialized rid column
    assert(!TxnLog.snapshot(spark, t).columns.contains("_graft_rid"))
  }

  test("row tracking: merge-on-read DML preserves row identity") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    TxnLog.setProperties(spark, t, Map(TxnLog.RowTrackKey -> "true"))
    val before = rowIds(t)
    TxnLog.deleteWhereDV(spark, t, col("n_nationkey") % 5 === 0)
    val afterDel = rowIds(t)
    assert(afterDel.keySet == before.keySet.filter(_ % 5 != 0))
    afterDel.foreach { case (k, id) =>
      assert(id == before(k), s"survivor $k must keep its id") }
    // DV update: the touch-up file carries the victim's id forward
    TxnLog.updateWhereDV(spark, t, col("n_nationkey") === 1,
      Seq("n_name" -> lit("RENAMED")))
    assert(rowIds(t) == afterDel, "update must not re-identify any row")
    assert(TxnLog.snapshot(spark, t)
      .filter(col("n_name") === "RENAMED").count() == 1)
    // OPTIMIZE purges the DVs and coalesces base+position rows with
    // materialized-rid rows — identity still intact
    TxnLog.compact(spark, t)
    assert(rowIds(t) == afterDel)
  }

  test("row tracking: appends reserve past the high-water — deleted " +
      "ids are never reused") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_nationkey") < 10))
    TxnLog.setProperties(spark, t, Map(TxnLog.RowTrackKey -> "true"))
    val n0 = rowIds(t).size.toLong
    TxnLog.deleteWhereDV(spark, t, col("n_nationkey") < 5)
    TxnLog.append(spark, t,
      nation.filter(col("n_nationkey").between(10, 14)))
    val ids = rowIds(t)
    assert(ids.values.toSeq.distinct.size == ids.size)
    val newIds = ids.filter(_._1 >= 10).values
    assert(newIds.forall(_ >= n0),
      s"fresh rows must reserve past the high-water $n0, got $newIds")
  }

  test("row tracking: bases and high-water survive checkpoint replay") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_nationkey") < 10))
    TxnLog.setProperties(spark, t, Map(TxnLog.RowTrackKey -> "true"))
    TxnLog.deleteWhereDV(spark, t, col("n_nationkey") === 2)
    TxnLog.append(spark, t,
      nation.filter(col("n_nationkey").between(10, 12)))
    val before = rowIds(t)
    // horizon checkpoint + log pruned below it: replay must now
    // recover every base and the high-water from the checkpoint alone
    TxnLog.vacuum(t, retainVersions = 1, minAgeMs = 0)
    val log = Paths.get(t, "_txn_log")
    assert(!Files.exists(log.resolve(f"${1L}%020d.log")),
      "pre-checkpoint log must be pruned for this test to bite")
    assert(rowIds(t) == before, "ids must survive checkpoint replay")
    TxnLog.append(spark, t,
      nation.filter(col("n_nationkey").between(13, 14)))
    val ids = rowIds(t)
    assert(ids.values.toSeq.distinct.size == ids.size,
      "post-checkpoint reservations must not collide with history")
  }

  test("row tracking: RESTORE recovers the ids rows had at the target " +
      "version; clones inherit source ids") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_nationkey") < 10))
    TxnLog.setProperties(spark, t, Map(TxnLog.RowTrackKey -> "true"))
    val atV2 = rowIds(t)
    // a copy-on-write rewrite re-identifies (the documented contract) …
    TxnLog.deleteWhere(spark, t, col("n_nationkey") === 3)
    // … and RESTORE undoes the re-identification along with the data
    TxnLog.restore(spark, t, 2L)
    assert(rowIds(t) == atV2, "restore must recover the v2 ids")
    // shallow clone: same rows, same ids, independent lifecycle
    val dest = freshTable()
    TxnLog.shallowClone(spark, t, dest)
    assert(rowIds(dest) == atV2)
    TxnLog.append(spark, dest,
      nation.filter(col("n_nationkey").between(10, 11)))
    val cloneIds = rowIds(dest)
    assert(cloneIds.values.toSeq.distinct.size == cloneIds.size,
      "clone writers must reserve past the SOURCE high-water")
  }

  // ─── COPY INTO (idempotent file ingestion) ─────────────────────────

  test("COPY INTO: loads once, re-run is a no-op, new files " +
      "incremental, force reloads") {
    val t = freshTable()
    val src = Files.createTempDirectory("graft_copy_src_")
    src.toFile.deleteOnExit()
    Files.writeString(src.resolve("a.csv"), "1,ALGERIA,0\n2,BRAZIL,1\n")
    Files.writeString(src.resolve("b.csv"), "3,CANADA,1\n")
    Files.writeString(src.resolve("_meta.txt"), "hidden — never loaded")
    TxnLog.createEmpty(spark, t, nation.schema)
    val (v1, f1, r1) = TxnLog.copyInto(spark, t, src.toString, "csv")
    assert(f1 == 2L && r1 == 3L)
    assert(TxnLog.snapshot(spark, t).count() == 3L)
    // idempotent re-run: zero files, zero rows, NO new version
    val (v2, f2, r2) = TxnLog.copyInto(spark, t, src.toString, "csv")
    assert(v2 == v1 && f2 == 0L && r2 == 0L)
    assert(TxnLog.versions(t).last == v1)
    assert(TxnLog.snapshot(spark, t).count() == 3L)
    // a file arriving later loads alone
    Files.writeString(src.resolve("c.csv"), "4,EGYPT,4\n5,ETHIOPIA,0\n")
    val (v3, f3, r3) = TxnLog.copyInto(spark, t, src.toString, "csv")
    assert(v3 == v1 + 1 && f3 == 1L && r3 == 2L)
    assert(TxnLog.snapshot(spark, t).count() == 5L)
    // force: reload everything (the explicit double-load escape hatch)
    val (_, f4, r4) =
      TxnLog.copyInto(spark, t, src.toString, "csv", force = true)
    assert(f4 == 3L && r4 == 5L)
    assert(TxnLog.snapshot(spark, t).count() == 10L)
    // COPY commits are append-shaped: the change feed synthesizes
    // their inserts from the added files — incremental consumers see
    // the loaded rows without any extra journaling
    val cdf = TxnLog.changesBetween(spark, t, 0L, v3)
    assert(cdf.filter(col("_change_type") === "insert").count() == 5L)
  }

  test("COPY INTO: manifest survives checkpoint replay; protocol " +
      "floors raised") {
    val t = freshTable()
    val src = Files.createTempDirectory("graft_copy_cp_")
    src.toFile.deleteOnExit()
    Files.writeString(src.resolve("a.csv"), "1,ALGERIA,0\n")
    TxnLog.createEmpty(spark, t, nation.schema)
    val (v1, _, _) = TxnLog.copyInto(spark, t, src.toString, "csv")
    // the first COPY INTO bumps both floors to 4 (an old checkpointer
    // would silently drop the manifest)
    val lines = Files.readAllLines(
      Paths.get(t, "_txn_log", f"$v1%020d.log"))
    assert(lines.contains("minreader\t4") && lines.contains("minwriter\t4"),
      s"first COPY must raise the protocol, got: $lines")
    // horizon checkpoint + pruned log: the manifest must survive so
    // the re-run STAYS a no-op
    TxnLog.append(spark, t, nation.filter(col("n_nationkey") === 9))
    TxnLog.vacuum(t, retainVersions = 1, minAgeMs = 0)
    val (v3, f3, _) = TxnLog.copyInto(spark, t, src.toString, "csv")
    assert(f3 == 0L && v3 == TxnLog.versions(t).last,
      "manifest lost across checkpoint replay — double-load!")
  }

  test("COPY INTO through SQL: FILEFORMAT, FORMAT_OPTIONS, metrics row") {
    val t = freshTable()
    val src = Files.createTempDirectory("graft_copy_sql_")
    src.toFile.deleteOnExit()
    Files.writeString(src.resolve("a.csv"),
      "k,name,region\n1,ALGERIA,0\n2,BRAZIL,1\n")
    TxnLog.createEmpty(spark, t, nation.schema)
    val out = spark.sql(s"COPY INTO '$t' FROM '$src' FILEFORMAT = CSV " +
      "FORMAT_OPTIONS ('header'='true')").collect()
    assert(out.head.getAs[Long]("num_inserted_rows") == 2L)
    assert(out.head.getAs[Long]("num_files") == 1L)
    val again = spark.sql(
      s"COPY INTO '$t' FROM '$src' FILEFORMAT = CSV " +
        "FORMAT_OPTIONS ('header'='true')").collect()
    assert(again.head.getAs[Long]("num_inserted_rows") == 0L)
    assert(TxnLog.snapshot(spark, t).count() == 2L)
  }

  test("row tracking: DV DML predicates can address rows by _row_id") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    TxnLog.setProperties(spark, t, Map(TxnLog.RowTrackKey -> "true"))
    val before = rowIds(t)
    val doomed = before.filter(_._2 % 7 == 0).values.toSet
    // physical-address delete: the predicate never touches user keys
    TxnLog.deleteWhereDV(spark, t, pmod(col("_row_id"), lit(7L)) === 0)
    val after = rowIds(t)
    assert(after.values.toSet == before.values.toSet -- doomed)
    // id-addressed update, SET expression may read the id too
    TxnLog.updateWhereDV(spark, t, pmod(col("_row_id"), lit(5L)) === 0,
      Seq("n_regionkey" -> (col("n_regionkey") + lit(100))))
    val bumped = TxnLog.snapshot(spark, t)
      .filter(col("n_regionkey") >= 100).count()
    assert(bumped ==
      after.values.count(id => id % 5 == 0 && id % 7 != 0))
    assert(rowIds(t) == after, "id-addressed update keeps identity")
    // plain reads still never see any rid machinery
    assert(TxnLog.snapshot(spark, t).columns.toSeq ==
      Seq("n_nationkey", "n_name", "n_regionkey"))
  }

  // ─── fsck + symlink manifests ──────────────────────────────────────

  test("FSCK REPAIR: drops entries for externally-deleted files; " +
      "DRY RUN lists; missing DVs refuse") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_nationkey") < 5))
    TxnLog.append(spark, t,
      nation.filter(col("n_nationkey").between(5, 9)))
    val victim = TxnLog.files(t).head
    Files.delete(Paths.get(t, victim))
    // reads now fail on the missing file; DRY RUN names it
    val dry = spark.sql(s"FSCK REPAIR TABLE '$t' DRY RUN")
      .collect().map(_.getString(0))
    assert(dry.toSeq == Seq(victim))
    assert(TxnLog.versions(t).last == 2L, "DRY RUN must not commit")
    val fixed = spark.sql(s"FSCK REPAIR TABLE '$t'")
      .collect().map(_.getString(0))
    assert(fixed.toSeq == Seq(victim))
    assert(TxnLog.versions(t).last == 3L)
    assert(TxnLog.snapshot(spark, t).count() == 5L,
      "post-repair reads serve the surviving files")
    // a lost deletion-vector file is NOT repairable — refuse
    val t2 = freshTable()
    TxnLog.create(spark, t2, nation)
    TxnLog.deleteWhereDV(spark, t2, col("n_nationkey") < 3)
    val dv = Paths.get(t2, "_deletion_vectors").toFile.list().head
    Files.delete(Paths.get(t2, "_deletion_vectors", dv))
    val e = intercept[Exception] { TxnLog.fsck(t2) }
    assert(e.getMessage.contains("RESTORE"), e.getMessage)
  }

  test("GENERATE symlink_format_manifest: per-partition manifests " +
      "naming exactly the live files; DV tables refuse") {
    val t = freshTable()
    TxnLog.create(spark, t, nation, partitionBy = Seq("n_regionkey"))
    val rels = spark.sql(
      s"GENERATE symlink_format_manifest FOR TABLE '$t'")
      .collect().map(_.getString(0))
    assert(rels.forall(_.startsWith("_symlink_format_manifest/")))
    val listed = rels.flatMap(r =>
      new String(Files.readAllBytes(Paths.get(t, r))).split('\n'))
      .filter(_.nonEmpty).toSet
    val live = TxnLog.files(t)
      .map(f => "file:" + Paths.get(t, f)).toSet
    assert(listed == live,
      s"manifest must name exactly the live set: ${listed.size} vs " +
        s"${live.size}")
    // regeneration after a rewrite reflects the new layout and drops
    // stale partition manifests
    TxnLog.compact(spark, t, targetFiles = 1)
    val rels2 = spark.sql(
      s"GENERATE symlink_format_manifest FOR TABLE '$t'")
      .collect().map(_.getString(0))
    val listed2 = rels2.flatMap(r =>
      new String(Files.readAllBytes(Paths.get(t, r))).split('\n'))
      .filter(_.nonEmpty).toSet
    assert(listed2 == TxnLog.files(t)
      .map(f => "file:" + Paths.get(t, f)).toSet)
    assert(!Files.exists(Paths.get(t, rels.head.split('/').dropRight(1)
      .mkString("/"))) || rels2.nonEmpty)
    // DV-masked tables refuse (a path manifest cannot mask rows)
    TxnLog.deleteWhereDV(spark, t, col("n_nationkey") === 1)
    val e = intercept[Exception] { TxnLog.generateManifest(t) }
    assert(e.getMessage.contains("compact"), e.getMessage)
  }

  // ─── incremental clustering maintenance ────────────────────────────

  test("incremental clustering: second OPTIMIZE touches only " +
      "post-clustering files") {
    val t = freshTable()
    TxnLog.create(spark, t, nation.filter(col("n_nationkey") < 10))
    // the full clustering pass establishes the clustered-through
    // baseline the incremental path diffs against
    TxnLog.compact(spark, t, targetFiles = 2,
      clusterBy = Seq("n_regionkey"))
    val clustered = TxnLog.files(t)
    TxnLog.append(spark, t,
      nation.filter(col("n_nationkey").between(10, 14)))
    TxnLog.append(spark, t,
      nation.filter(col("n_nationkey").between(15, 19)))
    val arrivals = TxnLog.files(t).filterNot(clustered.contains)
    assert(arrivals.size == 2)
    val v = TxnLog.compact(spark, t, clusterBy = Seq("n_regionkey"),
      incremental = true)
    val after = TxnLog.files(t)
    assert(clustered.forall(after.contains),
      "incremental must NOT rewrite already-clustered files")
    assert(arrivals.forall(f => !after.contains(f)),
      "every post-baseline arrival must be re-laid")
    assert(TxnLog.snapshot(spark, t).count() == 20)
    // nothing new since → zero-cost no-op, not even a commit
    assert(TxnLog.compact(spark, t, clusterBy = Seq("n_regionkey"),
      incremental = true) == v)
    assert(TxnLog.versions(t).last == v)
    // the SQL spelling drives the same path
    TxnLog.append(spark, t, nation.filter(col("n_nationkey") === 20))
    val pre = TxnLog.files(t)
    spark.sql(s"OPTIMIZE '$t' ZORDER BY (n_regionkey) INCREMENTAL")
    assert(after.filter(pre.contains)
      .forall(TxnLog.files(t).contains),
      "SQL INCREMENTAL must keep the clustered set intact")
    assert(TxnLog.snapshot(spark, t).count() == 21)
  }

  // ─── multi-part checkpoints ────────────────────────────────────────

  test("multi-part checkpoints: sharded write, complete-set read, " +
      "torn set degrades to log replay") {
    System.setProperty("graft.checkpoint.shardRows", "4")
    try {
      val t = freshTable()
      TxnLog.create(spark, t, nation.filter(col("n_nationkey") < 5))
      (1 to 9).foreach(i => TxnLog.append(spark, t,
        nation.filter(col("n_nationkey") === i)))
      // v10 checkpointed on schedule — now as parts
      val log = Paths.get(t, "_txn_log")
      val names = log.toFile.list().toSeq
      val parts = names.filter(_.matches(
        """\d{20}\.checkpoint\.\d{5}\.\d{5}\.parquet"""))
      assert(parts.size >= 2, s"expected sharded checkpoint, got $names")
      assert(!names.contains(f"${10L}%020d.checkpoint.parquet"),
        "single-file checkpoint must not coexist with parts")
      val expect = TxnLog.snapshot(spark, t).count()
      // prune the log below the checkpoint: replay now MUST recover
      // the whole state from the part set alone
      TxnLog.vacuum(t, retainVersions = 1, minAgeMs = 0)
      assert(!Files.exists(log.resolve(f"${1L}%020d.log")))
      assert(TxnLog.snapshot(spark, t).count() == expect)
      assert(TxnLog.append(spark, t,
        nation.filter(col("n_nationkey") === 9)) > 10L)
      // torn part set (fresh table, log intact): an incomplete
      // checkpoint is NOT a checkpoint — replay degrades to the log
      val t2 = freshTable()
      TxnLog.create(spark, t2, nation.filter(col("n_nationkey") < 5))
      (1 to 9).foreach(i => TxnLog.append(spark, t2,
        nation.filter(col("n_nationkey") === i)))
      val log2 = Paths.get(t2, "_txn_log")
      val part2 = log2.toFile.list().toSeq.filter(_.matches(
        """\d{20}\.checkpoint\.\d{5}\.\d{5}\.parquet""")).sorted
      assert(part2.size >= 2)
      Files.delete(log2.resolve(part2.last))
      // a NEW commit forces a fresh (un-memoized) replay of the head:
      // it must treat the torn v10 checkpoint as absent and replay
      // the log from v1
      TxnLog.append(spark, t2, nation.filter(col("n_nationkey") === 0))
      assert(TxnLog.snapshot(spark, t2).count() == 15,
        "torn checkpoint must fall back to full log replay")
    } finally System.clearProperty("graft.checkpoint.shardRows")
  }

  test("opt.* log actions are ignorable forward-compat metadata") {
    val t = freshTable()
    TxnLog.create(spark, t, nation)
    // a FUTURE writer lands per-commit metadata under the opt.
    // namespace: ignorable by contract, so THIS build keeps reading
    val f = Paths.get(t, "_txn_log", f"${2L}%020d.log")
    Files.write(f, java.util.Arrays.asList(
      "op\tfuturemeta", "opt.sidecar\t{\"k\":\"v\"}", "nochange"))
    assert(TxnLog.versions(t) == Seq(1L, 2L))
    assert(TxnLog.snapshot(spark, t).count() == nation.count())
    // while a non-namespaced unknown action still refuses descriptively
    val f3 = Paths.get(t, "_txn_log", f"${3L}%020d.log")
    Files.write(f3, java.util.Arrays.asList("newsemantics\tx"))
    val e = intercept[Exception] { TxnLog.snapshot(spark, t) }
    assert(e.getMessage.contains("unknown action"))
    Files.delete(f3)
  }

  test("stats on a column without a long form refuse before staging") {
    val t = freshTable()
    val df = nation.select(col("n_nationkey"), col("n_name").as("symbol"))
    val e = intercept[IllegalArgumentException] {
      TxnLog.create(spark, t, df, statsCols = Seq("symbol"))
    }
    assert(e.getMessage.contains("symbol") && e.getMessage.contains("string"),
      s"the refusal must name the column and its type, got: ${e.getMessage}")
    assert(!TxnLog.exists(t))
    assert(!Files.exists(Paths.get(t)), "nothing may be staged")
    // appends and compactions refuse the same way; numeric stats work
    TxnLog.create(spark, t, df, statsCols = Seq("n_nationkey"))
    intercept[IllegalArgumentException] {
      TxnLog.append(spark, t, df, statsCols = Seq("symbol"))
    }
    intercept[IllegalArgumentException] {
      TxnLog.compact(spark, t, statsCols = Seq("symbol"))
    }
    assert(TxnLog.versions(t) == Seq(1L))
    // a boolean has a long form (0/1) and keeps working as a stats column
    val b = freshTable()
    TxnLog.create(spark, b,
      df.withColumn("flag", col("n_nationkey") % 2 === 0),
      statsCols = Seq("flag"))
    assert(TxnLog.snapshot(spark, b).count() == 25)
  }

  test("a retried partitioned upsert keeps a concurrent DV delete on " +
      "another partition") {
    val t = freshTable()
    TxnLog.create(spark, t, nation, partitionBy = Seq("n_regionkey"))
    // the base's only masks are in region 0, which the upsert rewrites
    TxnLog.deleteWhereDV(spark, t, col("n_nationkey") === 0)
    val base = TxnLog.versions(t).last
    // a concurrent DV delete in region 1 wins base + 1: disjoint
    // partitions, so the upsert planned at `base` retries
    TxnLog.deleteWhereDV(spark, t, col("n_nationkey") === 1)
    val v = TxnLog.upsert(spark, t,
      nation.filter(col("n_regionkey") === 0).withColumn("n_name", lit("U")),
      Seq("n_nationkey"), expectedVersion = Some(base))
    assert(v == base + 2)
    val snap = TxnLog.snapshot(spark, t)
    assert(snap.filter(col("n_nationkey") === 1).count() == 0,
      "the winner's deleted row must stay deleted")
    assert(snap.count() == 24)
    assert(TxnLog.countRows(t) == Some(24L))
  }

  test("restore on a row-tracking table re-adds converted files without " +
      "committed rowcounts") {
    val t = freshTable()
    nation.repartition(3).write.parquet(t)
    TxnLog.convertFromParquet(spark, t)
    TxnLog.compact(spark, t)
    TxnLog.setProperties(spark, t, Map(TxnLog.RowTrackKey -> "true"))
    TxnLog.restore(spark, t, 1L)
    assert(TxnLog.snapshot(spark, t).count() == 25)
    val ids = rowIds(t)
    assert(ids.size == 25 && ids.values.toSeq.distinct.size == 25,
      s"restored rows need distinct ids, got $ids")
  }

  test("overwritePartitions refuses a disjoint winner that moved rowhigh") {
    val t = freshTable()
    TxnLog.create(spark, t, nation, partitionBy = Seq("n_regionkey"))
    TxnLog.setProperties(spark, t, Map(TxnLog.RowTrackKey -> "true"))
    val base = TxnLog.versions(t).last
    // a concurrent writer on ANOTHER partition wins base + 1 and
    // allocates row ids: the partitions are disjoint, but the row-id
    // ranges this overwrite reserved against `base` now overlap its
    Files.write(Paths.get(t, "_txn_log", f"${base + 1}%020d.log"),
      java.util.Arrays.asList("op\tappend",
        "add\tn_regionkey=4/part-race.parquet",
        "rowbase\tn_regionkey=4/part-race.parquet\t1000000",
        "rowhigh\t1000005"))
    intercept[TxnLog.ConcurrentCommitException] {
      TxnLog.overwritePartitions(spark, t,
        nation.filter(col("n_regionkey") === 2), expectedVersion = Some(base))
    }
    assert(TxnLog.versions(t).last == base + 1,
      "a stale row-id reservation must never publish")
  }

  test("copy-on-write rewrites keep stats and blooms; the head still prunes") {
    import scala.jdk.CollectionConverters._
    val t = freshTable()
    val df = spark.range(0, 4000)
      .select(col("id").as("k"), concat(lit("u"), col("id")).as("tag"))
      .repartitionByRange(4, col("k"))
    TxnLog.create(spark, t, df, statsCols = Seq("k"), bloomCols = Seq("tag"))
    def headLines(v: Long) = Files.readAllLines(
      Paths.get(t, "_txn_log", f"$v%020d.log")).asScala
    val v = TxnLog.deleteWhere(spark, t, col("k") % 10 === 0)
    assert(headLines(v).exists(_.startsWith("stats\tpart-")) &&
      headLines(v).exists(_.startsWith("bloom\tpart-")),
      "a DELETE's rewritten files must carry the tracked stats/blooms")
    val full = TxnLog.snapshot(spark, t).inputFiles.length
    assert(full >= 2, s"expected a multi-file layout, got $full")
    assert(TxnLog.snapshotWhere(spark, t, "k", 0L, 99L)
      .inputFiles.length < full, "stats pruning must survive the DELETE")
    assert(TxnLog.snapshotWhereEq(spark, t, "tag", "u17")
      .inputFiles.length < full, "bloom pruning must survive the DELETE")
    assert(TxnLog.snapshot(spark, t).count() == 3600)
    // and later rewrites keep recording them
    val v2 = TxnLog.upsert(spark, t,
      spark.range(5, 7).select(col("id").as("k"), lit("x").as("tag")),
      Seq("k"))
    assert(headLines(v2).exists(_.startsWith("stats\tpart-")) &&
      headLines(v2).exists(_.startsWith("bloom\tpart-")))
  }

  test("every writer leaves the table invariants intact") {
    import scala.jdk.CollectionConverters._
    val t = freshTable()
    val p = freshTable()
    val src = Files.createTempDirectory("graft_txn_copy_").resolve("in")
    nation.filter(col("n_regionkey") === 4).write.parquet(src.toString)
    val k = col("n_nationkey")
    def renamed(df: org.apache.spark.sql.DataFrame, to: String) =
      df.withColumn("n_name", lit(to))
    val steps: Seq[(String, String, () => Long)] = Seq(
      ("create", t, () => TxnLog.create(spark, t,
        nation.filter(col("n_regionkey") < 2),
        statsCols = Seq("n_nationkey"), bloomCols = Seq("n_name"))),
      ("append", t, () =>
        TxnLog.append(spark, t, nation.filter(col("n_regionkey") === 2))),
      ("copyInto", t, () =>
        TxnLog.copyInto(spark, t, src.toString, "parquet")._1),
      ("idempotentAppend", t, () => TxnLog.idempotentAppend(spark, t,
        nation.filter(col("n_regionkey") === 3), "app", 0L)),
      ("overwrite", t, () => TxnLog.overwrite(spark, t, nation)),
      ("upsert", t, () => TxnLog.upsert(spark, t,
        renamed(nation.filter(k < 3), "U"), Seq("n_nationkey"))),
      ("merge", t, () => TxnLog.merge(spark, t,
        renamed(nation.filter(k < 5), "M"), Seq("n_nationkey"),
        matched = Seq(TxnLog.MergeClause(None, isDelete = false,
          Seq("n_name" -> col("__s.n_name")))),
        notMatched = Nil)),
      ("replaceWhere", t, () => TxnLog.replaceWhere(spark, t,
        "n_nationkey >= 20", renamed(nation.filter(k >= 20), "R"))),
      ("compact", t, () => TxnLog.compact(spark, t, targetFiles = 2)),
      ("deleteWhere", t, () => TxnLog.deleteWhere(spark, t, k === 0)),
      ("updateWhere", t, () =>
        TxnLog.updateWhere(spark, t, k === 1, Seq("n_name" -> lit("W")))),
      ("deleteWhereDV", t, () => TxnLog.deleteWhereDV(spark, t, k === 2)),
      ("updateWhereDV", t, () =>
        TxnLog.updateWhereDV(spark, t, k === 3, Seq("n_name" -> lit("D")))),
      ("create partitioned", p, () =>
        TxnLog.create(spark, p, nation, partitionBy = Seq("n_regionkey"))),
      ("upsert partitioned", p, () => TxnLog.upsert(spark, p,
        renamed(nation.filter(k < 3), "U"), Seq("n_nationkey"))),
      ("overwritePartitions", p, () => TxnLog.overwritePartitions(spark, p,
        renamed(nation.filter(col("n_regionkey") === 1), "P"))))
    steps.foreach { case (op, table, run) =>
      val before = if (TxnLog.exists(table)) TxnLog.versions(table).last
        else 0L
      assert(run() == before + 1, s"$op must commit exactly one version")
      val vs = TxnLog.versions(table)
      assert(vs == (1L to vs.last), s"$op: versions not contiguous: $vs")
      val lines = vs.flatMap(v => Files.readAllLines(
        Paths.get(table, "_txn_log", f"$v%020d.log")).asScala)
      TxnLog.files(table).foreach { f =>
        assert(lines.exists(_.startsWith(s"rowcount\t$f\t")),
          s"$op: live $f has no rowcount")
        assert(lines.exists(_.startsWith(s"fsize\t$f\t")),
          s"$op: live $f has no fsize")
      }
      assert(TxnLog.countRows(table) ==
        Some(TxnLog.snapshot(spark, table).count()),
        s"$op: countRows disagrees with the snapshot")
    }
    assert(TxnLog.versions(t).last >= 10L)
    assert(Files.exists(
      Paths.get(t, "_txn_log", f"${10L}%020d.checkpoint.parquet")),
      "version 10 must carry a checkpoint")
  }
}
