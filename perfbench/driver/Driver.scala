package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.ops.{Dedup, Watermark}
import graft.sources.TxnLog

/** The benchmark's JVM side. It runs one workload as a closed loop (one
  * client thread) through the engine's public entry points only, times
  * every op, and writes the raw record -- setups, ops, spans, Spark jobs,
  * planner and micro-batch phases, sync bookkeeping -- as one JSON file
  * for `perfbench/run.py` to check and reduce.
  *
  * Arguments are `key=value`: workload, seconds (cap of the warm phase),
  * trace (0/1), inputs (staged extracts or fixture dir), work
  * (scratch dir), out (record file); for `daily_sync` day0, max_ops
  * (cycles) and vacuum_every; for the catalogs queries and cold_queries
  * (comma lists: warm and cold order) and passes (warm passes). */
object Driver {
  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val tracer = new Tracer
    val out = new Record(tracer.now())
    out.extra += "java_version" -> Json.str(System.getProperty("java.version"))
    val workload = args("workload")
    val work = args("work")
    val trace = args("trace") == "1"
    var spark: SparkSession = null
    try {
      val run: Runner = workload match {
        case "daily_sync" => new SyncRunner(args("inputs"), LocalDate.parse(args("day0")),
          args("vacuum_every").toInt, args("max_ops").toInt)
        case _ => new CatalogRunner(args("inputs"), args("queries").split(',').toSeq,
          args("cold_queries").split(',').toSeq, s"$work/dump", args("passes").toInt)
      }
      spark = Driver.session(work)
      run.setup(spark, s"$work/tables")
      out.setupEnd = tracer.now()
      tracer.bind(spark)
      if (trace) listeners = new Listeners(spark)
      var deadline = 0L // starts after the cold pass
      run.loop(spark, tracer, out, trace, () => {
        if (deadline == 0L) deadline = tracer.now() + (args("seconds").toDouble * 1e9).toLong
        tracer.now() < deadline
      })
      tracer.on = false
      run.check(spark, out)
    } catch {
      case e: Throwable =>
        out.fatal = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    }
    out.write(Paths.get(args("out")), tracer, listeners)
    if (spark != null) spark.stop()
  }

  def session(work: String): SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("perfbench")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .config("spark.local.dir", s"$work/spark-local")
    .getOrCreate()
    .tap(_.sparkContext.setLogLevel("WARN"))

  /** Spark-side listeners of a traced run (null when untraced). */
  private var listeners: Listeners = null

  /** Time `body` as op `name`, recording a failure instead of rethrowing.
    * The listeners are attached only around a traced op, outside its
    * timing, so untraced ops run exactly as in an untraced run. */
  def op(out: Record, tracer: Tracer, name: String, phase: String, traced: Boolean)
        (body: Int => Unit): Boolean = {
    val id = out.ops.size
    val l = if (traced) listeners else null
    if (l != null) l.attach()
    tracer.on = traced
    val t0 = tracer.now()
    val err = try { tracer.span(name, id)(body(id)); null }
      catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    val t1 = tracer.now()
    tracer.on = false
    if (l != null) l.detach()
    out.ops += Op(id, name, phase, traced, t0, t1, err == null,
      Option(err).map(_.take(500)).orNull)
    err == null
  }
}

/** The raw record of one run. */
final class Record(val jvmStart: Long) {
  var setupEnd = 0L
  val ops = mutable.ArrayBuffer.empty[Op]
  val extra = mutable.LinkedHashMap.empty[String, String] // name -> JSON value
  val checkErrors = mutable.ArrayBuffer.empty[String]
  var fatal: String = null

  def write(p: Path, tracer: Tracer, l: Listeners): Unit = {
    import Json._
    val sb = new StringBuilder("{")
    sb ++= s""""jvm_start": $jvmStart, "fatal": ${str(fatal)},"""
    sb ++= s""" "setup_end": $setupEnd,"""
    sb ++= s""" "ops": ${arr(ops.map(o => obj("id" -> o.id.toString, "name" -> str(o.name),
      "phase" -> str(o.phase), "traced" -> o.traced.toString, "start" -> o.start.toString,
      "end" -> o.end.toString, "ok" -> o.ok.toString, "error" -> str(o.error))))},"""
    sb ++= s""" "spans": ${arr(tracer.spans.map(s => s"[${s.id}, ${str(s.name)}, " +
      s"${s.parent}, ${s.op}, ${s.start}, ${s.end}]"))},"""
    val (jobs, plans, batches) =
      if (l == null) (Nil, Nil, Nil)
      else l.synchronized((l.jobs.toList, l.plans.toList, l.batches.toList))
    sb ++= s""" "jobs": ${arr(jobs.map(j => Seq(j.id, j.span, j.start, j.end, j.stages,
      j.tasks, j.runMs, j.cpuNs, j.gcMs, j.shuffleWrite, j.spill, j.input, j.output)
      .mkString("[", ", ", "]")))},"""
    sb ++= s""" "plans": ${arr(plans.map(_.productIterator.mkString("[", ", ", "]")))},"""
    sb ++= s""" "batches": ${arr(batches.map(_.productIterator.mkString("[", ", ", "]")))},"""
    sb ++= s""" "check_errors": ${arr(checkErrors.map(str))}"""
    extra.foreach { case (k, v) => sb ++= s""", ${str(k)}: $v""" }
    sb ++= "}\n"
    Files.writeString(p, sb.toString)
  }
}

object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def arr(xs: Iterable[String]): String = xs.mkString("[", ", ", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

trait Runner {
  def setup(spark: SparkSession, dir: String): Unit
  /** Run the cold pass, then warm ops while `more()` holds. */
  def loop(spark: SparkSession, tracer: Tracer, out: Record, trace: Boolean,
           more: () => Boolean): Unit
  /** Untimed: dump what the output checks compare. */
  def check(spark: SparkSession, out: Record): Unit
}

/** `daily_sync`: the paper's incremental sync against a TxnLog table. */
final class SyncRunner(inputs: String, day0: LocalDate, vacuumEvery: Int, maxOps: Int)
    extends Runner {
  private val Keys = Seq("symbol", "date")
  private val Cols = Seq("symbol", "date", "open", "high", "low", "close", "extracted_at")
  private var prices, company: String = _
  private var schema: StructType = _
  // untimed per-cycle bookkeeping
  private val seen = mutable.HashMap.empty[String, Long]
  private var written, logWritten, ckptWritten, offeredBytes, offeredRows, fetchedRows = 0L
  private val perCycle = mutable.ArrayBuffer.empty[String]

  private def local(spark: SparkSession, rows: Array[Row], s: StructType): DataFrame =
    spark.createDataFrame(rows.toList.asJava, s)

  /** Watermark windows for every listed symbol (lookback, freshness 1). */
  private def windows(spark: SparkSession, table: DataFrame, keys: DataFrame,
                      lookback: Int, today: LocalDate): DataFrame = {
    val w = Watermark.syncWindows(Watermark.latestDates(table, "symbol", "date"),
      keys, "symbol", lookback, 1, lit(today.toString))
      .filter(!col("skip")).select("symbol", "target_start", "target_end")
    local(spark, w.collect(), w.schema)
  }

  private def fetch(extract: DataFrame, w: DataFrame): DataFrame =
    extract.join(broadcast(w), "symbol")
      .filter(col("date").between(col("target_start"), col("target_end")))
      .select(Cols.map(col): _*)

  private def dedup(df: DataFrame): DataFrame =
    Dedup.argmaxWindow(df, Keys, Seq(col("close").desc, col("extracted_at").desc))

  def setup(spark: SparkSession, dir: String): Unit = {
    prices = s"$dir/prices"
    company = s"$dir/company"
    val comp = spark.read.parquet(s"$inputs/company_0.parquet")
    TxnLog.create(spark, company, comp)
    val hist = spark.read.parquet(s"$inputs/history.parquet")
    schema = hist.schema
    val empty = local(spark, Array.empty, schema)
    val w = windows(spark, empty, comp.select("symbol"), 36500, day0)
    TxnLog.create(spark, prices, dedup(fetch(hist, w)),
      statsCols = Seq("date"), bloomCols = Seq("symbol"))
    seen.clear()
    walk()
  }

  /** Bytes of files that appeared (or changed size) under the price table
    * since the last walk, split into data, log and checkpoint files. */
  private def walk(): (Long, Long, Long) = {
    var data, log, ckpt = 0L
    val now = mutable.HashMap.empty[String, Long]
    Files.walk(Paths.get(prices)).iterator().asScala.filter(Files.isRegularFile(_))
      .foreach { p =>
        val k = p.toString
        val n = Files.size(p)
        now(k) = n
        if (!seen.get(k).contains(n)) {
          if (k.contains("/_txn_log/")) {
            if (p.getFileName.toString.contains("checkpoint")) ckpt += n else log += n
          } else data += n
        }
      }
    seen.clear()
    seen ++= now
    (data, log, ckpt)
  }

  def loop(spark: SparkSession, tracer: Tracer, out: Record, trace: Boolean,
           more: () => Boolean): Unit = {
    var c = 1
    var failed = false
    while (c <= maxOps && !failed && (c == 1 || more())) {
      val today = day0.plusDays(c)
      val dir = f"$inputs/cycle_$c%03d"
      val traced = trace && c % 2 == 1 && c > 1
      var offered: Array[Row] = Array.empty
      var fetchedN = 0L
      var version = 0L
      // cycle 2 is a warm-up: checked and counted, but in no latency figure,
      // because the JIT is still compiling the merge path then; it was the
      // slowest and most variable cycle in every measured run
      val phase = if (c == 1) "cold" else if (c == 2) "warmup" else "warm"
      val ok = Driver.op(out, tracer, "cycle", phase, traced) { id =>
        tracer.span("sources.overwrite", id) {
          TxnLog.overwrite(spark, company, spark.read.parquet(s"$dir/company.parquet"))
        }
        val snap = tracer.span("sources.snapshot", id)(TxnLog.snapshot(spark, prices))
        val w = tracer.span("ops.watermark", id) {
          windows(spark, snap, TxnLog.snapshot(spark, company).select("symbol"), 3, today)
        }
        val fetched = tracer.span("ops.fetch", id) {
          val rows = fetch(spark.read.parquet(s"$dir/prices.parquet"), w).collect()
          fetchedN = rows.length
          local(spark, rows, schema)
        }
        offered = tracer.span("ops.dedup", id)(dedup(fetched).collect())
        version = tracer.span("sources.merge", id) {
          val all = Cols.map(k => k -> col(s"__s.$k"))
          TxnLog.merge(spark, prices, local(spark, offered, schema), Keys,
            matched = Seq(TxnLog.MergeClause(
              Some(col("__s.extracted_at") >= col("__t.extracted_at")), isDelete = false, all)),
            notMatched = Seq(TxnLog.MergeClause(None, isDelete = false, all)))
        }
        if (c % vacuumEvery == 0) tracer.span("sources.vacuum", id) {
          TxnLog.vacuum(prices, retainVersions = 2, minAgeMs = 0L)
          TxnLog.vacuum(company, retainVersions = 2, minAgeMs = 0L)
        }
      }
      failed = !ok
      // untimed bookkeeping: bytes written, rows offered, guard outcome
      val (data, log, ckpt) = walk()
      written += data + log + ckpt
      logWritten += log
      ckptWritten += ckpt
      val bytes = offered.map(r => r.getString(0).getBytes("UTF-8").length + 4L + 32L + 8L).sum
      offeredBytes += bytes
      offeredRows += offered.length
      fetchedRows += fetchedN
      val accepted = if (!traced || !ok) -1L else
        TxnLog.changesBetween(spark, prices, version - 1, version)
          .filter(col("_change_type").isin("insert", "update_postimage")).count()
      perCycle += Json.obj("op" -> (out.ops.size - 1).toString, "version" -> version.toString,
        "fetched" -> fetchedN.toString, "offered" -> offered.length.toString,
        "accepted" -> accepted.toString, "bytes_written" -> (data + log + ckpt).toString,
        "log_bytes" -> log.toString, "checkpoint_bytes" -> ckpt.toString,
        "offered_bytes" -> bytes.toString)
      c += 1
    }
  }

  private def dirBytes(d: String): Long =
    Files.walk(Paths.get(d)).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size(_)).sum

  def check(spark: SparkSession, out: Record): Unit = {
    import Json._
    val dump = Paths.get(prices).getParent.resolve("dump").toString
    TxnLog.snapshot(spark, prices).coalesce(1).write.parquet(s"$dump/prices")
    TxnLog.snapshot(spark, company).coalesce(1).write.parquet(s"$dump/company")
    val hist = TxnLog.history(spark, prices).collect().map(r => obj(
      "version" -> r.getLong(0).toString, "operation" -> str(r.getString(1)),
      "added" -> r.getLong(2).toString, "removed" -> r.getLong(3).toString))
    val logDir = Paths.get(prices, "_txn_log")
    val (ckpt, log) = Files.list(logDir).iterator().asScala.toSeq.filter(Files.isRegularFile(_))
      .partition(_.getFileName.toString.contains("checkpoint"))
    out.extra ++= Seq(
      "sync_dump" -> str(dump),
      "checkpoint_interval" -> TxnLog.CheckpointInterval.toString,
      "sync_cycles" -> arr(perCycle),
      "sync_history" -> arr(hist),
      "sync_written" -> written.toString,
      "sync_log_written" -> logWritten.toString,
      "sync_checkpoint_written" -> ckptWritten.toString,
      "sync_offered_bytes" -> offeredBytes.toString,
      "sync_offered_rows" -> offeredRows.toString,
      "sync_fetched_rows" -> fetchedRows.toString,
      "sync_table_bytes" -> dirBytes(prices).toString,
      "sync_log_bytes" -> log.map(Files.size(_)).sum.toString,
      "sync_checkpoint_bytes" -> ckpt.map(Files.size(_)).sum.toString,
      "sync_compact_bytes" -> dirBytes(s"$dump/prices").toString)
  }
}

/** `catalog_*`: `SparkEntry.queries` entries. The cold pass runs them in
  * catalog order and writes each result for the output check; the warm
  * passes run them in the seeded order and time `count()`. */
final class CatalogRunner(fixtures: String, names: Seq[String], coldNames: Seq[String],
                          dump: String, passes: Int) extends Runner {
  private def fnsOf(ns: Seq[String]) = ns.map(n => n -> SparkEntry.queries.getOrElse(n,
    sys.error(s"no catalog query named $n")))
  private val fns = fnsOf(names)
  private val coldOrder = fnsOf(coldNames)

  def setup(spark: SparkSession, dir: String): Unit =
    graft.Tables.names.foreach(t => graft.Tables.load(spark, fixtures, t).schema)

  def loop(spark: SparkSession, tracer: Tracer, out: Record, trace: Boolean,
           more: () => Boolean): Unit = {
    var pass = 0
    var go = true
    while (go && pass <= passes) {
      // the cold pass runs in catalog order, the warm passes in seed order
      (if (pass == 0) coldOrder else fns).zipWithIndex.foreach { case ((name, fn), i) =>
        if (go && (pass == 0 || more())) {
          Driver.op(out, tracer, name, if (pass == 0) "cold" else "warm",
            trace && pass > 0 && (pass + i) % 2 == 1) { id =>
            val df = tracer.span("catalog.build", id)(fn(spark, fixtures))
            // the cold pass writes each result for the output check;
            // warm ops time count(), like graft.Bench
            if (pass == 0) tracer.span("catalog.write", id) {
              df.coalesce(1).write.mode("overwrite").parquet(s"$dump/$name")
            }
            else tracer.span("catalog.count", id)(df.count())
          }
        } else go = false
      }
      pass += 1
    }
  }

  def check(spark: SparkSession, out: Record): Unit = {
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.createDirectories(Paths.get(dump))
    Files.writeString(Paths.get(s"$dump/oracle_sql.json"),
      oracle.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}"))
    out.extra += "catalog_dump" -> Json.str(dump)
  }
}
