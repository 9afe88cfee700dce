package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev-only streaming profiler: `runMain graft.StreamProbe <query>` runs
  * the named `SparkEntry.queries` entry (warm, then timed) with a
  * [[StreamingQueryListener]] printing every micro-batch's own
  * `durationMs` breakdown — triggerExecution, queryPlanning, getBatch,
  * addBatch, walCommit, commitOffsets, latestOffset — plus state
  * operator commit times. StageProbe localizes task time; this
  * localizes the DRIVER-side fixed cost of the micro-batch loop, which
  * tasks never see (VERDICT r15: 8 stream/replay queries ≥2s whose
  * oracles replay in ~0.02s — attribute before touching). */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val qname = if (args.nonEmpty) args(0) else "q252_stream_join_agg"
    // honor SPARK_GRAFT_CPUS like Bench does, so the per-batch phases
    // come from the same core and partition count as the benchmark's
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_EXTRA_CONF="k=v;k=v" — knob A/Bs (codec, provider…)
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(';')
      .map(_.trim).filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
        println(s"CONF $k=$v")
      })
    val fn = SparkEntry.queries(qname)
    fn(spark, sfDir).count() // warm-up (JIT + codegen + landing cache)

    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        println(s"QUERY START ${e.id}")
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        import scala.jdk.CollectionConverters._
        val parts = d.asScala.toSeq.sortBy(-_._2)
          .map { case (k, v) => f"$k=$v%d" }.mkString(" ")
        println(f"BATCH ${p.batchId}%2d rows=${p.numInputRows}%6d  $parts")
        p.stateOperators.foreach(so =>
          println(f"  STATE ${so.operatorName}%-28s rows=${so.numRowsTotal}%6d " +
            f"upd=${so.allUpdatesTimeMs}%4d rm=${so.allRemovalsTimeMs}%4d " +
            f"commit=${so.commitTimeMs}%5d ms mem=${so.memoryUsedBytes / 1024}%6d KB"))
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        println(s"QUERY END   ${e.id}")
    })
    val t0 = System.nanoTime()
    fn(spark, sfDir).count()
    println(f"WARM TOTAL ${(System.nanoTime() - t0) / 1e9}%6.2f s")
    Thread.sleep(1000) // listener-bus drain
    spark.stop()
  }
}
