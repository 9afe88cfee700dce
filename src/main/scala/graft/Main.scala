package graft

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** D6: single CLI entry point (the reference's argparse dispatch,
  * `src/main.py:31-67`, re-expressed as one `runMain graft.Main
  * <command>` that routes to the tool mains). Each tool remains
  * independently runnable — this is the front door, not a wrapper layer.
  */
object Main {
  private val usage =
    """usage: graft.Main <command> [args]
      |
      |  bench                          time all queries (env: SPARK_GRAFT_SF_DIR,
      |                                 SPARK_GRAFT_ONLY, SPARK_GRAFT_ONE_SHOT_CUTOFF)
      |  verify <sfDir> <outDir>        dump query results + oracle SQL for the
      |                                 DuckDB correctness compare
      |  profile <query>...             cold and warm wall, Spark jobs, stages and
      |                                 micro-batches of the warm pass, per query
      |  smoke <query>...               show rows + physical plan per query
      |  explain <query>...             formatted plan per query
      |  scale-probe                    1x/10x/100x linearity probe
      |  entry                          run the flagship query (sf0.001), print row count
      |
      |Every command runs on graft.Session: local[SPARK_GRAFT_CPUS] (default 4).
      |profile, smoke and explain read SPARK_GRAFT_SF_DIR (default sf0.1).
      |Spark settings for an A/B: -Dspark.<key>=<value> on the JVM
      |(e.g. JAVA_TOOL_OPTIONS=-Dspark.sql.adaptive.enabled=false).
      |""".stripMargin

  def main(args: Array[String]): Unit = args.toList match {
    case "bench" :: rest        => Bench.main(rest.toArray)
    case "verify" :: sf :: out :: Nil => Verify.main(Array(sf, out))
    case "scale-probe" :: Nil   => ScaleProbe.main(Array.empty)
    case "entry" :: Nil => withSession { spark =>
      println(s"ENTRY_ROWS=${SparkEntry.entry(spark).count()}")
    }
    case "profile" :: qs if qs.nonEmpty => withSession { spark =>
      qs.foreach(q => profile(spark, sfDir, q).lines.foreach(println))
    }
    case "smoke" :: qs if qs.nonEmpty => withSession { spark =>
      qs.foreach { q =>
        val df = SparkEntry.queries(q)(spark, sfDir)
        println(s"===== $q =====")
        df.show(12, truncate = false)
        println(df.queryExecution.executedPlan.toString.take(4000))
      }
    }
    case "explain" :: qs if qs.nonEmpty => withSession { spark =>
      qs.foreach { q =>
        println(s"=== $q ===")
        SparkEntry.queries(q)(spark, sfDir).explain("formatted")
      }
    }
    case _ =>
      System.err.println(usage)
      sys.exit(2)
  }

  private def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  private def withSession(body: SparkSession => Unit): Unit = {
    val spark = Session.local()
    try body(spark) finally spark.stop()
  }

  /** One query's profile. `jobs` are the warm pass's Spark job intervals
    * (epoch ms, as the listener bus stamps them); `stages` and `batches`
    * are its per-stage and per-micro-batch lines. */
  final case class QueryProfile(name: String, coldS: Double, warmS: Double,
                                jobs: Seq[(Long, Long)], stages: Seq[String],
                                batches: Seq[String]) {
    def jobS: Double = jobs.map { case (s, e) => e - s }.sum / 1e3
    /** Warm wall minus the union of the job intervals: the time the
      * driver spent outside every Spark job (planning, commits, the
      * micro-batch loop). Overlapping jobs count once. */
    def driverOnlyS: Double = {
      val (covered, _) = jobs.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
        case ((sum, reach), (s, e)) =>
          (sum + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
      }
      warmS - covered / 1e3
    }
    def lines: Seq[String] =
      (f"PROFILE $name%-28s cold=$coldS%.3f s warm=$warmS%.3f s " +
        f"jobs=${jobs.size}%d job_s=$jobS%.3f driver_only_s=$driverOnlyS%.3f") +:
        (stages ++ batches)
  }

  /** Run `name` twice on `spark`: a cold pass, then a warm pass with one
    * `SparkListener` and one `StreamingQueryListener` attached, both
    * removed in a `finally`. Attributes the warm pass's time to Spark
    * jobs and stages, to micro-batch phases (`durationMs`) for a
    * streaming query, and to the driver-only remainder. */
  def profile(spark: SparkSession, sfDir: String, name: String): QueryProfile = {
    import scala.jdk.CollectionConverters._
    val fn = SparkEntry.queries(name)
    def timed(): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    val cold = timed()
    // callbacks fire on the listener-bus thread; concurrent collections
    // plus the drain below publish them to this thread
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobL = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(e.jobId, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.add((starts.getOrDefault(e.jobId, e.time), e.time))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val ms = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        stages.add(si.stageId ->
          f"  STAGE ${si.stageId}%4d $ms%6d ms tasks=${si.numTasks}%3d  ${si.name.take(60)}")
      }
    }
    val streamL = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val parts = p.durationMs.asScala.toSeq.sortBy(-_._2)
          .map { case (k, v) => s"$k=$v" }.mkString(" ")
        batches.add(f"  BATCH ${p.batchId}%2d rows=${p.numInputRows}%6d  $parts")
      }
    }
    val sc = spark.sparkContext
    ListenerDrain(sc) // no cold-pass event may reach the warm listeners
    sc.addSparkListener(jobL)
    spark.streams.addListener(streamL)
    val warm = try timed() finally {
      ListenerDrain(sc)
      sc.removeSparkListener(jobL)
      spark.streams.removeListener(streamL)
    }
    QueryProfile(name, cold, warm, jobs.asScala.toSeq,
      stages.asScala.toSeq.sortBy(_._1).map(_._2), batches.asScala.toSeq)
  }
}
