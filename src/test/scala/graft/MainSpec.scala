package graft

import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Millis, Seconds, Span}

/** `graft.Main profile`: the method behind the command, on the shared
  * session (`main` stops the session it builds). */
class MainSpec extends SparkSpec {

  test("profile: cold and warm wall, jobs within the warm wall, micro-batches") {
    val sc = spark.sparkContext
    val pinnedBefore = sc.getPersistentRDDs.keySet
    val ps = Seq("q188_eager_agg", "q95_stream_enrich")
      .map(Main.profile(spark, sf0001, _))
    ps.foreach { p =>
      assert(p.coldS > 0 && p.warmS > 0, p.lines.head)
      assert(p.jobs.nonEmpty, p.lines.head)
      assert(p.jobS <= p.warmS + 0.005, p.lines.mkString("\n"))
      assert(p.driverOnlyS >= -0.005, p.lines.head)
      assert(p.lines.head.startsWith(s"PROFILE ${p.name}"))
    }
    assert(ps(0).batches.isEmpty, ps(0).lines.mkString("\n"))
    assert(ps(1).batches.nonEmpty, ps(1).lines.mkString("\n"))
    assert(spark.streams.active.isEmpty, "profile left a stream running")
    // q95 hands its caller a pinned result (EventStream.runToResult);
    // Spark unpersists such a pin once it is unreachable, so a pin that
    // outlives repeated GCs is one that profile still holds
    eventually(timeout(Span(10, Seconds)), interval(Span(200, Millis))) {
      System.gc()
      assert((sc.getPersistentRDDs.keySet -- pinnedBefore).isEmpty,
        "profile left a persisted RDD behind")
    }
  }
}
