package graft

import graft.plans.{EagerMinMaxAggregation, NanosPredicatePushdown}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

/** Optimizer-rule spec: predicates on the nanos-converted ts column reach
  * the parquet scan as pushed filters once NanosPredicatePushdown is
  * active, and results are unchanged for every comparison shape. The
  * session injects both rules (GraftExtensions); each equivalence check
  * compares against the same query with the rule excluded. */
class PlanRuleSpec extends SparkSpec {

  /** Run `body` with `rule` excluded from the optimizer. Plans are
    * optimized lazily, so whatever optimizes must happen inside. */
  private def without[T](rule: Rule[LogicalPlan])(body: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, rule.ruleName)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** `events` in the generation-1 layout: `ts` stored as a nanos LONG
    * and surfaced through `Tables.tsCol`, the shape the rule rewrites
    * (the current fixture stores TIMESTAMP, which pushes down natively). */
  private lazy val nanosEvents = {
    val dir = TempWork.fresh("planrule") + "/events"
    Tables.load(spark, sf0001, "events")
      .select(col("event_id"), (unix_micros(col("ts")) * 1000L).as("ts"))
      .write.parquet(dir)
    val raw = spark.read.parquet(dir)
    raw.select(col("event_id"), Tables.tsCol(raw.schema("ts").dataType).as("ts"))
  }

  private def tsRange(events: org.apache.spark.sql.DataFrame) = events
    .filter(col("ts") >= lit("2024-01-10") && col("ts") < lit("2024-01-15"))
    .select("event_id")
    .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)

  private val rawLongTs = """(GreaterThanOrEqual|LessThan)\(ts,\d+\)""".r

  test("ts range predicate is pushed into the parquet scan") {
    val plan = tsRange(Tables.load(spark, sf0001, "events"))
    assert(plan.contains("GreaterThanOrEqual(ts,") && plan.contains("LessThan(ts,"),
      s"expected raw-long ts pushed filters, got:\n$plan")
    val nanos = tsRange(nanosEvents)
    assert(rawLongTs.findAllIn(nanos).size == 2,
      s"expected raw-long ts pushed filters, got:\n$nanos")
    // the baseline the equivalence checks below compare against
    val off = without(NanosPredicatePushdown)(tsRange(nanosEvents))
    assert(rawLongTs.findFirstIn(off).isEmpty,
      s"excluding the rule must leave no raw-long ts pushed filter:\n$off")
  }

  test("all four comparison shapes rewrite without changing results") {
    val preds = Seq(
      col("ts") >= lit("2024-01-10"), col("ts") > lit("2024-01-10"),
      col("ts") <= lit("2024-01-10"), col("ts") < lit("2024-01-10"),
      lit("2024-01-10").cast("timestamp") <= col("ts"))
    for (e <- Seq(Tables.load(spark, sf0001, "events"), nanosEvents); p <- preds) {
      val plain = without(NanosPredicatePushdown)(e.filter(p).count())
      val ruled = e.filter(p).count()
      assert(ruled === plain, s"result changed under rewrite for $p")
    }
  }

  test("boundary exactness: micros at and around a whole-second literal") {
    import spark.implicits._
    // raw nanos values straddling 2024-01-10T00:00:00 within 1µs
    val base = java.time.Instant.parse("2024-01-10T00:00:00Z")
    val baseNs = base.getEpochSecond * 1000000000L
    val df = Seq(baseNs - 1500, baseNs - 500, baseNs, baseNs + 500, baseNs + 1500)
      .toDF("ts_ns")
      .select(timestamp_micros(expr("ts_ns div 1000")).as("ts"), col("ts_ns"))
    val p = col("ts") >= lit("2024-01-10")
    val plain = without(NanosPredicatePushdown)(
      df.filter(p).select("ts_ns").collect().map(_.getLong(0)).sorted)
    val ruled = df.filter(p).select("ts_ns").collect().map(_.getLong(0)).sorted
    assert(ruled === plain)
    // truncation: baseNs-500 lands on the microsecond BEFORE midnight
    assert(plain === Array(baseNs, baseNs + 500, baseNs + 1500))
  }

  private def eagerQuery() = {
    val li = Tables.load(spark, sf0001, "lineitem")
    val ords = Tables.load(spark, sf0001, "orders")
      .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    li.join(ords, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey")
      .agg(min("l_extendedprice").as("min_price"),
        max("l_shipdate").as("max_ship"))
  }

  test("eager min/max aggregation pushes the aggregate below the join") {
    val q = eagerQuery()
    val plan = q.queryExecution.optimizedPlan.toString
    val ruled = q.orderBy("l_orderkey").collect().toSeq
    // optimized logical plan: Aggregate over Join over Aggregate — the
    // partial grouping sits on the join's left input
    val aggIdx = plan.indexOf("Aggregate")
    val joinIdx = plan.indexOf("Join", aggIdx + 1)
    val partialIdx = plan.indexOf("Aggregate", joinIdx + 1)
    assert(aggIdx >= 0 && joinIdx > aggIdx && partialIdx > joinIdx,
      s"expected Aggregate → Join → Aggregate, got:\n$plan")
    val (offPlan, plain) = without(EagerMinMaxAggregation) {
      val q = eagerQuery()
      (q.queryExecution.optimizedPlan.toString,
        q.orderBy("l_orderkey").collect().toSeq)
    }
    val offJoin = offPlan.indexOf("Join")
    assert(offJoin >= 0 && !offPlan.substring(offJoin).contains("Aggregate"),
      s"excluding the rule must leave no Aggregate below the Join:\n$offPlan")
    assert(ruled === plain, "rewrite changed results")
  }

  test("eager aggregation leaves SUM (multiplicity-sensitive) untouched") {
    val li = Tables.load(spark, sf0001, "lineitem")
    val ords = Tables.load(spark, sf0001, "orders").select("o_orderkey")
    val plan = li.join(ords, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey").agg(sum("l_quantity").as("s"))
      .queryExecution.optimizedPlan.toString
    val joinIdx = plan.indexOf("Join")
    assert(joinIdx >= 0 && !plan.substring(joinIdx).contains("Aggregate"),
      s"SUM must not be pushed below the join:\n$plan")
  }

  test("eager aggregation skips non-equi join conditions") {
    val li = Tables.load(spark, sf0001, "lineitem")
    val ords = Tables.load(spark, sf0001, "orders")
      .select("o_orderkey", "o_orderdate")
    val plan = li.join(ords, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate"))
      .groupBy("l_orderkey").agg(min("l_extendedprice").as("m"))
      .queryExecution.optimizedPlan.toString
    val joinIdx = plan.indexOf("Join")
    assert(joinIdx >= 0 && !plan.substring(joinIdx).contains("Aggregate"),
      s"range conjunct must disable the rewrite:\n$plan")
  }
}
