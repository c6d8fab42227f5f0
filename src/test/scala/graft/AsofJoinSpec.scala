package graft

import graft.plans.AsofJoin
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** The native as-of join operator: semantics, null handling, and
  * equivalence with the composition-based formulation on real data.
  */
class AsofJoinSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("basic semantics: latest right row at or before left time, per key") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val quotes = Seq(
      ("A", ts("2024-01-01 10:00:00"), 100.0),
      ("A", ts("2024-01-01 10:05:00"), 105.0),
      ("B", ts("2024-01-01 10:01:00"), 50.0))
      .toDF("symbol", "qt", "quote")
    val trades = Seq(
      ("A", ts("2024-01-01 09:59:00"), 1L), // before any quote → null
      ("A", ts("2024-01-01 10:00:00"), 2L), // exactly at → 100
      ("A", ts("2024-01-01 10:04:59"), 3L), // between → 100
      ("A", ts("2024-01-01 10:30:00"), 4L), // after both → 105
      ("B", ts("2024-01-01 10:02:00"), 5L), // B's own quote, not A's → 50
      ("C", ts("2024-01-01 12:00:00"), 6L)) // key with no quotes → null
      .toDF("symbol", "tt", "trade_id")

    val out = AsofJoin.asofJoin(trades, quotes, "symbol", "tt", "qt")
      .select("trade_id", "quote").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out == Map(
      1L -> None, 2L -> Some(100.0), 3L -> Some(100.0),
      4L -> Some(105.0), 5L -> Some(50.0), 6L -> None))
  }

  test("exec node populates its SQLMetrics (output and matched rows)") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val quotes = Seq(("A", ts("2024-01-01 10:00:00"), 1.0)).toDF("symbol", "qt", "q")
    val trades = Seq(
      ("A", ts("2024-01-01 09:00:00"), 1L), // before the quote → unmatched
      ("A", ts("2024-01-01 11:00:00"), 2L),
      ("A", ts("2024-01-01 12:00:00"), 3L))
      .toDF("symbol", "tt", "trade_id")
    val df = AsofJoin.asofJoin(trades, quotes, "symbol", "tt", "qt")
    assert(df.collect().length == 3)
    // AQE wraps the node in query stages, which are leaves for tree
    // traversal — recurse through both children and stage plans
    def find(p: org.apache.spark.sql.execution.SparkPlan): Option[graft.plans.AsofJoinExec] =
      p match {
        case a: graft.plans.AsofJoinExec => Some(a)
        case ad: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          find(ad.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => find(q.plan)
        case other => other.children.iterator.flatMap(c => find(c).iterator).nextOption()
      }
    val exec = find(df.queryExecution.executedPlan).get
    assert(exec.metrics("numOutputRows").value == 3L)
    assert(exec.metrics("numMatchedRows").value == 2L)
  }

  test("native operator matches the union+window composition on testdata") {
    GraftExtensions.register(spark)
    val dir    = "/root/testdata/sf0.001"
    // normalize event_time to one timestamp type before rendering: the
    // native path carries the scan's TIMESTAMP_NTZ through, while the
    // composition's union with the bar timeline coerces to LTZ — same
    // instants under the UTC session, different Row rendering
    val native = graft.analytics.TimeSeriesAnalytics.ticksAsofBarsNative(spark, dir)
      .withColumn("event_time", col("event_time").cast("timestamp"))
      .collect().map(_.toString).sorted
    val composed = graft.analytics.TimeSeriesAnalytics.ticksAsofBars(spark, dir)
      .withColumn("event_time", col("event_time").cast("timestamp"))
      .collect().map(_.toString).sorted
    assert(native.toSeq == composed.toSeq)
  }

  test("optimizer rule pushes left-only filters below the as-of join") {
    GraftExtensions.register(spark)
    import spark.implicits._
    // checkpointed: a LocalRelation left side would fold the pushed filter
    // into the relation itself, leaving no Filter node to find
    val l = Seq(("A", ts("2024-01-01 10:00:00"), 1L),
      ("B", ts("2024-01-01 10:00:00"), 2L)).toDF("symbol", "t", "v").localCheckpoint()
    val r = Seq(("A", ts("2024-01-01 09:00:00"), 2.0)).toDF("symbol", "rt", "x")
    val joined   = AsofJoin.asofJoin(l, r, "symbol", "t", "rt")
    val filtered = joined.filter(col("symbol") === "A" && col("x") > 1.0)
    // left-only conjunct sits BELOW the join in the optimized plan…
    val opt = filtered.queryExecution.optimizedPlan
    val node = opt.collectFirst { case n: graft.plans.AsofJoinNode => n }.get
    assert(node.left.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }.nonEmpty, opt.toString)
    // …and results are correct
    val rows = filtered.collect()
    assert(rows.length == 1 && rows(0).getString(0) == "A" && rows(0).getDouble(3) == 2.0)
  }

  test("null keys and times match nothing, without corrupting the merge") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val quotes = Seq(
      (Option("A"), Option(ts("2024-01-01 10:00:00")), 100.0),
      (None: Option[String], Option(ts("2024-01-01 09:00:00")), 666.0),
      (Option("A"), None: Option[Timestamp], 777.0))
      .toDF("symbol", "qt", "quote")
    val trades = Seq(
      (Option("A"), Option(ts("2024-01-01 10:30:00")), 1L),
      (None: Option[String], Option(ts("2024-01-01 10:30:00")), 2L),
      (Option("A"), None: Option[Timestamp], 3L))
      .toDF("symbol", "tt", "trade_id")
    val out = AsofJoin.asofJoin(trades, quotes, "symbol", "tt", "qt")
      .select("trade_id", "quote").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out == Map(1L -> Some(100.0), 2L -> None, 3L -> None))
  }

  test("plan shape: clustered exchanges + sorts, no cartesian") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val l = Seq(("A", ts("2024-01-01 10:00:00"), 1L)).toDF("symbol", "t", "v")
    val r = Seq(("A", ts("2024-01-01 09:00:00"), 2.0)).toDF("symbol", "rt", "x")
    val plan = AsofJoin.asofJoin(l, r, "symbol", "t", "rt")
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsofJoin"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"))
  }
}
