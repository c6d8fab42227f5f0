package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.functions._

/** Plan audits over the registry, on Bench's session
  * ([[graft.GraftSession]]) so what is audited is what Verify and Bench
  * run. Plan compilation only, nothing executes; sfDir defaults to sf0.001.
  *
  *   runMain graft.tools.PlanAudit explain [nameSubstring] [sfDir]
  *
  * prints `.explain("formatted")` for every query whose name contains the
  * substring (default: all), each under a `========== <name> ==========`
  * header that `tools/split_plans.py` splits on.
  *
  *   runMain graft.tools.PlanAudit [sfDir]
  *
  * is the probe-methodology audit (round 11): for every registry query,
  * compare the join count of the op's own optimized plan against the plan
  * of its `count()` shape (`df.select(lit(1))`).
  * Where they differ, Catalyst is ELIMINATING distinct-keyed left-join
  * legs whose outputs a bare count() never references — correct optimizer
  * behavior, but any TIMING probe that counts such a frame without a
  * materialization guard measures a smaller plan than it claims to. This
  * audit found 15 affected shapes in round 11 (dedup_ensemble's lexical
  * screen never ran in its first probe row); `ScaleProbe.guard` is the
  * fix — a hash-inequality over every output column that no rule can fold
  * (`keep >= 0`-style guards constant-fold when the column's range is
  * provable, and the elimination still fires).
  */
object PlanAudit {

  private def joins(p: LogicalPlan): Int = p.collect { case j: Join => j }.length

  def main(argv: Array[String]): Unit = {
    val explain = argv.headOption.contains("explain")
    val sel = if (explain) argv.lift(1).getOrElse("") else ""
    val args = if (explain) argv.drop(2) else argv
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession(8)
    SparkEntry.queries.toSeq.sortBy(_._1).filter(_._1.contains(sel)).foreach { case (name, fn) =>
      if (explain) {
        println(s"\n========== $name ==========")
        try fn(spark, dir).explain("formatted")
        catch { case e: Throwable => println(s"[plan-audit] $name failed: $e") }
      } else try {
        val df = fn(spark, dir)
        val full = joins(df.queryExecution.optimizedPlan)
        val counted = joins(df.select(lit(1)).queryExecution.optimizedPlan)
        if (counted < full)
          println(s"[audit] $name: joins full=$full counted=$counted eliminated=${full - counted}")
      } catch {
        case e: Throwable =>
          println(s"[audit] $name FAILED: ${String.valueOf(e.getMessage).take(120)}")
      }
    }
    spark.stop()
  }
}
