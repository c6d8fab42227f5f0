package graft.tools

import graft.{GraftSession, SparkEntry}

/** Physical plans of the registry, on Bench's session
  * ([[graft.GraftSession]]) so what is printed is what Verify and Bench
  * run. Plan compilation only, nothing executes; sfDir defaults to sf0.001.
  *
  *   runMain graft.tools.PlanAudit explain [nameSubstring] [sfDir]
  *
  * prints `.explain("formatted")` for every query whose name contains the
  * substring (default: all), each under a `========== <name> ==========`
  * header that `tools/split_plans.py` splits on.
  */
object PlanAudit {

  def main(argv: Array[String]): Unit = {
    require(argv.headOption.contains("explain"),
      "usage: PlanAudit explain [nameSubstring] [sfDir]")
    val sel = argv.lift(1).getOrElse("")
    val dir = argv.lift(2).getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession(8)
    SparkEntry.queries.toSeq.sortBy(_._1).filter(_._1.contains(sel)).foreach { case (name, fn) =>
      println(s"\n========== $name ==========")
      try fn(spark, dir).explain("formatted")
      catch { case e: Throwable => println(s"[plan-audit] $name failed: $e") }
    }
    spark.stop()
  }
}
