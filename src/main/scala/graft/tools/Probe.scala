package graft.tools

/** Ad-hoc probe main: run a comma-separated list of registry queries
  * (args(0)) against a given SF dir (args(1), default sf0.1) and report
  * wall time or the thrown exception per query. Uses Bench's session
  * ([[graft.GraftSession]]) so failures reproduce identically.
  *
  * args(2): timed runs per query (default 1) — reports min + all times,
  * Bench's statistic, after one untimed warm-up run as in Bench, so
  * probe numbers are comparable to tape numbers.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").toSeq).getOrElse(Seq.empty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs  = if (args.length > 2) args(2).toInt else 1
    val spark = graft.GraftSession(32)
    names.foreach { name =>
      // Lookup inside the try: a misspelled name prints FAILED and the
      // loop continues with the remaining queries. Run 0 is the warm-up.
      val times = (0 to runs).flatMap { i =>
        val t0 = System.nanoTime()
        try {
          graft.SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9).filter(_ => i > 0)
        } catch {
          case e: Throwable =>
            println(s"[probe] $name FAILED: $e")
            e.printStackTrace()
            None
        } finally graft.Maintenance.releaseCachedBlocks(spark, blocking = true)
      }
      if (times.nonEmpty)
        println(f"[probe] $name min=${times.min}%.2f s all=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
