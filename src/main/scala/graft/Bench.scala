package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line (also written to SPARK_GRAFT_BENCH_OUT, default
  * `bench_out.json`, so harnesses never have to scrape it out of sbt log
  * noise). Results are fully materialized via a noop write (count() alone
  * would let Catalyst prune most of the work).
  *
  * Timing protocol — two round-4 lessons baked in:
  *  - every query runs `Runs` times and reports the MIN over successful
  *    runs (single-run local-mode timings at sf0.1 drift by multiples
  *    run-to-run, and even a median-of-3 inflates under sustained
  *    ambient machine load — round 5's tape vs probe); the median is
  *    reported alongside (`queries_med`) so the min-median gap shows
  *    the run conditions;
  *  - cached/localCheckpointed blocks are released between runs
  *    ([[Maintenance.releaseCachedBlocks]]) — without this, checkpointed
  *    shingle/sketch intermediates accumulate across the 50+ query sweep
  *    and squeeze executor memory for later queries (the mechanism behind
  *    round 4's phantom 21.6 s brand_profit vs its real ~2 s).
  *
  * Failure handling: a query that throws is recorded in the `failed` list
  * of the JSON line (and its stack printed to stderr) — never silently
  * timed as "fast". A transient `attempted to access non-existent
  * accumulator` trace in the DAGScheduler event loop can still appear in
  * local-mode back-to-back runs: per-query SQLMetrics are weakly
  * referenced on the driver, and a late task-end event (e.g. from a
  * broadcast-exchange job thread) that drains after its query's action
  * returned and its metrics were GC'd fails the accumulator lookup. The
  * scheduler logs and drops it; timings and results are unaffected (no
  * repo code creates accumulators — see AsofJoinExec's declared metrics).
  */
object Bench {

  private val Runs = 3

  /** One run of a registry query on `dir`: the whole plan executes into a
    * noop sink, then the session's cached blocks are released
    * ([[Maintenance.releaseCachedBlocks]]), whether or not the run threw.
    * Right is the wall time in seconds, release included; Left is what
    * the run threw. A thrown run is never timed: its near-zero work plus
    * exception overhead would let an intermittently failing query report
    * a misleadingly "fast" number.
    */
  def runOnce(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
      dir: String): Either[Throwable, Double] = {
    val t0 = System.nanoTime()
    val thrown =
      try { fn(spark, dir).write.format("noop").mode("overwrite").save(); None }
      catch { case e: Throwable => Some(e) }
      finally Maintenance.releaseCachedBlocks(spark, blocking = true)
    thrown.toLeft((System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    // JVM + codegen + parquet-footer warmup: run EVERY query once on the
    // tiniest SF so per-query timings measure the query, not first-use
    // class loading or C2 compilation of its codegen'd stages (cold first
    // runs are 4-10x the steady state).
    SparkEntry.queries.values.foreach(runOnce(spark, _, "/root/testdata/sf0.001"))

    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val times = (1 to Runs).flatMap { _ =>
        runOnce(spark, fn, sfDir) match {
          case Right(secs) => Some(secs)
          case Left(e) =>
            if (failed.add(name)) {
              System.err.println(s"[bench] $name FAILED: $e")
              e.printStackTrace()
            }
            None
        }
      }
      // MIN of the successful runs is the headline: the blocks are released
      // between runs, so every run does identical work and the spread is
      // pure ambient noise (scheduler contention, GC). Round 5's tape
      // recorded a 17.3 s median-of-3 for pricing_summary that an isolated
      // probe (and a full re-sweep) measures at 1.2-1.4 s — min is the
      // statistic that measures the query, not the machine's co-tenants.
      // The median is still reported alongside (queries_med) so the
      // min-vs-median gap itself is visible evidence of run conditions.
      name -> times.sorted
    }
    def fmt(f: Seq[Double] => Double) = results
      .collect { case (k, ts) if ts.nonEmpty => "\"" + k + "\":" + f"${f(ts)}%.3f" }
      .mkString("{", ",", "}")
    val qs  = fmt(_.head)                  // sorted: head is the min
    val med = fmt(ts => ts(ts.length / 2))
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.flatMap(_._2.headOption).sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_med":$med,"failed":$fs,"runs":$Runs,"sf":"$sfDir"}"""
    println(line)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] could not write $outPath: $e") }
    spark.stop()
  }
}
