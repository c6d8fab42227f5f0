package graft.tools

import graft.{Bench, GraftSession, ScaleProbe, SparkEntry}

/** Ad-hoc probe main: time a comma-separated list of registry queries
  * against a table directory and report wall time or the thrown exception
  * per query. Uses Bench's session ([[graft.GraftSession]]) and Bench's
  * single run ([[graft.Bench.runOnce]]) so failures reproduce identically.
  *
  *   runMain graft.tools.Probe <keys> [sfDir] [runs] [scales] [tmpDir]
  *
  *  - `sfDir`: the source tables (default sf0.1);
  *  - `runs`: timed runs per query (default 1) — reports min + all times,
  *    Bench's statistic, after one untimed warm-up run as in Bench, so
  *    probe numbers are comparable to tape numbers;
  *  - `scales`: a comma list of replica counts (default `1`). Scale 1 reads
  *    `sfDir`; scale N reads [[graft.ScaleProbe.scaledDir]]`(sfDir, N,
  *    tmpDir)`, built once on first use (default tmpDir
  *    `/tmp/scale_probe`). The warm-up also builds a served key's store,
  *    so the timed runs pay only the read.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val names  = args.headOption.map(_.split(",").toSeq).getOrElse(Seq.empty)
    val sfDir  = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs   = if (args.length > 2) args(2).toInt else 1
    val scales = if (args.length > 3) args(3).split(",").map(_.trim.toInt).toSeq else Seq(1)
    val tmp    = if (args.length > 4) args(4) else "/tmp/scale_probe"
    val spark = GraftSession(32)
    scales.foreach { copies =>
      val dir = if (copies == 1) sfDir else ScaleProbe.scaledDir(spark, sfDir, copies, tmp)
      names.foreach { name =>
        SparkEntry.queries.get(name) match {
          // a misspelled name prints FAILED and the loop continues
          case None => println(s"[probe] $name FAILED: no such registry key")
          case Some(fn) =>
            // run 0 is the warm-up
            val times = (0 to runs).flatMap { i =>
              Bench.runOnce(spark, fn, dir) match {
                case Right(secs) => Some(secs).filter(_ => i > 0)
                case Left(e) =>
                  println(s"[probe] $name FAILED: $e")
                  e.printStackTrace()
                  None
              }
            }
            if (times.nonEmpty)
              println(f"[probe] $name scale=$copies%d min=${times.min}%.2f s all=${times.map(t => f"$t%.2f").mkString(",")}")
        }
      }
    }
    spark.stop()
  }
}
