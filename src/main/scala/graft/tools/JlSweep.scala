package graft.tools

import graft.similarity.JlProject
import org.apache.spark.sql.functions._

/** Published tuning surface for the sign-JL tier: cosine distortion vs
  * projection width P on the real embeddings — the knob a user turns
  * when trading scan bytes for rank fidelity, swept the same way the
  * ANN tier published its nprobe×fetch surface.
  *
  * Usage: `runMain graft.tools.JlSweep [sfDir] [P,P,...]`
  * (defaults sf0.1 and 4,8,16,32). Prints one `JLSWEEP` line per P with
  * mean/p90/max |cos_q − cos_p| over the deterministic audit pairs.
  */
object JlSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val ps    = (if (args.length > 1) args(1) else "4,8,16,32")
      .split(",").map(_.trim.toInt).toSeq
    val spark = graft.GraftSession(32)
    val geom = sys.env.getOrElse("JL_GEOM", "corpus")
    // materialize the corpus once: the synthetic clustered frame is an
    // expression chain, and referencing it across the sweep's joins
    // would re-derive the hash vectors per element (the HOF re-inline
    // gotcha) — checkpointing makes it a table like the parquet path
    val emb =
      (if (geom == "clustered") RecallProbe.clusteredEmb(spark, 2000, 16)
       else graft.Tables.embeddings(spark, sfDir)).localCheckpoint()
    // exact-cosine ground truth for the recall column (knn_brute's own
    // definition over the same corpus)
    val truth = graft.similarity.Similarity
      .knnBruteOn(graft.similarity.Similarity.withNorms(emb))
      .select(col("query_id"), col("neighbor_id")).cache()
    val denom = truth.count()
    ps.foreach { p =>
      val errs = JlProject.jlDistortionOn(emb, p)
        .filter(col("nsq1_q") > 0 && col("nsq2_q") > 0 &&
          col("nsq1_p") > 0 && col("nsq2_p") > 0)
        .select(abs(
          col("dot_q") / sqrt(col("nsq1_q") * col("nsq2_q")) -
            col("dot_p") / sqrt(col("nsq1_p") * col("nsq2_p"))).as("err"))
      val row = errs.agg(
        avg(col("err")).as("mean"),
        expr("percentile(err, 0.9)").as("p90"),
        max(col("err")).as("max"),
        count(lit(1)).as("pairs")).collect()(0)
      val hits = JlProject.knnJlOn(emb, p)
        .select(col("query_id"), col("neighbor_id"))
        .join(truth, Seq("query_id", "neighbor_id"), "left_semi").count()
      println(f"JLSWEEP geom=$geom%s p=$p%d mean=${row.getDouble(0)}%.3f " +
        f"p90=${row.getDouble(1)}%.3f max=${row.getDouble(2)}%.3f " +
        f"pairs=${row.getLong(3)}%d theory=${1.0 / math.sqrt(p)}%.3f " +
        f"recall10=${hits.toDouble / denom}%.3f")
    }
    spark.stop()
  }
}
