package graft.tools

import graft.{GraftSession, Tables}
import graft.similarity.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Rerunnable measurement behind PLANS.md's IVF-recall honesty note
  * (round-9 finding): `knn_ivf`'s published 0.925 recall@10 is largely a
  * QUERY-AS-CENTROID artifact — every query id (% 100 == 0) is also a
  * modular centroid id (% 50 == 0), the query's own vector is always its
  * rank-1 probe (cos = 1), and a query's true top-10 neighbors
  * overwhelmingly assign to the query's own Voronoi cell. Remove the
  * query ids from the centroid set (50 | id but not 100 | id, C=20) and
  * recall collapses to ~0.315 — within noise of the √N rule's honest
  * 0.335 at nprobe=3 on this near-isotropic corpus.
  *
  * The lesson is a measurement law, not an operator bug: an IVF recall
  * claim is only meaningful when the query set is DISJOINT from the
  * centroid seeds (the eval-suite analog of train/test splitting), and
  * on cluster-free geometry nprobe=3 routing honestly recalls ~1/3 —
  * the reason trained centroids ([[Similarity.knnIvfTrainedOn]], planted
  * -cluster spec) and the PQ rerank tiers exist.
  *
  * Usage: `runMain graft.tools.IvfArtifactProbe [sfDir]`.
  */
object IvfArtifactProbe {

  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = GraftSession(16)
    val e = Similarity.withNorms(Tables.embeddings(spark, dir))
    val brute = Similarity.knnBruteOn(e).select(col("query_id"), col("neighbor_id"))
    val denom = brute.count()
    def recall(df: DataFrame): Double =
      df.select(col("query_id"), col("neighbor_id"))
        .join(brute, Seq("query_id", "neighbor_id"), "left_semi")
        .count().toDouble / denom
    // modular centroids with the query ids REMOVED: 50|id but not 100|id
    val cNoQueries = e.filter(col("vec_id") % 50 === 0 && col("vec_id") % 100 =!= 0)
      .select(col("vec_id").as("centroid_id"), col("v").as("vb"), col("n2").as("cn2"))
    println(f"IVFARTIFACT op=knn_ivf(modular,queries-are-centroids) recall=${recall(Similarity.knnIvfOn(e))}%.3f")
    println(f"IVFARTIFACT op=knn_ivf(modular-minus-queries) recall=${recall(Similarity.knnIvfWith(e, cNoQueries))}%.3f")
    // the nprobe recall curve: the axis production actually tunes
    Seq(3, 6, 12).foreach { np =>
      println(f"IVFARTIFACT op=knn_ivf_sqrt nprobe=$np%d recall=${recall(Similarity.knnIvfSqrtOn(e, np))}%.3f")
    }
    spark.stop()
  }
}
