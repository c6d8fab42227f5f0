package graft.tools

import graft.{GraftExtensions, GraftSession, ScaleProbe, Tables}
import graft.similarity.{IvfTrained, PqAnn}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reproducible recall@10 measurement for the PQ ANN tiers — the number
  * PLANS.md's recall table publishes, as a main instead of an ad-hoc
  * shell session (round-8 lesson: a recall claim needs a rerunnable
  * probe next to it).
  *
  * Ground truth is the unrestricted EXACT integer-L2 top-10 per query
  * over the same `floor(x·1000)` fixed-point vectors the PQ tiers
  * quantize — the identical tie-break (d2 asc, vec_id asc), so recall
  * is a pure shortlist-quality statistic with no float ambiguity.
  *
  * Usage: `runMain graft.tools.RecallProbe [scales] [sfDir] [tmpDir]` —
  * scales a comma list (default `1,10`); scale 1 reads sfDir's
  * embeddings directly, scale N reads the embeddings of
  * [[graft.ScaleProbe.scaledDir]]`(sfDir, N, tmpDir)` — the same replica
  * root `tools.Probe` times keys on (cross-replica structure dissolved,
  * queries PINNED to the base id range — the fixed-eval-suite model).
  */
object RecallProbe {

  /** The planted-cluster twin corpus (deterministic, hash-derived): 16
    * true clusters, vector = 0.9·unit-center + 0.436·unit-noise —
    * E[cos to own center] ≈ 0.9, within-cluster cosines 0.8+,
    * cross-cluster ≈ 0. Shared with [[JlSweep]]'s clustered-geometry
    * recall measurement.
    */
  private[tools] def clusteredEmb(spark: SparkSession, n: Int, k: Int): DataFrame = {
    GraftExtensions.register(spark)
    spark.range(0, n).toDF("vec_id")
      .withColumn("cl", pmod(col("vec_id"), lit(k)))
      .withColumn("c", expr(
        "transform(sequence(0, 63), d -> cast(pmod(xxhash64(cl, d), 2001) - 1000 as double) / 1000.0D)"))
      .withColumn("g", expr(
        "transform(sequence(0, 63), d -> cast(pmod(xxhash64(vec_id, d, 7), 2001) - 1000 as double) / 1000.0D)"))
      .withColumn("cn", expr("sqrt(aggregate(c, 0D, (s, x) -> s + x * x))"))
      .withColumn("gn", expr("sqrt(aggregate(g, 0D, (s, x) -> s + x * x))"))
      .select(col("vec_id"),
        expr("zip_with(c, g, (a, b) -> cast(0.9D * a / cn + 0.436D * b / gn as float))")
          .as("embedding"))
      .repartition(spark.sparkContext.defaultParallelism)
  }

  /** The decaying-spectrum twin: [[clusteredEmb]] with per-dim scale
    * 1/(1 + d/8) — a PCA-like eigenvalue profile where dim ENERGY is
    * ordered by index, so contiguous subspace slicing concentrates the
    * whole spectrum head in the first codebooks (the OPQ paper's
    * motivating worst case) while the balanced snake deal spreads it.
    */
  private[tools] def anisoEmb(spark: SparkSession, n: Int, k: Int): DataFrame =
    clusteredEmb(spark, n, k)
      .select(col("vec_id"), expr(
        """zip_with(embedding, sequence(0, 63),
          |  (x, d) -> cast(cast(x as double) / (1.0D + cast(d as double) / 8.0D) as float))"""
          .stripMargin).as("embedding"))

  private def truthFor(emb: DataFrame, queryPred: Column): DataFrame = {
    GraftExtensions.register(emb.sparkSession)
    val qv = emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
        .as("qv"))
    qv.crossJoin(broadcast(qv.filter(queryPred)
        .select(col("vec_id").as("query_id"), col("qv").as("qq"))))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        expr("sq_dist_i64(qv, qq)").as("d2"))
      .groupBy(col("query_id"))
      .agg(expr("topk_by_score(CAST(-d2 AS DOUBLE), vec_id, 10)").as("top"))
      .select(col("query_id"), explode(expr("transform(top, t -> t.id)")).as("vec_id"))
  }

  def main(args: Array[String]): Unit = {
    val scales = (if (args.length > 0) args(0) else "1,10")
      .split(",").map(_.trim.toInt).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val tmp   = if (args.length > 2) args(2) else "/tmp/scale_probe"
    val spark = GraftSession(32)

    // RECALL_GEOM=clustered swaps the corpus for a PLANTED-CLUSTER
    // geometry of the same size/shape (deterministic, hash-derived):
    // PLANS claims trained routing reaches the recall bar at far
    // smaller scan fractions on clustered real-world embeddings than on
    // the near-isotropic test corpus — this mode measures that claim
    // instead of asserting it. 16 true clusters, each vector =
    // 0.9·unit-center + 0.436·unit-noise (E[cos to own center] ≈ 0.9,
    // within-cluster cosines ≈ 0.8+, cross-cluster ≈ 0), so each
    // query's true top-10 live in its own cluster and a trained cell
    // that TRACKS the cluster captures them with a 1-2 cell probe.
    val geom = sys.env.getOrElse("RECALL_GEOM", "corpus")

    scales.foreach { copies =>
      val (emb, queryPred) =
        if (geom == "clustered") (clusteredEmb(spark, 2000 * copies, 16),
          col("vec_id") % 100 === 0)
        else if (geom == "aniso") (anisoEmb(spark, 2000 * copies, 16),
          col("vec_id") % 100 === 0)
        else if (copies == 1) (Tables.embeddings(spark, sfDir),
          col("vec_id") % 100 === 0)
        else (Tables.embeddings(spark, ScaleProbe.scaledDir(spark, sfDir, copies, tmp)),
          col("vec_id") % 100 === 0 && col("vec_id") < 10000000L)
      // SEED-DISJOINT query set (the IvfArtifactProbe measurement law):
      // id ≡ 10 (mod 100) never satisfies the kmeans seed rule
      // (id % 25 == 0), so no query contributed to centroid seeding —
      // the honest routing-recall view for the trained tier. Pinned to
      // the base id range at replica scales like the modular set.
      val disjointPred =
        if (copies == 1) col("vec_id") % 100 === 10
        else col("vec_id") % 100 === 10 && col("vec_id") < 10000000L
      def measure(truth: DataFrame, denom: Long, tag: String,
          variants: Seq[(String, () => DataFrame)]): Unit =
        variants.foreach { case (name, mk) =>
          val hits = mk().select(col("query_id"), col("vec_id"))
            .join(truth, Seq("query_id", "vec_id"), "left_semi").count()
          println(f"RECALL scale=$copies%d op=$name%s$tag%s recall=${hits.toDouble / denom}%.3f hits=$hits%d of=$denom%d")
          graft.Maintenance.releaseCachedBlocks(spark, blocking = true)
        }
      val sweep = sys.env.get("RECALL_SWEEP").contains("1")
      // sweep mode consumes only the DISJOINT ground truth — skip the
      // modular set's full Q·N exact-kNN pass entirely there
      if (!sweep) {
        val truth = truthFor(emb, queryPred).cache()
        val denom = truth.count()
        measure(truth, denom, "", Seq(
        "knn_pq" -> (() => PqAnn.knnPqOn(emb, queryPred, PqAnn.K16)),
        "knn_pq_rerank" -> (() => PqAnn.knnPqRerankOn(emb, queryPred, PqAnn.K16)),
        "knn_pq256" -> (() => PqAnn.knnPqOn(emb, queryPred, PqAnn.K256)),
        "knn_pq256_balanced" -> (() => PqAnn.knnPqBalancedOn(emb, queryPred)),
        "knn_pq256_rerank" -> (() => PqAnn.knnPqRerankOn(emb, queryPred, PqAnn.K256)),
        "knn_ivf_pq" -> (() => PqAnn.knnIvfPqOn(emb, queryPred, PqAnn.K256)),
        "knn_ivf_pq_sqrt" -> (() => PqAnn.knnIvfPqOn(emb, queryPred, PqAnn.K256,
          membersOf = graft.similarity.Similarity.ivfMembersSqrtOn)),
        "trained_members" -> (() => IvfTrained.trainedMembersOn(emb, queryPred = queryPred)),
        "knn_ivf_pq_rerank" -> (() =>
          PqAnn.knnIvfPqRerankOn(emb, queryPred, fetch = PqAnn.IvfRerankFetch))))
        truth.unpersist(blocking = true)
      }
      val truthD = truthFor(emb, disjointPred).cache()
      val denomD = truthD.count()
      if (!sweep) measure(truthD, denomD, "(disjoint)", Seq(
        "trained_members" -> (() =>
          IvfTrained.trainedMembersOn(emb, queryPred = disjointPred)),
        "knn_ivf_pq_rerank" -> (() =>
          PqAnn.knnIvfPqRerankOn(emb, disjointPred, fetch = PqAnn.IvfRerankFetch)),
        // the residual A/B: raw-vector codebooks vs residual codebooks on
        // IDENTICAL trained routing (np=8), ADC ranking only (no rerank) —
        // isolates what residual encoding alone buys at the same M×K budget
        "knn_ivf_adc_raw" -> (() => PqAnn.knnIvfPqOn(emb, disjointPred, PqAnn.K256,
          membersOf = e => IvfTrained.trainedMembersOn(e, queryPred = disjointPred))),
        "knn_ivf_pq_residual" -> (() => PqAnn.knnIvfPqResidualOn(emb, disjointPred)),
        "trained_sqrt_members" -> (() =>
          IvfTrained.trainedMembersSqrtOn(emb, queryPred = disjointPred)),
        "knn_ivf_pq_rerank_sqrt" -> (() =>
          PqAnn.knnIvfPqRerankOn(emb, disjointPred,
            membersOf = (e, qp) => IvfTrained.trainedMembersSqrtOn(e, queryPred = qp),
            fetch = PqAnn.IvfRerankFetch))))
      // nprobe × fetch tuning surface for the composed trained tier —
      // the table production would tune on (RECALL_SWEEP=1); routing
      // ceilings per nprobe, then composed recall on the grid. All on
      // the disjoint query set. RECALL_NP / RECALL_FETCH override the
      // grid axes (comma lists) — e.g. the 100× fetch-depth sweep pins
      // np=8 and walks fetch past 128 to find where composed recall
      // meets the routing ceiling (the bucket-width fetch rule).
      if (sweep) {
        val npGrid = sys.env.get("RECALL_NP")
          .map(_.split(",").map(_.trim.toInt).toSeq)
          .getOrElse(Seq(1, 2, 3, 4, 5, 6, 8))
        val fetchGrid = sys.env.get("RECALL_FETCH")
          .map(_.split(",").map(_.trim.toInt).toSeq)
          .getOrElse(Seq(32, 64, 128))
        npGrid.foreach { np =>
          measure(truthD, denomD, f"(np=$np%d)", Seq(
            "trained_members" -> (() =>
              IvfTrained.trainedMembersOn(emb, nprobe = np, queryPred = disjointPred))))
          fetchGrid.foreach { f =>
            measure(truthD, denomD, f"(np=$np%d,fetch=$f%d)", Seq(
              "knn_ivf_pq_rerank" -> (() => PqAnn.knnIvfPqRerankOn(emb, disjointPred,
                membersOf = (e, qp) => IvfTrained.trainedMembersOn(e, nprobe = np, queryPred = qp),
                fetch = f))))
          }
        }
      }
      truthD.unpersist(blocking = true)
    }
    spark.stop()
  }
}
