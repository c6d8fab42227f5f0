package graft.streaming

import graft.{GraftExtensions, Maintenance}
import graft.similarity.Quantize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ANN-index maintenance: each micro-batch of embeddings is
  * routed to its coarse IVF bucket, int8-quantized, and appended to a
  * persisted bucket store — the continuous-ingest counterpart of the
  * batch `knn_ivf`/`knn_quantized` tier, and the piece that keeps a
  * 100 TB vector index FRESH between (rare, offline) coarse-quantizer
  * retrains. Production IVF systems work exactly this way: centroids
  * train occasionally on a sample; assignment/encoding is a streaming
  * map; index freshness is bounded by the trigger interval.
  *
  * Per batch N:
  *  1. ASSIGN: cosine-argmax against the STATIC centroid store
  *     (broadcast-sized, read once per batch; ties to the smaller
  *     centroid id — the `knn_ivf` routing rule).
  *  2. ENCODE: the loss-free int8 per-vector quantization of
  *     [[Quantize]] (`knn_quantized`'s stage-1 payload — 4× smaller
  *     than float32, scanned by the codegen'd `vec_dot_i8`).
  *  3. APPEND: bucket rows land under `batch_id=N` with per-batch
  *     OVERWRITE (the [[CorpusIngest]]/[[IngestPipeline]] idempotence
  *     contract — a replayed batch rewrites its own partition, so the
  *     index is exactly-once across kill-and-restart), sub-partitioned
  *     by `centroid_id` so a search's bucket probe is PARTITION-PRUNED
  *     at the file listing, never a scan of other buckets.
  *  4. HEALTH: per-(batch, centroid) row counts plus the
  *     out-of-coverage count (vectors whose best centroid cosine falls
  *     below the threshold) — the drift signal that tells the offline
  *     trainer its centroids have gone stale. This is the retrain
  *     TRIGGER in production: rising out-of-coverage rate = the data
  *     moved; re-run the trainer, re-bucket, swap.
  *
  * Scale notes (100 TB): per-batch cost is O(batch·C) cosine rows
  * against a broadcast centroid table (C ≈ √N by the sqrt-rule trainer)
  * plus one narrow write — the corpus-sized index is touched only by
  * the partition-pruned search probe. State growth per batch is the
  * batch's own bucket rows; nothing rescans or rewrites old buckets.
  */
object VectorIndexIngest {

  /** Persisted stores: the static coarse centroids (written by the
    * offline trainer, e.g. `Similarity.sqrtCentroids` materialized),
    * the `batch_id=N/centroid_id=C` bucket store, and the per-batch
    * health rows.
    */
  final case class Stores(centroidsPath: String, bucketsPath: String, healthPath: String)

  /** Offline-trainer step: materialize a centroid frame
    * (`centroid_id`, `embedding`) as the static routing table.
    */
  def writeCentroids(centroids: DataFrame, stores: Stores): Unit =
    centroids.select(col("centroid_id"), col("embedding"))
      .write.mode("overwrite").parquet(stores.centroidsPath)

  /** (centroid_id, cv float vector, cn2) off the static store. */
  private def centroidFrame(spark: org.apache.spark.sql.SparkSession,
      stores: Stores): DataFrame = {
    GraftExtensions.register(spark)
    spark.read.parquet(stores.centroidsPath)
      .select(col("centroid_id"), col("embedding").as("cv"),
        expr("vec_dot(embedding, embedding)").as("cn2"))
  }

  /** Route a vector frame (vec_id, embedding) to its best centroid:
    * (vec_id, centroid_id, best_cos) — cosine argmax, ties to the
    * smaller centroid id. Shared by the ingest path and the spec's
    * direct-assignment law.
    */
  private[graft] def assign(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    GraftExtensions.register(vecs.sparkSession)
    vecs.select(col("vec_id"), col("embedding").as("v"),
        expr("vec_dot(embedding, embedding)").as("n2"))
      .crossJoin(broadcast(centroids))
      .withColumn("cosine",
        expr("vec_dot(v, cv)") / (sqrt(col("n2")) * sqrt(col("cn2"))))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cosine"), (-col("centroid_id")).as("neg"))).as("w"))
      .select(col("vec_id"), (-col("w.neg")).as("centroid_id"),
        col("w.cosine").as("best_cos"))
  }

  /** One micro-batch through the index gate — pure function of
    * (batch, id, stores); [[run]] wires it into foreachBatch, the spec
    * drives it batch-by-batch.
    */
  def processBatch(batch: DataFrame, id: Long, stores: Stores,
      coverageThreshold: Double = 0.45): Unit = {
    val spark = batch.sparkSession
    GraftExtensions.register(spark)
    Maintenance.releasingNewBlocks(spark) {
      val cents = centroidFrame(spark, stores)
      val routed = assign(batch.select(col("vec_id"), col("embedding")), cents)
      // int8 payload + routing in one bucket row; eagerly checkpointed —
      // it feeds both the bucket write and the health aggregate
      val rows = Quantize.int8On(batch.select(col("vec_id"), col("embedding")))
        .join(routed, "vec_id")
        .select(col("centroid_id"), col("vec_id"), col("q"), col("in2"), col("best_cos"))
        .localCheckpoint()
      rows.write.mode("overwrite").partitionBy("centroid_id")
        .parquet(s"${stores.bucketsPath}/batch_id=$id")
      rows.groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("best_cos") < coverageThreshold, 1L).otherwise(0L)).as("n_low"))
        .write.mode("overwrite").parquet(s"${stores.healthPath}/batch_id=$id")
    }
  }

  /** The streaming wiring: embedding stream → per-batch index append. */
  def run(
      vecs: DataFrame,
      stores: Stores,
      checkpoint: String,
      coverageThreshold: Double = 0.45,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    vecs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        processBatch(batch, id, stores, coverageThreshold)
        ()
      }
      .start()

  /** Merged index health across all ingested batches: per-centroid
    * total rows + out-of-coverage count. The dashboard/trainer-trigger
    * view; `sum(n_low)/sum(n)` rising over batches = retrain time.
    */
  def indexHealth(spark: org.apache.spark.sql.SparkSession, stores: Stores): DataFrame =
    spark.read.parquet(stores.healthPath)
      .groupBy(col("centroid_id"))
      .agg(sum(col("n")).as("n"), sum(col("n_low")).as("n_low"))

  /** The retrain HALF of the trigger loop (the health rows are the
    * trigger half): re-fit the coarse quantizer on a RAW sample — in
    * production the trainer samples upstream vectors, never the
    * quantized index; the spec passes the recent drifted batches — via
    * the exact-integer Lloyd fit ([[graft.similarity.IvfTrained
    * .trainedCentroidFrame]]) and swap the static centroid store. The
    * swap is a plain overwrite (readers quiesce — the raw-parquet trade
    * every store here documents); existing buckets still carry OLD
    * assignments until [[rebucket]] runs.
    */
  def retrain(sample: DataFrame, stores: Stores): Unit = {
    // the exact-integer fit seeds on the vec_id modulus, so the sample
    // is re-numbered densely first (deterministic: ordered by original
    // id; the sample is trainer-bounded, so the rank window is cheap)
    val dense = sample.select(col("vec_id"), col("embedding"))
      .withColumn("vec_id",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("vec_id")))
          .cast("long") - 1L)
    writeCentroids(
      graft.similarity.IvfTrained.trainedCentroidFrame(dense), stores)
  }

  /** Re-assign the EXISTING index to the current (post-[[retrain]])
    * centroids — from the int8 payload directly: per-vector quantization
    * scales cancel in cosine (the `knn_quantized` law), so the
    * re-assignment argmax is `vec_dot_i8` against the int8-quantized
    * new centroids, ~0.4% reconstruction error, no raw-vector fetch.
    * Runs as [[graft.Maintenance.compactBatchStore]]'s reduce hook, so
    * the rewrite inherits the crash-safe plan/commit protocol and lands
    * as ONE `batch_id=-1` generation still leaf-partitioned on the NEW
    * `centroid_id` (probes stay partition-pruned). The health store is
    * then rewritten to a single audited generation from the re-assigned
    * rows (health is advisory telemetry: a crash between the two
    * rewrites leaves stale health, never a wrong index).
    *
    * Scale: one O(index·C) int8 scoring pass + one partitioned rewrite
    * — the same order as the original ingest assignment, paid at
    * retrain cadence only.
    */
  def rebucket(spark: org.apache.spark.sql.SparkSession, stores: Stores,
      coverageThreshold: Double = 0.45): Unit = {
    GraftExtensions.register(spark)
    val cents8 = Quantize.int8On(
      spark.read.parquet(stores.centroidsPath)
        .select(col("centroid_id").as("vec_id"), col("embedding")))
      .select(col("vec_id").as("centroid_id"), col("q").as("cq"), col("in2").as("cin2"))
    graft.Maintenance.compactBatchStore(spark, stores.bucketsPath,
      reduce = rows => rows.drop("centroid_id", "best_cos")
        .crossJoin(broadcast(cents8))
        .withColumn("cosine",
          expr("vec_dot_i8(q, cq)").cast("double")
            / sqrt(col("in2").cast("double") * col("cin2").cast("double")))
        .groupBy(col("vec_id"), col("q"), col("in2"))
        .agg(max(struct(col("cosine"), (-col("centroid_id")).as("neg"))).as("w"))
        .select((-col("w.neg")).as("centroid_id"), col("vec_id"),
          col("q"), col("in2"), col("w.cosine").as("best_cos")),
      subPartitions = Seq("centroid_id"))
    // fresh one-generation health audit off the re-assigned rows
    val fresh = spark.read.parquet(stores.bucketsPath)
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("best_cos") < coverageThreshold, 1L).otherwise(0L)).as("n_low"))
      .localCheckpoint()
    val hroot = new org.apache.hadoop.fs.Path(stores.healthPath)
    val hfs = hroot.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(hroot)) hfs.delete(hroot, true)
    fresh.write.mode("overwrite").parquet(s"${stores.healthPath}/batch_id=-1")
  }

  /** Search the STREAMED index: route the query to its `nprobe` nearest
    * centroids, scan ONLY those buckets' int8 rows (partition-pruned on
    * `centroid_id`), rank by quantized cosine through the bounded
    * `topk_by_score` aggregate. The stage-1 shortlist of
    * `knn_quantized`, served from the live store.
    */
  def search(spark: org.apache.spark.sql.SparkSession, stores: Stores,
      query: Array[Float], nprobe: Int = 3, topK: Int = 10): DataFrame = {
    GraftExtensions.register(spark)
    import spark.implicits._
    val qv = Seq(Tuple1(query)).toDF("embedding")
    val cents = centroidFrame(spark, stores)
    // nprobe-row control-plane read (the IncrementalBars watermark
    // shape): collecting the probe ids makes the bucket read a STATIC
    // partition filter — the scan lists only centroid_id=C directories,
    // no dependence on dynamic pruning kicking in
    val probeIds = qv
      .select(col("embedding").as("v"), expr("vec_dot(embedding, embedding)").as("n2"))
      .crossJoin(broadcast(cents))
      .withColumn("cosine",
        expr("vec_dot(v, cv)") / (sqrt(col("n2")) * sqrt(col("cn2"))))
      .orderBy(col("cosine").desc, col("centroid_id"))
      .limit(nprobe)
      .select(col("centroid_id"))
      .collect().map(_.getLong(0)).toSeq
    val q8 = Quantize.int8On(qv.withColumn("vec_id", lit(-1L)))
      .select(col("q").as("qa"), col("in2").as("qin2"))
    spark.read.parquet(stores.bucketsPath)
      .filter(col("centroid_id").isin(probeIds: _*))
      .crossJoin(broadcast(q8))
      .withColumn("ascore",
        expr("vec_dot_i8(qa, q)").cast("double")
          / sqrt(col("qin2").cast("double") * col("in2").cast("double")))
      .agg(expr(s"topk_by_score(ascore, vec_id, $topK)").as("top"))
      .select(posexplode(col("top")))
      .select(col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.score").as("ascore"))
  }
}
