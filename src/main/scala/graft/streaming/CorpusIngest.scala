package graft.streaming

import graft.{GraftExtensions, Maintenance}
import graft.dedup.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming corpus curation: each micro-batch of documents is deduped
  * WITHIN the batch and AGAINST the already-accepted corpus before being
  * admitted — the continuous-crawl counterpart of the batch
  * `dedup_incremental` query, and the missing piece that turns the dedup
  * family into an actual always-on training-data pipeline.
  *
  * Per batch N (all MinHash-LSH at the standard 0.8 Jaccard threshold):
  *  1. shingle + hash the batch once; derive its band rows
  *     ([[Dedup.bandIndex]]).
  *  2. CROSS-BATCH: batch bands equi-join the STORED corpus band index
  *     on (band, band_hash); candidates verify by exact Jaccard against
  *     the stored shingle sets — fetched by id, only for matched docs.
  *  3. IN-BATCH: band self-join within the batch; a doc is dropped when
  *     it verifies ≥ threshold against a SMALLER-id batch doc (the
  *     keep-first survivor rule of `dedup_exact`, one pass — chains are
  *     pruned greedily, not by connected components, which is the
  *     standard streaming trade: a doc similar only to an already-dropped
  *     doc is still dropped, never resurrected).
  *  3b. DECONTAMINATION (optional, on when [[Stores.benchGramsPath]] is
  *     set): the deduped survivors' word 8-grams probe the STATIC
  *     benchmark gram store (stream-static broadcast join, eval-suite
  *     sized); contaminated docs divert to the quarantine store with
  *     their leak counts instead of entering the corpus or its index.
  *  4. Accepted docs, their hashed sets, and their band rows append to
  *     the three stores under `batch_id=N` with per-batch OVERWRITE — a
  *     replayed batch (crash between sink write and checkpoint commit)
  *     rewrites its own partition, so corpus content is exactly-once
  *     across kill-and-restart, the same idempotence contract as
  *     [[IngestPipeline.run]]. Reads EXCLUDE the current batch's own
  *     partition (partition-pruned filter), so a replay never dedups a
  *     batch against its own first attempt.
  *
  * Scale notes (100 TB corpus): per-batch cost is O(batch + matches) —
  * the corpus is touched only through the band-index equi-join (in
  * deployment the index store is bucketed on (band, band_hash), making
  * the corpus side exchange-free) and the by-id set fetch for verified
  * candidates. Nothing ever rescans corpus text; state growth per batch
  * is the accepted docs' sets + 32 band rows each.
  */
object CorpusIngest {

  /** The persisted stores (parquet paths; the first three are
    * `batch_id=N` partitioned): accepted documents, their hashed shingle
    * sets, their band index. Optionally a STATIC benchmark gram store
    * (`(doc_id, gram)` rows, e.g. [[graft.analytics.TextAnalytics.docGrams]]
    * over the eval suite — written once, never per batch) turns on the
    * decontamination stage, and quarantined docs land under
    * `quarantinePath/batch_id=N` with their leak counts (same per-batch
    * overwrite idempotence as the corpus store). Quarantine rather than
    * drop: contaminated docs need human review (is the benchmark leaking,
    * or the crawl?), so the gate preserves them out-of-corpus.
    */
  final case class Stores(
      corpusPath: String,
      setsPath: String,
      indexPath: String,
      benchGramsPath: Option[String] = None,
      quarantinePath: Option[String] = None)

  private def readStore(
      like: DataFrame, path: String, currentBatch: Long, cols: Seq[String]): DataFrame = {
    val spark = like.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(new org.apache.hadoop.fs.Path(path)))
      spark.read.parquet(path)
        .filter(col("batch_id") =!= currentBatch) // a replay voids its own prior attempt
        .select(cols.map(col): _*)
    else like.select(cols.map(col): _*).limit(0)
  }

  /** One micro-batch through the curation gate. Pure function of
    * (batch, id, store state) — [[run]] wires it into foreachBatch, and
    * the spec drives it directly batch-by-batch.
    */
  def processBatch(batch: DataFrame, id: Long, stores: Stores): Unit = {
    val spark = batch.sparkSession
    GraftExtensions.register(spark)
    // The dedup machinery lazily localCheckpoints the hashed sets; in a
    // long-running streaming query those blocks would otherwise accumulate
    // per batch (the executor-store squeeze the round-4 bench audit
    // root-caused).
    Maintenance.releasingNewBlocks(spark)(processBatchInner(batch, id, stores))
  }

  private def processBatchInner(batch: DataFrame, id: Long, stores: Stores): Unit = {
    val spark = batch.sparkSession
    val docs = batch.select(col("doc_id"), col("text"))
    val sets  = Dedup.hashedSets(Dedup.shingleSets(docs)) // lazily checkpointed once
    val bands = Dedup.bandIndex(sets)

    val storedIndex = readStore(bands, stores.indexPath, id, Seq("doc_id", "band", "band_hash"))
    val storedSets  = readStore(sets, stores.setsPath, id, Seq("doc_id", "sh"))

    val crossCandidates = bands.as("a")
      .join(storedIndex.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash"))
      .select(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"))
      .distinct()
    val crossDups = Dedup.verifyJaccard(crossCandidates, sets.unionByName(storedSets))
      .select(col("doc_id_1").as("doc_id")).distinct()

    val inBatchCandidates = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"))
      .distinct()
    val inBatchDrops = Dedup.verifyJaccard(inBatchCandidates, sets)
      .select(col("doc_id_2").as("doc_id")).distinct()

    val dropIds  = crossDups.unionByName(inBatchDrops).distinct()
    val deduped  = docs.join(dropIds, Seq("doc_id"), "left_anti")

    // Decontamination stage (stream-static join): batch grams probe the
    // static benchmark gram store — broadcast, eval-suite-sized — and
    // contaminated survivors divert to quarantine instead of the corpus.
    val contaminated: Option[DataFrame] = stores.benchGramsPath.flatMap { bp =>
      val fs = new org.apache.hadoop.fs.Path(bp)
        .getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(new org.apache.hadoop.fs.Path(bp))) None
      // eagerly checkpointed: the small (doc_id, counts) frame feeds the
      // quarantine write, the anti-join AND the three store writes —
      // materialize once, released by this batch's block cleanup.
      // Two-tier: a constant-size Bloom screen drops the non-hit grams
      // before the exact join — identical output (no false negatives,
      // law-checked), probe side cut to near the true-hit volume.
      else Some(graft.analytics.TextAnalytics.decontamTwoTierOn(
        graft.analytics.TextAnalytics.docGrams(deduped),
        spark.read.parquet(bp)).localCheckpoint())
    }
    val accepted = contaminated match {
      case Some(c) => deduped.join(c.select(col("doc_id")), Seq("doc_id"), "left_anti")
      case None    => deduped
    }
    for {
      c  <- contaminated
      qp <- stores.quarantinePath
    } deduped.join(c, Seq("doc_id"))
      .write.mode("overwrite").parquet(s"$qp/batch_id=$id")

    accepted.write.mode("overwrite").parquet(s"${stores.corpusPath}/batch_id=$id")
    val keepIds = accepted.select(col("doc_id"))
    sets.join(keepIds, Seq("doc_id"), "left_semi")
      .write.mode("overwrite").parquet(s"${stores.setsPath}/batch_id=$id")
    bands.join(keepIds, Seq("doc_id"), "left_semi")
      .write.mode("overwrite").parquet(s"${stores.indexPath}/batch_id=$id")
  }

  /** The streaming wiring: docs stream → per-batch curation gate. */
  def run(
      docs: DataFrame,
      stores: Stores,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        processBatch(batch, id, stores)
        ()
      }
      .start()
}
