package graft.streaming

import graft.Maintenance
import graft.dedup.Linkage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming record-linkage maintenance — the incremental WRITE side of
  * the [[graft.sources.LinkStore]] arc, completing the pattern every
  * other store on this board carries (postings → `PostingsIngest`,
  * vectors → `VectorIndexIngest`, SCD2 → `Scd2Ingest`): keep the
  * verified fuzzy ≤1 pair graph FRESH as record micro-batches arrive,
  * without ever re-deriving it over the accumulated corpus.
  *
  * Store layout (the house batch-store protocol): two plain parquet
  * batch stores under idempotent `batch_id=N` partitions —
  *  - keys: each batch's deletion-key index rows (k_id, k_name, bk);
  *  - edges: the verified pairs FIRST DERIVABLE at batch N, i.e. the
  *    batch's in-batch pairs ([[Linkage.fuzzyJoinOn]] over the batch
  *    alone) plus the cross pairs of the batch's keys probed against
  *    the keys accumulated THROUGH batch N−1 (an as-of read, so a
  *    replayed batch sees exactly the state the original run saw and
  *    lands the identical partition — replay is a no-op).
  *
  * Every unordered pair {u, v} is derivable exactly once — at
  * max(batch(u), batch(v)) — so the edge store is duplicate-free and
  * the reader is a plain union: after ANY prefix of batches the stored
  * edges equal the one-shot [[Linkage.fuzzyJoinOn]] over all records
  * seen, as a set (`LinkIngestSpec`'s law; ordering is presentation).
  * Records are assumed id-unique across the stream (the link-after-
  * exact-dedup contract on [[Linkage]]).
  *
  * Scale (100 TB): per batch the work is |batch|·(L+1) probe keys
  * against the accumulated key store plus the in-batch self-join —
  * O(new batch) candidate stream, never corpus × corpus. The streamed
  * key store is batch-partitioned parquet (freshness-optimized); the
  * READ-optimized bk-bucketed catalog table is [[graft.sources.LinkStore]]'s
  * one-shot build, republished at compaction cadence — the same
  * write-fresh/read-optimized split as the postings tier. Graph
  * consumers (components, triangles) read the edge union directly.
  */
object LinkIngest {

  final case class LinkStores(keysPath: String, edgesPath: String)

  private val keysSchema = StructType(Seq(
    StructField("k_id", LongType), StructField("k_name", StringType),
    StructField("bk", StringType)))

  private def tryKeys(spark: SparkSession, path: String, maxBatch: Long): DataFrame =
    try Maintenance.readAsOf(spark, path, maxBatch)
      .select(keysSchema.fieldNames.map(col): _*)
    catch {
      // ONLY path-missing reads as "nothing landed yet" (r16 ADVICE) —
      // schema/corruption AnalysisExceptions propagate
      case e: org.apache.spark.sql.AnalysisException
          if Maintenance.isMissingPath(e) =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          keysSchema)
    }

  /** One micro-batch of (id, name) records: derive the batch's new
    * edges (in-batch + cross-vs-accumulated), land keys and edges under
    * `batch_id=id`.
    */
  def processBatch(batch: DataFrame, id: Long, store: LinkStores,
      idCol: String = "id", nameCol: String = "name"): Unit = {
    val spark = batch.sparkSession
    val newKeys = Linkage.deletionKeyIndex(batch, idCol, nameCol)
      .localCheckpoint(eager = false) // consumers: cross probe + key landing
    val prior = tryKeys(spark, store.keysPath, id - 1)
    val cross = newKeys.as("a")
      .join(prior.as("b"), col("a.bk") === col("b.bk"))
      .select(col("a.k_id").as("n_id"), col("a.k_name").as("n_name"),
        col("b.k_id").as("o_id"), col("b.k_name").as("o_name"))
      .withColumn("dist", levenshtein(col("n_name"), col("o_name")).cast("long"))
      // verify BEFORE distinct — the depth-1 trade (pairs share 1-2 keys)
      .filter(col("dist") <= 1)
      .select(
        least(col("n_id"), col("o_id")).as("a_id"),
        when(col("n_id") < col("o_id"), col("n_name")).otherwise(col("o_name")).as("a_name"),
        greatest(col("n_id"), col("o_id")).as("b_id"),
        when(col("n_id") < col("o_id"), col("o_name")).otherwise(col("n_name")).as("b_name"),
        col("dist"))
      .distinct()
    val inBatch = Linkage.fuzzyJoinOn(batch, idCol, nameCol)
    // inputs first, derived artifact last (the DedupEdgeIngest commit
    // order, r14 ADVICE's class): a crash mid-batch never leaves edges
    // visible whose key rows exist only after replay
    newKeys
      .write.mode("overwrite").parquet(s"${store.keysPath}/batch_id=$id")
    inBatch.unionByName(cross)
      .write.mode("overwrite").parquet(s"${store.edgesPath}/batch_id=$id")
  }

  /** Fold batch `id`'s landed edges into a persisted per-batch ENTITY-map
    * snapshot — [[DedupEdgeIngest.updateComponents]]'s exact shape on the
    * linkage tier (one shared fold,
    * [[graft.dedup.Dedup.foldComponentsSnapshot]]): entity reads stay
    * fresh through the last landed batch with zero read-time derivation
    * or propagation; inserts only merge, so the fold is O(batch +
    * affected groups) via the previous snapshot's star edges.
    */
  def updateEntities(spark: SparkSession, store: LinkStores,
      entPath: String, id: Long): Unit =
    graft.dedup.Dedup.foldComponentsSnapshot(spark,
      spark.read.parquet(s"${store.edgesPath}/batch_id=$id")
        .select(col("a_id").as("doc_id_1"), col("b_id").as("doc_id_2")),
      entPath, id)

  /** The streaming wiring: record stream → per-batch edge derivation. */
  def run(records: DataFrame, store: LinkStores, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    records.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        processBatch(batch, id, store)
        ()
      }
      .start()

  /** The live verified pair graph: a plain union of batch partitions
    * (duplicate-free by the first-derivable-once construction).
    */
  def edges(spark: SparkSession, store: LinkStores): DataFrame =
    spark.read.parquet(store.edgesPath)
      .select("a_id", "a_name", "b_id", "b_name", "dist")

  /** Store compaction: both stores are append-only sets, so compaction
    * is the plain partition fold (crash-safe plan/commit protocol);
    * estimates/reads are bit-identical before and after. Republishing
    * the bk-bucketed read-optimized catalog table from the folded keys
    * is [[graft.sources.LinkStore.write]] — the batch tier's build, run
    * at whatever cadence serving wants.
    *
    * TOMBSTONE APPLICATION (r18, the r17-verdict carry-low — the dedup
    * tier's r17 machinery extended to the graph side): when `tombsPath`
    * is given, the accumulated takedowns APPLY during the fold instead
    * of accumulating per-batch files forever and re-paying their full
    * cascade on EVERY served `_del`/`_incdel` read. Dead records' rows
    * leave the keys store, dead-incident pairs leave the edge store,
    * and each typed snapshot chain is REPAIRED IN PLACE with exactly
    * the operator its read-side compose runs — entities via
    * [[graft.dedup.Linkage.repairComponentsUnderDeletion]], coreness
    * via [[graft.dedup.Linkage.repairCorenessUnderDeletion]], triangles
    * via [[graft.dedup.Linkage.maintainTrianglesUnderDeletion]] — so
    * the survivor-composed read is IDENTICAL before and after by
    * construction, and a read between compactions pays only the
    * takedowns landed SINCE (`LinkIngestSpec`'s compaction laws,
    * PLANS.md's `link_incdel_read_*` probe rows). The tombstone store
    * itself folds to an EMPTY consolidated generation with the fold
    * horizon advanced, so a replayed takedown at or below the horizon
    * fails loud. The applied set is PINNED by generation id before any
    * store mutates ([[Maintenance.maxLandedBatch]]) and every fold is
    * bounded by the pin — a takedown landing mid-run keeps its
    * per-batch dir for the next run, never dropped unapplied (the
    * dedup tier's r17-ADVICE rule).
    *
    * Ordering is load-bearing: chains repair FIRST (their repairs read
    * edges AS-OF each retained generation — history the edge-store fold
    * destroys), then the data stores fold survivor-only, then the
    * tombstones fold away. Each repaired generation is eagerly
    * materialized before its in-place overwrite; a crash at any point
    * re-runs to the same state (repairs are idempotent over
    * already-filtered data — the dead anti-joins no-op).
    */
  def compact(spark: SparkSession, store: LinkStores,
      snapshotChains: Seq[String] = Nil,
      tombsPath: Option[String] = None,
      entitiesChain: Option[String] = None,
      corenessChain: Option[String] = None,
      trianglesChain: Option[String] = None): Unit = {
    val pinnedMax = tombsPath.flatMap(tp =>
      Maintenance.maxLandedBatch(spark, tp))
    val dead = pinnedMax.map(m =>
      Maintenance.readAsOf(spark, tombsPath.get, m)
        .select("dead_id").localCheckpoint())
    // generations whose as-of edge history a PREVIOUS run's edge fold
    // already destroyed cannot be repaired exactly — and never need to
    // be: nothing may read them as survivor truth (replay at or below
    // the edge horizon fails loud), only the at-or-above-horizon
    // generations serve reads. Without this clamp the second compaction
    // of a weekly cadence throws readAsOf's horizon require on the
    // retained predecessor generation, and so does a crash re-run that
    // lands after the edge fold.
    val edgeHorizon = Maintenance.foldHorizonOf(spark, store.edgesPath)
    def repairChain(path: Option[String],
        repair: (DataFrame, DataFrame, DataFrame) => DataFrame): Unit =
      (path, dead) match {
        case (Some(p), Some(d)) =>
          // retain-2 first (drops pre-horizon generations), then repair
          // what remains — each against edges AS-OF its own batch
          Maintenance.compactSnapshotChain(spark, p)
          Maintenance.landedBatchIds(spark, p)
            .filter(id => edgeHorizon.forall(id >= _))
            .foreach { id =>
            val snap = spark.read.parquet(s"$p/batch_id=$id")
            val edges = Maintenance.readAsOf(spark, store.edgesPath, id)
              .select(col("a_id"), col("b_id"))
            val repaired = repair(snap, edges, d).localCheckpoint()
            repaired.write.mode("overwrite").parquet(s"$p/batch_id=$id")
          }
        case (Some(p), None) => Maintenance.compactSnapshotChain(spark, p)
        case _ => ()
      }
    repairChain(entitiesChain, Linkage.repairComponentsUnderDeletion)
    repairChain(corenessChain, Linkage.repairCorenessUnderDeletion)
    repairChain(trianglesChain, Linkage.maintainTrianglesUnderDeletion)
    val dropEdge: DataFrame => DataFrame = dead match {
      case None => identity
      case Some(d) => df =>
        df.join(broadcast(d), col("a_id") === col("dead_id"), "left_anti")
          .join(broadcast(d), col("b_id") === col("dead_id"), "left_anti")
    }
    val dropKey: DataFrame => DataFrame = dead match {
      case None => identity
      case Some(d) => df =>
        df.join(broadcast(d), col("k_id") === col("dead_id"), "left_anti")
    }
    // mustRewrite when a dead set is pinned: with no new insert batches
    // since the last run the stores hold only the consolidated
    // generation, and the default skip would leave the dead rows in
    // place while the tombstone fold below still empties
    Maintenance.compactBatchStore(spark, store.edgesPath, reduce = dropEdge,
      mustRewrite = dead.nonEmpty)
    Maintenance.compactBatchStore(spark, store.keysPath, reduce = dropKey,
      mustRewrite = dead.nonEmpty)
    // the APPLIED tombstones fold to ZERO rows — horizon advances only
    // to the pinned max; batches landed after the pin keep their dirs
    pinnedMax.foreach(m =>
      Maintenance.compactBatchStore(spark, tombsPath.get,
        reduce = _.filter(lit(false)), maxBatch = m))
    // untyped derived chains (no tombstone semantics): retained-last-two
    snapshotChains.foreach(Maintenance.compactSnapshotChain(spark, _))
  }
}
