package graft.streaming

import graft.Maintenance
import graft.analytics.StarAnalytics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming SCD Type-2 maintenance: keep the versioned dimension table
  * [[StarAnalytics.scd2Intervals]] builds FRESH as event micro-batches
  * arrive, without ever rebuilding it — the incremental write side of
  * the warehouse's slowly-changing dimension.
  *
  * Store layout: interval rows (user_id, version, state, valid_from,
  * valid_to, n_events, gen) under idempotent `batch_id=N` partitions
  * (the CorpusIngest exactly-once contract). A batch may REVISE a
  * user's open interval (extend its run, or close it with a valid_to)
  * by rewriting the SAME (user_id, version) key under the new
  * generation; the reader resolves latest-generation-per-key
  * (merge-on-read), so history is never mutated in place. `gen` mirrors
  * the batch id INSIDE the rows because compaction collapses partitions
  * into `batch_id=-1` — the explicit column keeps resolution exact
  * across compactions (and the fold re-applies it, so compacted ≡
  * uncompacted bit-for-bit, spec-pinned).
  *
  * The per-batch merge is DEFINITIONAL, not re-derived: each touched
  * user's open interval is folded back into the batch's event stream as
  * one synthetic carry event (ts = valid_from, event_id = Long.MinValue,
  * state), and [[StarAnalytics.scd2IntervalsOn]] — the batch entry's own
  * code — recomputes islands over carry ∪ batch; versions then shift by
  * the carry version and the first island re-absorbs the carry's
  * n_events. Hence the exact law (`Scd2IngestSpec`): after any prefix of
  * batches, [[current]] ≡ the batch rebuild over the same events,
  * bit-for-bit — including is_current — and replaying a batch is a
  * no-op (the carry read is an as-of view BELOW the batch id, so a
  * replay sees exactly the state the original run saw).
  *
  * Contract (the watermark contract every SCD pipeline has): batches
  * partition event time per user — a batch's events for user u all
  * carry ts ≥ u's open-interval start, and later batches never deliver
  * earlier events. Late data belongs in front of this tier
  * (IngestPipeline's DLQ/watermark machinery), not inside it.
  *
  * Scale (100 TB): per batch, work is keyed on the TOUCHED users only
  * (left-semi carry restriction) — the dimension's full history is
  * never scanned, only its open-interval slice as-of the previous
  * batch; the recompute inherits the batch entry's one-exchange shape.
  * The store grows by O(state changes) per batch and compacts back to
  * one generation under the crash-safe fold protocol.
  */
object Scd2Ingest {

  final case class Scd2Store(intervalsPath: String)

  /** Store schema, parameterized on the event-time type so the tier is
    * type-PRESERVING (the events table reads as TIMESTAMP_NTZ here; an
    * LTZ source stays LTZ) — a fixed type would silently coerce the
    * carry union and break bit-identity with the batch entry.
    */
  private def storeSchema(tsType: DataType) = StructType(Seq(
    StructField("user_id", LongType), StructField("version", LongType),
    StructField("state", StringType), StructField("valid_from", tsType),
    StructField("valid_to", tsType), StructField("n_events", LongType),
    StructField("gen", LongType)))

  /** Latest generation per (user_id, version) — the merge-on-read rule. */
  private def resolve(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id", "version").orderBy(col("gen").desc)
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  private def tryStore(spark: SparkSession, path: String, maxBatch: Long,
      tsType: DataType): DataFrame =
    try Maintenance.readAsOf(spark, path, maxBatch)
      .select(storeSchema(tsType).fieldNames.map(col): _*)
    catch {
      case _: org.apache.spark.sql.AnalysisException =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          storeSchema(tsType))
    }

  /** The per-batch merge as a PURE frame (the write side of
    * [[processBatch]] and the read side of [[liveCurrent]] share it —
    * one definition, so landed ≡ composed-at-read is structural): each
    * touched user's open interval folds into the batch stream as a
    * carry event, islands recompute with the batch entry's own code,
    * versions shift by the carry version.
    */
  private[graft] def mergedRows(batch: DataFrame, id: Long,
      store: Scd2Store): DataFrame = {
    val spark = batch.sparkSession
    val events = batch.select(col("user_id").cast("long").as("user_id"),
      col("event_id").cast("long").as("event_id"), col("ts"), col("event_type"))
    val touched = events.select("user_id").distinct()
    val carry = resolve(tryStore(spark, store.intervalsPath, id - 1,
        events.schema("ts").dataType))
      .filter(col("valid_to").isNull)
      .join(touched, Seq("user_id"), "left_semi")
      .select(col("user_id"), col("version").as("c_version"),
        col("state").as("c_state"), col("valid_from").as("c_from"),
        (col("n_events") - lit(1L)).as("c_extra"))
      .localCheckpoint(eager = false) // consumers: carry events + version shift
    val carryEvents = carry.select(col("user_id"),
      lit(Long.MinValue).as("event_id"), col("c_from").as("ts"),
      col("c_state").as("event_type"))
    val recomputed = StarAnalytics.scd2IntervalsOn(carryEvents.unionByName(events))
    recomputed
      .join(carry.select(col("user_id"), col("c_version"), col("c_extra")),
        Seq("user_id"), "left")
      .select(col("user_id"),
        (col("version") + coalesce(col("c_version"), lit(1L)) - 1).as("version"),
        col("state"), col("valid_from"), col("valid_to"),
        (col("n_events") + when(col("version") === 1,
          coalesce(col("c_extra"), lit(0L))).otherwise(lit(0L))).as("n_events"),
        lit(id).as("gen"))
  }

  /** One micro-batch: fold each touched user's open interval into the
    * batch stream as a carry event, recompute islands with the batch
    * entry's own code, shift versions, land under `batch_id=id`.
    */
  def processBatch(batch: DataFrame, id: Long, store: Scd2Store): Unit =
    mergedRows(batch, id, store)
      .write.mode("overwrite").parquet(s"${store.intervalsPath}/batch_id=$id")

  /** The streaming wiring: event stream → per-batch interval merge. */
  def run(events: DataFrame, store: Scd2Store, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        processBatch(batch, id, store)
        ()
      }
      .start()

  /** The live dimension table: latest generation per interval key, with
    * is_current derived — column-compatible with the batch
    * `scd2_intervals` entry. Rows come in no particular order (no
    * (user_id, version) order either): sort them if order matters.
    */
  def current(spark: SparkSession, store: Scd2Store): DataFrame =
    resolve(spark.read.parquet(store.intervalsPath))
      .withColumn("is_current", col("valid_to").isNull)
      .drop("gen", "batch_id")
      // NO presentation sort here (r19, guide §2.1): every consumer
      // either re-sorts (the as-of lookup entries enforce their own
      // distribution/ordering via AsofJoin + a final orderBy) or
      // compares order-insensitively (the spec laws) — the global sort
      // was one wasted Exchange+Sort per scd2_lookup_served read

  /** The LIVE dimension: the landed store plus an IN-FLIGHT delta batch
    * composed at read time — the freshness composition the vector
    * (`knnServedLive`) and lexical (`hybridRrfLive`) tiers carry,
    * warehouse side: dimension changes of the current (not-yet-landed)
    * micro-batch are visible to point-in-time lookups immediately,
    * without writing anything. `deltaId` is the id the delta WOULD land
    * under (> every landed batch — the ingest contract's next id); the
    * delta rides [[mergedRows]] verbatim and wins resolution exactly as
    * its landed self would, so the law is structural: liveCurrent(store,
    * delta) ≡ current(store after processBatch(delta)) ≡ the batch
    * rebuild over all events (`Scd2LiveSpec`, any prefix split).
    *
    * Rows come in no particular order, as in [[current]].
    *
    * Scale: the composition adds ZERO store mutation and the delta's
    * merge cost — O(touched users), the ingest tier's own bound; the
    * base store is never rewritten, only union-resolved at read.
    */
  def liveCurrent(spark: SparkSession, store: Scd2Store, delta: DataFrame,
      deltaId: Long): DataFrame = {
    val tsType = delta.schema("ts").dataType
    resolve(tryStore(spark, store.intervalsPath, deltaId - 1, tsType)
        .unionByName(mergedRows(delta, deltaId, store)))
      .withColumn("is_current", col("valid_to").isNull)
      .drop("gen", "batch_id")
      // no presentation sort — see [[current]]
  }

  /** Store compaction: resolve latest-per-key, keep ONE generation.
    * Rows keep their `gen`, so later batches still win on read and the
    * estimates are bit-identical post-compaction (spec-pinned); crash
    * safety is compactBatchStore's plan/commit protocol, unchanged.
    */
  def compact(spark: SparkSession, store: Scd2Store): Unit =
    Maintenance.compactBatchStore(spark, store.intervalsPath, reduce = resolve)
}
