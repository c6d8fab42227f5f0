package graft.streaming

import graft.Maintenance
import graft.functions.MisraGries
import graft.functions.TextFeatures.{hash60, hash60Sql, tokens}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** One hash bucket's current heavy-hitter summary: the Misra-Gries
  * counter map as sorted (token, lower-bound count) pairs plus the
  * bucket's total arrivals — everything a reader needs to apply the
  * `count > N_bucket/k` presence guarantee.
  */
case class BucketTrend(bucket: Int, n_arrivals: Long,
                       tokens: Array[String], counts: Array[Long])

/** Streaming heavy hitters — "trending tokens" over an unbounded
  * document stream, the always-on twin of the batch two-pass
  * `heavy_hitters` query and the standard first stage of a streaming
  * vocabulary/spam monitor.
  *
  * Design: tokens key by `xxhash64 mod buckets` and each bucket's group
  * keeps ONE bounded Misra-Gries counter map (the same mergeable sketch
  * the batch pass-1 uses — literally the same [[MisraGries]] code,
  * `reduce` per arrival here instead of `merge` per partial) across
  * micro-batches via mapGroupsWithState. State is ≤ k counters per
  * bucket FOREVER, regardless of vocabulary size or stream length —
  * that bound, not the counts, is what makes the operator viable on an
  * unbounded stream (an exact running group-by's state grows with the
  * key domain). Each trigger emits every updated bucket's current
  * summary; a reader joins the B bucket rows (B is a constant) and
  * keeps tokens whose lower-bound count clears its threshold.
  *
  * Guarantees (spec-checked, order-independent): any token whose true
  * arrival count in a bucket exceeds `N_bucket / k` is PRESENT in that
  * bucket's summary (Misra-Gries invariant — survives any arrival
  * order, which matters because the shuffled per-batch iterator order
  * is not deterministic); reported counts are lower bounds, within
  * `N_bucket / k` of truth. Exact counts, when needed, come from the
  * batch pass-2 recount over the candidate set, same as `heavy_hitters`.
  *
  * Scale: buckets = parallelism knob (state k·B counters total); the
  * per-arrival cost is the sketch's amortized O(1). At 100 TB/day the
  * same topology holds — the shuffle is on the bucket key, and no
  * stage's state depends on the vocabulary.
  */
object TrendingTokens {

  /** Tokens (whitespace split of `text`) bucketed and folded into
    * per-bucket Misra-Gries state; emits each touched bucket's summary
    * per trigger (Update mode).
    */
  def trendingTokens(docs: DataFrame, k: Int, buckets: Int): Dataset[BucketTrend] = {
    import docs.sparkSession.implicits._
    require(k >= 1 && buckets >= 1, "trendingTokens needs k >= 1 and buckets >= 1")
    val mg = MisraGries(k)
    docs
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .select(pmod(xxhash64(col("token")), lit(buckets)).cast("int").as("bucket"),
        col("token"))
      .as[(Int, String)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (bucket: Int, rows: Iterator[(Int, String)],
         state: GroupState[(Long, Map[String, Long])]) => {
          var (n, counters) = state.getOption.getOrElse((0L, mg.zero))
          rows.foreach { case (_, tok) =>
            n += 1
            counters = mg.reduce(counters, tok)
          }
          state.update((n, counters))
          val sorted = counters.toArray.sortBy { case (t, c) => (-c, t) }
          BucketTrend(bucket, n, sorted.map(_._1), sorted.map(_._2))
        })
  }

  // ---- the reader side: what a dashboard actually queries --------------

  /** Merge a materialized [[BucketTrend]] summary table (the streaming
    * sink's latest row per bucket) into the GUARANTEED-trending list:
    * tokens whose LOWER-BOUND count already clears the bucket threshold
    * `count · k > n_arrivals`. Misra-Gries counts undercount, so
    * clearing the threshold on the lower bound implies the true count
    * clears it — NO false positives; tokens between the bound and the
    * threshold need the exact recount ([[trendingMergeOn]]) to resolve.
    * Cost: B·k rows in, ≤ B·k out — a dashboard-sized view.
    */
  def guaranteedTrending(summaries: DataFrame, k: Int): DataFrame =
    summaries
      .select(col("bucket"), col("n_arrivals"),
        explode(arrays_zip(col("tokens"), col("counts"))).as("tc"))
      .select(col("bucket"), col("n_arrivals"),
        col("tc.tokens").as("token"), col("tc.counts").as("count_lb"))
      .filter(col("count_lb") * k > col("n_arrivals"))
      .orderBy(col("bucket"), col("count_lb").desc, col("token"))

  /** The full merge/reader view as a deterministic BATCH operator —
    * union the per-bucket summaries, apply the `count·k > N_bucket`
    * presence guarantee to get the candidate set, then join the exact
    * pass-2 recount (the `heavy_hitters` machinery, per bucket): output
    * is every (bucket, token) whose EXACT count clears its bucket's
    * threshold, with exact counts. The sketch only PRUNES — its
    * candidate set provably contains every true heavy hitter and the
    * exact filter discards the rest — so the result is independent of
    * the sketch's arrival-order-dependent internals and the DuckDB
    * oracle can pin it with a plain per-bucket GROUP BY.
    *
    * Buckets here come from the cross-engine [[hash60]] (the streaming
    * topology's xxhash64 has no DuckDB twin); the partition-by-hash
    * semantics are identical.
    *
    * Scale: pass 1 shuffles ≤ k counters per (bucket, map task) — never
    * the vocabulary; pass 2 recounts via one broadcast semi-probe of the
    * ≤ B·k candidate set. Both passes are token-stream-linear with
    * constant state, the same contract as the streaming topology.
    */
  def trendingMerge(spark: SparkSession, dir: String): DataFrame =
    trendingMergeOn(graft.Tables.documents(spark, dir))

  private val MergeK = 200
  private val MergeBuckets = 8

  def trendingMergeOn(docs: DataFrame,
      k: Int = MergeK, buckets: Int = MergeBuckets): DataFrame = {
    // One token pass materialized for both the sketch and the recount
    // (house pattern, see Dedup.hashedSets).
    val toks = docs.select(explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
      .withColumn("bucket", pmod(hash60(col("token")), lit(buckets)).cast("int"))
      .localCheckpoint(eager = false)
    // pass 1: per-bucket mergeable sketch + bucket totals — ≤ k counters
    // per partial cross the shuffle, B rows out
    val summaries = toks.groupBy(col("bucket"))
      .agg(MisraGries.mg(k)(col("token")).as("cands"),
        count(lit(1)).as("n_bucket"))
    val cands = summaries.select(col("bucket"), col("n_bucket"),
      explode(col("cands")).as("token"))
    // pass 2: exact recount of the ≤ B·k candidates, exact threshold
    toks.join(broadcast(cands), Seq("bucket", "token"))
      .groupBy(col("bucket"), col("token"), col("n_bucket"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * k > col("n_bucket"))
      .select(col("bucket"), col("token"), col("cnt"), col("n_bucket"))
      .orderBy(col("bucket"), col("cnt").desc, col("token"))
  }

  // ---- the always-on dashboard path: streamed two-pass ------------------

  /** Persisted stores for the streaming dashboard: the raw token archive
    * and the per-batch sketch partials, both `batch_id=N` partitioned.
    */
  final case class TrendStores(tokensPath: String, summariesPath: String)

  /** One micro-batch through the trending gate — tokenize ONCE, then:
    *  1. ARCHIVE: the batch's (bucket, token) rows land under
    *     `batch_id=N` with per-batch overwrite (the CorpusIngest
    *     idempotence contract — a replayed batch rewrites its own
    *     partition, exactly-once without coordination);
    *  2. SKETCH: the batch's per-bucket Misra-Gries candidate arrays +
    *     bucket arrival counts (B rows) land under the same `batch_id=N`
    *     rule in the summary store.
    * Pass 1 is therefore INCREMENTAL across the stream — no trigger ever
    * rescans old data — and the summary store stays B rows per batch.
    */
  def processMergeBatch(batch: DataFrame, id: Long, stores: TrendStores,
      k: Int = MergeK, buckets: Int = MergeBuckets): Unit = {
    Maintenance.releasingNewBlocks(batch.sparkSession) {
      // eagerly checkpointed: the token frame feeds both the archive
      // write and the sketch aggregate
      val toks = batch.select(explode(tokens(col("text"))).as("token"))
        .filter(length(col("token")) > 0)
        .withColumn("bucket", pmod(hash60(col("token")), lit(buckets)).cast("int"))
        .localCheckpoint()
      toks.write.mode("overwrite").parquet(s"${stores.tokensPath}/batch_id=$id")
      toks.groupBy(col("bucket"))
        .agg(MisraGries.mg(k)(col("token")).as("cands"),
          count(lit(1)).as("n_bucket"))
        .write.mode("overwrite").parquet(s"${stores.summariesPath}/batch_id=$id")
    }
  }

  /** The streaming wiring: document stream → per-batch archive + sketch. */
  def run(docs: DataFrame, stores: TrendStores, checkpoint: String,
      k: Int = MergeK, buckets: Int = MergeBuckets,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("30 seconds"))
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        processMergeBatch(batch, id, stores, k, buckets)
        ()
      }
      .start()

  /** The dashboard refresh over the streamed stores — the EXACT pass-2
    * recount of [[trendingMergeOn]] served from the live archive:
    * candidates are the UNION of the per-batch sketch summaries,
    * bucket totals the sum of per-batch arrivals, and the exact recount
    * one candidate-semi-probed pass over the token archive.
    *
    * Why the per-batch candidate union is SOUND (no heavy hitter
    * missed): if a token's total count across the stream exceeds
    * N_bucket/k, then in at least one batch b its count exceeded
    * N_b/k (counts and thresholds are both additive over batches, so if
    * it cleared no per-batch threshold it cannot clear their sum) — and
    * Misra-Gries guarantees presence above the per-batch threshold.
    * The recount is exact, so extra candidates only cost probe width:
    * the output is IDENTICAL to the batch operator on the same corpus
    * (`TrendingTokensSpec` asserts frame equality).
    *
    * Cost per refresh: summary store is B·batches rows (tiny), the
    * archive pass is the one corpus-sized scan — refresh cadence, not
    * ingest cadence, pays it; nothing here rescans at ingest time.
    */
  def mergeDashboard(spark: SparkSession, stores: TrendStores,
      k: Int = MergeK): DataFrame = {
    val summ = spark.read.parquet(stores.summariesPath)
    val nb = summ.groupBy(col("bucket")).agg(sum(col("n_bucket")).as("n_bucket"))
    val cands = summ.select(col("bucket"), explode(col("cands")).as("token")).distinct()
    spark.read.parquet(stores.tokensPath)
      .join(broadcast(cands), Seq("bucket", "token"))
      .groupBy(col("bucket"), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .join(broadcast(nb), "bucket")
      .filter(col("cnt") * k > col("n_bucket"))
      .select(col("bucket"), col("token"), col("cnt"), col("n_bucket"))
      .orderBy(col("bucket"), col("cnt").desc, col("token"))
  }

  val trendingMergeSql: String =
    s"""WITH tok AS (
       |  SELECT t.token, CAST(${hash60Sql("t.token")} % $MergeBuckets AS INT) AS bucket
       |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
       |  WHERE len(t.token) > 0),
       |nb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_bucket FROM tok GROUP BY 1)
       |SELECT tok.bucket, tok.token, CAST(count(*) AS BIGINT) AS cnt, nb.n_bucket
       |FROM tok JOIN nb ON tok.bucket = nb.bucket
       |GROUP BY tok.bucket, tok.token, nb.n_bucket
       |HAVING count(*) * $MergeK > nb.n_bucket
       |ORDER BY tok.bucket, cnt DESC, token""".stripMargin

  val registry: Map[String, ((SparkSession, String) => DataFrame, String)] =
    Map("trending_merge" -> (trendingMerge _, trendingMergeSql))
}
