package graft

import graft.sources.{TickGenerator, TickStore}
import graft.streaming.{IncrementalBars, IngestPipeline, KafkaIO}
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.sql.Timestamp

/** Runnable end-to-end tour of the engine — the "switch from the
  * reference" story as one main: simulate the producer, ride the Kafka
  * wire format through ingest + DLQ split, persist the partitioned tick
  * store, derive bars incrementally with a watermark, and answer the
  * reference's analytics queries plus the training-data extensions.
  *
  *   sbt "runMain graft.Demo [workDir]"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(Files.createTempDirectory("graft-demo").toString)
    val spark = GraftSession(8, sys.env.get("SPARK_MASTER"))

    // 1. producer → wire → consumer (S1, S4-S8)
    val wire   = KafkaIO.encodeTicks(TickGenerator.batch(spark, 50000))
    val parsed = IngestPipeline.parse(wire.select("value"))
    val nBad   = IngestPipeline.failedEvents(parsed).count()
    TickStore.write(IngestPipeline.validTicks(parsed)
      .withColumn("tick_id", monotonically_increasing_id()), s"$work/ticks")
    println(s"[demo] ingested ticks=${spark.read.parquet(s"$work/ticks").count()} dlq=$nBad")

    // 2. incremental watermarked bar derivation (ST1-ST4)
    val ticks = TickStore.read(spark, s"$work/ticks").drop("tick_date")
    val maxT  = ticks.agg(max("event_time")).collect()(0).getTimestamp(0)
    val res = IncrementalBars.runOnce(spark, ticks, s"$work/bars", s"$work/etl",
      new Timestamp(maxT.getTime + 60000))
    println(s"[demo] bars written=${res.barsWritten} watermark=${res.watermarkTo}")

    // 3. analytics over the derived store (§2.9 queries)
    val bars = spark.read.parquet(s"$work/bars")
    val movers = bars.groupBy("symbol")
      .agg(min_by(col("open"), col("bucket_start")).as("open"),
        max_by(col("close"), col("bucket_start")).as("close"))
      .withColumn("change_pct",
        round((col("close") - col("open")) / col("open") * 100, 4))
      .orderBy(abs(col("change_pct")).desc)
    println("[demo] movers:")
    movers.show(6, truncate = false)

    // 4. training-data extensions on the bundled testdata (if present)
    val sf = "/root/testdata/sf0.001"
    if (new java.io.File(s"$sf/documents.parquet").exists()) {
      val dups = graft.dedup.Dedup.dedupMinhash(spark, sf).count()
      val knn  = graft.similarity.Similarity.knnBrute(spark, sf).count()
      println(s"[demo] near-dup pairs=$dups knn rows=$knn")
    }
    println(s"[demo] artifacts in $work")
    spark.stop()
  }
}
