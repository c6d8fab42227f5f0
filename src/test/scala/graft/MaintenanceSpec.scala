package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Batch-store compaction laws: content preservation, file-count
  * reduction, idempotence, and write-ahead crash recovery; and the
  * block policy of an iterative loop's round seams.
  */
class MaintenanceSpec extends SparkSpec {

  private def freshStore(batches: Int, rowsPerBatch: Int): String = {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("compact").toString + "/store"
    (0 until batches).foreach { b =>
      (0 until rowsPerBatch).map(i => (b * 1000L + i, s"v${b}_$i"))
        .toDF("id", "payload")
        .repartition(4) // several small files per batch, like a real sink
        .write.parquet(s"$root/batch_id=$b")
    }
    root
  }

  private def contents(path: String): Set[(Long, String)] =
    spark.read.parquet(path).select("id", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  private def dataFiles(path: String): Seq[Path] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(root, true)
    val out = scala.collection.mutable.Buffer[Path]()
    while (it.hasNext) { val f = it.next().getPath; if (f.getName.endsWith(".parquet")) out += f }
    out.toSeq
  }

  test("compaction preserves content, consolidates to batch_id=-1, cuts file count") {
    val store = freshStore(batches = 5, rowsPerBatch = 20)
    val before = contents(store)
    val filesBefore = dataFiles(store).size
    Maintenance.compactBatchStore(spark, store)
    assert(contents(store) == before)
    val files = dataFiles(store)
    assert(files.size < filesBefore)
    assert(files.forall(_.toString.contains("batch_id=-1")))
    // compacted rows read back with the sentinel partition value
    // partition-value inference types batch_id as int here
    val ids = spark.read.parquet(store).select("batch_id").distinct()
      .collect().map(_.get(0).toString).toSet
    assert(ids == Set("-1"))
  }

  test("re-compaction is a no-op; new batches after compaction merge in") {
    import spark.implicits._
    val store = freshStore(batches = 2, rowsPerBatch = 10)
    Maintenance.compactBatchStore(spark, store)
    val once = contents(store)
    Maintenance.compactBatchStore(spark, store) // only -1 present: no-op
    assert(contents(store) == once)
    // a post-compaction batch lands and the next compaction folds it in
    Seq((9000L, "late")).toDF("id", "payload").write.parquet(s"$store/batch_id=7")
    Maintenance.compactBatchStore(spark, store)
    assert(contents(store) == once + ((9000L, "late")))
    assert(dataFiles(store).forall(_.toString.contains("batch_id=-1")))
  }

  test("maxBatch-bounded fold: later generations survive, horizon stops at the pin") {
    import spark.implicits._
    val store = freshStore(batches = 3, rowsPerBatch = 10)
    val all = contents(store)
    val late = contents(s"$store/batch_id=2")
    // fold only generations ≤ 1 to zero rows (the tombstone-application
    // shape, r17 ADVICE): batch 2 — a takedown landing after the
    // caller's pin — must keep its per-batch dir, unread and unfolded
    Maintenance.compactBatchStore(spark, store,
      reduce = _.filter(org.apache.spark.sql.functions.lit(false)),
      maxBatch = 1L)
    assert(contents(store) == late, "the post-pin batch must survive intact")
    assert(new java.io.File(s"$store/batch_id=2").exists)
    // the fold horizon advanced only to the pin: replay guards fire for
    // ids ≤ 1, and an as-of read of batch 2 still answers
    assert(Maintenance.foldHorizonOf(spark, store).contains(1L))
    assert(Maintenance.readAsOf(spark, store, 2L)
      .select("id", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == late)
    // the NEXT unbounded fold applies the surviving batch
    Maintenance.compactBatchStore(spark, store,
      reduce = _.filter(org.apache.spark.sql.functions.lit(false)))
    assert(contents(store).isEmpty)
    assert(Maintenance.foldHorizonOf(spark, store).contains(2L))
    // maxLandedBatch pins the highest REAL generation, ignoring -1
    assert(Maintenance.maxLandedBatch(spark, store).isEmpty)
    Seq((1L, "x")).toDF("id", "payload").write.parquet(s"$store/batch_id=5")
    assert(Maintenance.maxLandedBatch(spark, store).contains(5L))
    assert(all.nonEmpty) // the fixture really had rows to fold
  }

  test("a crash between plan write and rename is recovered by the next run") {
    val store = freshStore(batches = 3, rowsPerBatch = 10)
    val before = contents(store)
    val root = new Path(store)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())

    // reproduce the crash window: temp data complete, plan committed,
    // batch dirs already deleted, rename never happened
    spark.read.parquet(store).drop("batch_id")
      .repartition(1).write.parquet(s"$store/${Maintenance.CompactTmp}")
    val plan = fs.create(new Path(root, Maintenance.CompactPlan), true)
    plan.write((0 until 3).map(b => s"batch_id=$b").mkString("\n").getBytes("UTF-8"))
    plan.close()
    (0 until 3).foreach(b => fs.delete(new Path(root, s"batch_id=$b"), true))

    Maintenance.compactBatchStore(spark, store)
    assert(contents(store) == before)
    assert(!fs.exists(new Path(root, Maintenance.CompactPlan)))
    assert(!fs.exists(new Path(root, Maintenance.CompactTmp)))
  }

  test("a crash after rename but before plan delete does not delete the fresh generation") {
    // second-or-later compaction: the previous batch_id=-1 generation is
    // itself in the plan. If recovery replays the planned deletes after the
    // rename already happened, it destroys the freshly consolidated data.
    val store = freshStore(batches = 2, rowsPerBatch = 10)
    Maintenance.compactBatchStore(spark, store) // now only batch_id=-1
    import spark.implicits._
    Seq((9000L, "late")).toDF("id", "payload").write.parquet(s"$store/batch_id=7")
    val expected = contents(store)
    val root = new Path(store)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())

    // manually run steps 1-4 of the next compaction, crash before step 5:
    // tmp written+committed, plan written (listing -1 and 7), planned dirs
    // deleted, tmp renamed to batch_id=-1 — plan file left behind.
    spark.read.parquet(store).drop("batch_id")
      .repartition(1).write.parquet(s"$store/${Maintenance.CompactTmp}")
    val plan = fs.create(new Path(root, Maintenance.CompactPlan), true)
    plan.write(Seq("batch_id=-1", "batch_id=7").mkString("\n").getBytes("UTF-8"))
    plan.close()
    Seq("batch_id=-1", "batch_id=7").foreach(d => fs.delete(new Path(root, d), true))
    fs.rename(new Path(root, Maintenance.CompactTmp), new Path(root, "batch_id=-1"))

    Maintenance.compactBatchStore(spark, store)
    assert(contents(store) == expected) // nothing lost
    assert(!fs.exists(new Path(root, Maintenance.CompactPlan)))
    assert(!fs.exists(new Path(root, Maintenance.CompactTmp)))
  }

  test("an uncommitted temp write (no plan) is discarded, then compaction proceeds") {
    val store = freshStore(batches = 2, rowsPerBatch = 10)
    val before = contents(store)
    // crash during step 1: partial temp dir, no plan file
    spark.read.parquet(store).drop("batch_id").limit(3)
      .repartition(1).write.parquet(s"$store/${Maintenance.CompactTmp}")
    Maintenance.compactBatchStore(spark, store)
    assert(contents(store) == before)
    assert(dataFiles(store).forall(_.toString.contains("batch_id=-1")))
  }

  test("as-of snapshot reads: stable under replay and later batches; fold horizon enforced") {
    import spark.implicits._
    val store = freshStore(batches = 3, rowsPerBatch = 10)
    def asOf(n: Long): Set[(Long, String)] =
      Maintenance.readAsOf(spark, store, n).select("id", "payload").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val snap1 = asOf(1)
    assert(snap1.map(_._1) == (0 until 10).flatMap(i => Seq(i.toLong, 1000L + i)).toSet,
      "as-of 1 should see exactly batches 0-1")
    // a replayed batch rewrites its own partition: the snapshot is stable
    (0 until 10).map(i => (0L + i, s"v0_$i")).toDF("id", "payload")
      .write.mode("overwrite").parquet(s"$store/batch_id=0")
    assert(asOf(1) == snap1, "replay changed an as-of view")
    // a LATER batch never leaks into an earlier snapshot
    (0 until 5).map(i => (3000L + i, s"v3_$i")).toDF("id", "payload")
      .write.parquet(s"$store/batch_id=3")
    assert(asOf(1) == snap1, "a later batch leaked into as-of 1")
    assert(asOf(3).size == 35)
    // compaction folds history: as-of at/past the horizon still answers
    // exactly via the consolidated generation; below it throws
    Maintenance.compactBatchStore(spark, store)
    assert(asOf(3).size == 35 && asOf(10) == asOf(3))
    val e = intercept[IllegalArgumentException](asOf(1))
    assert(e.getMessage.contains("fold horizon"))
    // batches landing after compaction: snapshots past them compose
    (0 until 5).map(i => (4000L + i, s"v4_$i")).toDF("id", "payload")
      .write.parquet(s"$store/batch_id=4")
    assert(asOf(3).size == 35 && asOf(4).size == 40)
    // a second compaction advances the horizon cumulatively
    Maintenance.compactBatchStore(spark, store)
    assert(asOf(4).size == 40)
    assert(intercept[IllegalArgumentException](asOf(3)).getMessage.contains("fold horizon"))
  }

  test("snapshot-chain compaction: read identical, replay intact, horizon enforced") {
    import org.apache.spark.sql.functions._
    GraftExtensions.register(spark)
    // a real fold chain: three ingest batches, component map folded per
    // batch — the store shape compactSnapshotChain exists for
    val base = java.nio.file.Files.createTempDirectory("snapchain").toString
    val s = graft.streaming.DedupEdgeIngest.EdgeStores(
      s"$base/sets", s"$base/bands", s"$base/edges")
    val compPath = s"$base/components"
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).localCheckpoint()
    (0 to 2).foreach { r =>
      graft.streaming.DedupEdgeIngest.processBatch(
        docs.filter(col("doc_id") % 3 === r), r.toLong, s)
      graft.streaming.DedupEdgeIngest.updateComponents(
        spark, s, compPath, r.toLong)
    }
    def snap(id: Long): Set[(Long, Long, Boolean)] =
      spark.read.parquet(s"$compPath/batch_id=$id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val last = snap(2L)
    val prev = snap(1L)
    Maintenance.compactSnapshotChain(spark, compPath)
    // retained generations read bit-identical; generation 0 is gone
    assert(snap(2L) == last && snap(1L) == prev)
    val fs = new Path(compPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new Path(compPath, "batch_id=0")))
    // replay of the LAST batch still folds (snapshot 1 survived — the
    // retain-2 contract) and reproduces the identical snapshot
    graft.streaming.DedupEdgeIngest.updateComponents(spark, s, compPath, 2L)
    assert(snap(2L) == last, "replay after chain compaction must be a no-op")
    // as-of below the oldest retained snapshot fails loud
    assert(intercept[IllegalArgumentException](
      Maintenance.readAsOf(spark, compPath, 0L).collect()
    ).getMessage.contains("fold horizon"))
    // re-compaction is a no-op; retain < 2 is rejected
    Maintenance.compactSnapshotChain(spark, compPath)
    assert(snap(2L) == last && snap(1L) == prev)
    assert(intercept[IllegalArgumentException](
      Maintenance.compactSnapshotChain(spark, compPath, retain = 1)
    ).getMessage.contains("replay contract"))
    // the full maintenance pass (edge/band/set folds + the chain) keeps
    // every retained read identical
    graft.streaming.DedupEdgeIngest.compact(spark, s, Seq(compPath))
    assert(snap(2L) == last && snap(1L) == prev)
  }

  private def live: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def pinned(df: DataFrame): Int =
    df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id

  test("round seams release exactly the previous round: a cache round 1 first computes survives") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = live
    // persisted before the loop, first computed inside round 1
    val kept = (1L to 200L).toDF("v").repartition(4).persist()
    val seams = new Maintenance.RoundSeams
    val r1 = seams.seam(kept.select(($"v" * 2).as("v")))
    seams.endRound()
    val r2 = seams.seam(kept.join(r1, "v"))
    seams.endRound()
    val fresh = live -- before
    assert(!fresh.contains(pinned(r1)), "round 1's seam is released")
    assert(fresh.contains(pinned(r2)), "round 2's seam is the live generation")
    val cache = fresh - pinned(r2)
    assert(cache.size == 1, s"the loop-lifetime cache stays registered: $fresh")
    assert(sc.getRDDStorageInfo.exists(i => cache(i.id) && i.numCachedPartitions > 0),
      "the loop-lifetime cache keeps its blocks")
    assert(r2.count() == 100L)
    kept.unpersist()
    seams.close()
    assert((live -- before).isEmpty)
  }

  test("a settled round drops its own seams and keeps the previous generation; close releases it") {
    import spark.implicits._
    val seams = new Maintenance.RoundSeams
    val a = seams.seam(spark.range(10).toDF("v"))
    seams.endRound()
    val b = seams.seam(a.filter($"v" > 100))
    seams.dropRound()
    assert(live.contains(pinned(a)) && !live.contains(pinned(b)))
    assert(a.count() == 10L)
    seams.close()
    assert(!live.contains(pinned(a)))
  }

  test("componentsOn leaves at most two RDDs registered for an 8- and a 30-node chain") {
    import spark.implicits._
    def leftover(n: Long): Int = {
      val before = live
      val out = graft.dedup.Dedup.componentsOn(
        (0L until n - 1).map(i => (i, i + 1)).toDF("doc_id_1", "doc_id_2"))
      val labels = out.collect()
      assert(labels.length == n && labels.forall(_.getLong(1) == 0L))
      (live -- before).size
    }
    // the pair checkpoint and the last label generation: 8 and 30 rounds
    // without the per-round release would leave 8+ and 30+
    val short = leftover(8)
    val long = leftover(30)
    assert(short <= 2 && long <= 2, s"8-node chain left $short, 30-node chain left $long")
  }

  test("only Maintenance reads the session's persistent-RDD registry") {
    val root = Paths.get("src/main/scala")
    val readers = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains("getPersistentRDDs"))
      .map(root.relativize(_).toString).toSet
    assert(readers == Set("graft/Maintenance.scala"))
  }
}
