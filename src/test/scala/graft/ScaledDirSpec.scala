package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [[ScaleProbe.scaledDir]]: the `copies`× table directory that lets any
  * registry key run at scale by name. Every table reads back through
  * [[Tables]] with its source schema; the replicated tables hold `copies`
  * disjoint-id replicas, the rest are the source rows; the root is keyed
  * on the source directory, so two sources never share replicas; and the
  * replicas are independent shards, so a pair key's output grows exactly
  * with `copies`.
  */
class ScaledDirSpec extends SparkSpec {

  private val Sf001 = "/root/testdata/sf0.001"
  private lazy val tmp = java.nio.file.Files.createTempDirectory("scaled").toString
  private lazy val x2 = ScaleProbe.scaledDir(spark, Sf001, 2, tmp)

  override def afterAll(): Unit = {
    val p = new org.apache.hadoop.fs.Path(tmp)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    super.afterAll()
  }

  private val tables: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "lineitem" -> (Tables.lineitem _), "orders" -> (Tables.orders _),
    "customer" -> (Tables.customer _), "supplier" -> (Tables.supplier _),
    "part" -> (Tables.part _), "nation" -> (Tables.nation _), "region" -> (Tables.region _),
    "documents" -> (Tables.documents _), "embeddings" -> (Tables.embeddings _),
    "events" -> (Tables.events _))

  private val replicatedIds = Map("documents" -> "doc_id",
    "embeddings" -> "vec_id", "supplier" -> "s_suppkey", "events" -> "event_id")

  test("×2 from sf0.001: source schemas, 2× disjoint-id replicas, copied tables unchanged") {
    tables.foreach { case (name, read) =>
      val src = read(spark, Sf001)
      val big = read(spark, x2)
      assert(big.schema == src.schema, s"$name schema")
      replicatedIds.get(name) match {
        case Some(id) =>
          val n = src.count()
          assert(big.count() == 2 * n, s"$name rows")
          assert(big.select(id).distinct().count() == 2 * n, s"$name ids")
        case None =>
          assert(big.exceptAll(src).isEmpty && src.exceptAll(big).isEmpty, s"$name rows")
      }
    }
    // derived columns are recomputed on the replicated text
    assert(Tables.documents(spark, x2)
      .filter(col("n_chars") =!= length(col("text"))).isEmpty)
  }

  test("two source directories with the same tmp and copies get their own roots") {
    val sf01 = "/root/testdata/sf0.01"
    val other = ScaleProbe.scaledDir(spark, sf01, 2, tmp)
    assert(other != x2)
    Seq(Sf001 -> x2, sf01 -> other).foreach { case (src, root) =>
      assert(Tables.events(spark, root).count() == 2 * Tables.events(spark, src).count())
      assert(Tables.supplier(spark, root).count() == 2 * Tables.supplier(spark, src).count())
    }
    assert(Tables.events(spark, other).count() != Tables.events(spark, x2).count())
  }

  test("independent shards: dedup_jaccard on ×2 returns exactly 2× its ×1 rows") {
    val jaccard = SparkEntry.queries("dedup_jaccard")
    val one = jaccard(spark, Sf001).count()
    assert(one > 0)
    assert(jaccard(spark, x2).count() == 2 * one)
  }
}
