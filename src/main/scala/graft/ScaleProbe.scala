package graft

import graft.analytics.RetrievalAnalytics
import graft.sources.StoreCatalog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaled table directories: [[scaledDir]] writes an `N×`-bigger copy of a
  * source table directory in the layout [[Tables]] reads, so any registry
  * key runs at scale by name — `tools.Probe` times it there with the same
  * loop it uses at 1×:
  *
  *   runMain graft.tools.Probe <keys> <sfDir> <runs> <scales> [tmpDir]
  *
  * PLANS.md records the measured 1× / 10× / 100× tables (500k docs / 200k
  * vectors at 100×).
  *
  * Corpus synthesis — the perturbation is chosen so the big corpus is
  * 100 INDEPENDENT shards, which is the honest linear-scaling test
  * (a real 100× corpus has 100× the docs with the same pairwise
  * similarity structure, not all-pairs-moderately-similar):
  *  - documents: every 2nd token of replica `c` is wrapped in the
  *    replica's FIXED-WIDTH digits on both ends (`fast` →
  *    `c05fastc05`). Within a replica this is a token-level rename,
  *    so within-replica pair structure — document-frequency
  *    concentration, planted near-dups (aligned docs get identical
  *    rewrites) — is exactly the natural corpus, HOMOGENEOUS across
  *    replicas (fixed tag width — variable-width tags measured 6×
  *    different per-replica char-candidate rates, because tag digits
  *    eat a 13-char window's vocabulary entropy), and true-pair
  *    output grows linearly with replicas. Across replicas: every
  *    word 3-gram window crosses a wrapped token (untagged runs are
  *    1 token), and every 13-char gram crosses tag digits plus
  *    enough token chars to disambiguate any two replicas (untagged
  *    runs are ≤10 chars; cross-replica candidates MEASURED exactly
  *    zero at 100×). Three rejected schemes are instructive, all
  *    caught by MEASURING candidate counts: position-keyed
  *    replacement tokens planted rare position-aligned grams INTO
  *    the AllPairs rare-prefix region (~25M spurious char candidates
  *    at 100×); token-SUFFIX tags left boundary char-grams spanning
  *    untagged 2-token stretches identical across replicas (×26
  *    candidate growth at 10×); a seeded token-order shuffle
  *    destroyed the df concentration the prefix filter keys on — all
  *    shuffled grams are df≈1-rare and the base corpus's ~30-word
  *    vocabulary saturates its gram space, so candidates went
  *    birthday-paradox quadratic (18M at 10× for word AND char).
  *  - embeddings: replica vectors are mixed with per-(replica, vector)
  *    pseudorandom noise, v' ∝ 0.6·v̂ + 0.8·ĝ, so the cosine between
  *    two replicas of the SAME base vector is ≈0.36 — below the 0.45
  *    near-dup threshold — and all cross-replica structure dissolves.
  *  - supplier names carry a Levenshtein-≥3 replica code ([[bigNames3]]),
  *    so both the ≤1 and the ≤2 fuzzy pair graphs stay per-replica.
  *  - events copy each user's stream into a fresh user id ([[bigEvents]]).
  *
  * Every replicator keeps its source table's columns: ids shift by a
  * per-replica offset, derived columns (`n_chars`) are recomputed and the
  * rest (`lang`, `source`, `label`, `props`, ...) pass through.
  */
object ScaleProbe {

  /** The base table crossed with replica numbers `c = 0 .. copies-1`. */
  private def replicas(base: DataFrame, copies: Int): DataFrame =
    base.withColumn("c", explode(sequence(lit(0), lit(copies - 1))))

  /** Replicated documents with cross-replica similarity destroyed
    * (replica digits wrapped around every 2nd token — see the object
    * scaladoc).
    */
  def bigDocs(base: DataFrame, copies: Int): DataFrame =
    replicas(base, copies)
      .withColumn("doc_id", col("doc_id") + col("c") * 10000000L)
      .withColumn("text", expr(
        """concat_ws(' ', transform(split(text, ' '), (t, i) ->
          |  IF(i % 2 = 1, concat('c', lpad(c, 2, '0'), t, lpad(c, 2, '0')), t)))"""
          .stripMargin))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("c")

  /** Replicated embeddings α-mixed with per-(replica, vector) noise. */
  def bigEmb(base: DataFrame, copies: Int): DataFrame = {
    GraftExtensions.register(base.sparkSession)
    replicas(base, copies)
      .withColumn("g", expr(
        """transform(sequence(0, size(embedding) - 1), d ->
          |  cast(pmod(xxhash64(vec_id, c, d), 2001) - 1000 as double) / 1000.0D)"""
          .stripMargin))
      .withColumn("sn", expr("sqrt(vec_dot(embedding, embedding))"))
      .withColumn("gn", expr("sqrt(aggregate(g, 0D, (s, x) -> s + x * x))"))
      .withColumn("vec_id", col("vec_id") + col("c") * 10000000L)
      .withColumn("embedding",
        expr("zip_with(embedding, g, (a, b) -> cast(0.6D * a / sn + 0.8D * b / gn as float))"))
      .drop("c", "g", "sn", "gn")
  }

  /** Replicated supplier names with a PROVABLY-Levenshtein-≥3 replica
    * code, as `id` / `name` followed by the table's other columns. A
    * Hamming-2 checksum code (an earlier probe corpus over customer
    * names) admits cross-replica pairs at exactly distance 2, so the ≤2
    * fuzzy graph was quadratic in replicas by corpus construction, not
    * by operator behavior (PLANS.md); this code keeps both the ≤1 and
    * the ≤2 graphs per-replica.
    *
    * The tag is a 4-symbol [4,2,3] MDS code over GF(11): replica
    * c = 10·d1 + d2 encodes as (d1, d2, d1+d2 mod 11, d1+2·d2 mod 11) —
    * any two distinct (d1, d2) messages differ in ≥ 3 of the 4 positions
    * (both checksum maps are injective in each digit, and gcd(2,11)=1
    * separates the two checksums when both digits change).
    *
    * Hamming ≥ 3 lifts to LEVENSHTEIN ≥ 3 — the shift-alignment hole the
    * depth-1 analysis warned about — because the four positions draw
    * from MUTUALLY DISJOINT alphabets that are also disjoint from the
    * name charset ({S,C,u,p,l,i,e,r,s,t,o,m,#,0-9}): in any edit trace,
    * a tag character can align cost-free ONLY with the same position of
    * the other tag (every cross-position or tag-vs-name alignment is a
    * mismatch by construction). With H ≥ 3 tag positions unequal, at
    * least 2H of the 8 tag characters are non-free, and every edit op
    * covers at most two of them — so any trace costs ≥ H ≥ 3.
    * `FuzzyProbeCodeSpec` verifies the bound exhaustively over all
    * C(100,2) replica pairs on real names.
    */
  def bigNames3(base: DataFrame, copies: Int): DataFrame = {
    // the [4,2,3] code encodes two base-10 digits: d1 = c div 10 must
    // stay inside the 11-symbol position alphabets (c ≤ 109); beyond
    // that substring() degenerates to empty tags silently
    require(copies <= 100, s"bigNames3 replica code covers ≤ 100 copies, got $copies")
    val p1 = "abcdfghjknq"
    val p2 = "vwxyzABDEFG"
    val p3 = "HIJKLMNOPQR"
    val p4 = "TUVWXYZ!%&+"
    val rest = base.columns.filterNot(Set("s_suppkey", "s_name")).map(col).toSeq
    replicas(base, copies)
      .select((
        (col("s_suppkey") + col("c") * 10000000L).as("id") +:
        concat(
          expr(s"substring('$p1', c div 10 + 1, 1)"),
          expr(s"substring('$p2', c % 10 + 1, 1)"),
          expr(s"substring('$p3', (c div 10 + c % 10) % 11 + 1, 1)"),
          expr(s"substring('$p4', (c div 10 + 2 * (c % 10)) % 11 + 1, 1)"),
          col("s_name")).as("name") +:
        rest): _*)
  }

  /** Replicated events with per-replica user-id shifts: each user's
    * ordered stream (and so its island structure) is copied verbatim
    * into a fresh user id, so interval output grows exactly linearly
    * and per-user window partitions stay their natural size.
    */
  def bigEvents(base: DataFrame, copies: Int): DataFrame =
    replicas(base, copies)
      .withColumn("user_id", col("user_id") + col("c") * 10000000L)
      .withColumn("event_id", col("event_id") + col("c") * 1000000000L)
      .drop("c")

  /** The `copies`× table directory for `sfDir` under `tmp`, built on first
    * use: `documents`, `embeddings`, `supplier` and `events` replicated
    * (see the object scaladoc), every other `<table>.parquet` of `sfDir`
    * copied unchanged. Each table keeps its source schema, so every
    * registry key reads the result as it reads `sfDir`.
    *
    * The root is named by the source directory's store key and `copies`,
    * so two sources never share replicas, and is built under one
    * [[StoreCatalog.ensureBuilt]], so a killed synthesis re-runs. The
    * `_v1` suffix names the replicators' output shape: bump it when a
    * replicator changes, or a root built by the old one is served stale.
    */
  def scaledDir(spark: SparkSession, sfDir: String, copies: Int, tmp: String): String = {
    require(copies >= 1, s"copies must be ≥ 1, got $copies")
    val root = s"${tmp.stripSuffix("/")}/${RetrievalAnalytics.storeKey(sfDir)}_x${copies}_v1"
    StoreCatalog.ensureBuilt(spark, root) {
      // many splits, like any real table this size — a single parquet
      // file would serialize every downstream scan-side stage
      val par = spark.sparkContext.defaultParallelism
      def write(table: String, df: DataFrame): Unit =
        df.repartition(par).write.mode("overwrite").parquet(s"$root/$table.parquet")
      val supplier = Tables.supplier(spark, sfDir)
      write("documents", bigDocs(Tables.documents(spark, sfDir), copies))
      write("embeddings", bigEmb(Tables.embeddings(spark, sfDir), copies))
      write("supplier", bigNames3(supplier, copies)
        .withColumnRenamed("id", "s_suppkey").withColumnRenamed("name", "s_name")
        .select(supplier.columns.map(col).toSeq: _*))
      write("events", bigEvents(Tables.events(spark, sfDir), copies))
      val replicated = Set("documents", "embeddings", "supplier", "events").map(_ + ".parquet")
      val conf = spark.sessionState.newHadoopConf()
      val src = new org.apache.hadoop.fs.Path(sfDir)
      val srcFs = src.getFileSystem(conf)
      val dst = new org.apache.hadoop.fs.Path(root)
      srcFs.listStatus(src).map(_.getPath)
        .filter(p => p.getName.endsWith(".parquet") && !replicated(p.getName))
        .foreach(p => org.apache.hadoop.fs.FileUtil.copy(srcFs, p,
          dst.getFileSystem(conf), new org.apache.hadoop.fs.Path(dst, p.getName), false, conf))
    }
    root
  }
}
