package graft.analytics

import graft.Tables
import graft.functions.TextFeatures._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval-side operators over the `documents` table: BM25 term
  * weighting and a blocked inverted-index build — the indexing layer a
  * corpus pipeline runs after curation so the corpus is searchable (and
  * so retrieval-based decontamination / attribution have something to
  * query). North-star extensions beyond the reference surface, same
  * family as the TF-IDF pair in [[TextAnalytics]].
  *
  * Scale notes (100 TB): both operators are explode → gram-keyed hash
  * aggregates with map-side partials. The index build deliberately keys
  * postings by (term, doc block) rather than bare term: a stop-word's
  * posting list is corpus-sized, and any plan that materializes it in
  * one task (collect_list over a bare-term group, or a window over the
  * term partition) dies at scale on exactly the hottest keys. Block-keyed
  * groups are bounded by the block width regardless of term frequency —
  * the distributed twin of the block/skip-list layout on-disk indexes
  * use anyway.
  */
object RetrievalAnalytics {

  /** Top terms per doc (ties broken by term asc, same as tfidf_topk). */
  private val Bm25K = 3

  /** Okapi defaults. k1+1 is pre-folded so both engines evaluate the
    * same literal (2.2 parses to the identical IEEE double in Scala and
    * DuckDB).
    */
  private val K1 = 1.2
  private val B  = 0.75

  /** Posting-block width in doc_id units. */
  private val BlockW = 64

  // ---- bm25_topk: Okapi BM25 characteristic terms ----------------------
  /** Top-[[Bm25K]] terms per document under Okapi BM25
    * (k1=1.2, b=0.75, idf = ln((N − df + 0.5)/(df + 0.5) + 1)) — the
    * ranking function retrieval stacks actually serve, alongside the
    * TF-IDF pair as the third weighting of the same tf/df/dl frames.
    *
    * Determinism: doubles flow through ln, ·, ÷ in identical operation
    * order in both engines (tfidf_topk_log precedent — a cross-engine
    * rank flip needs two term scores within one ulp; exact ties break on
    * term asc identically). DuckDB literals are written `::DOUBLE`
    * (bare decimals are DECIMAL there).
    *
    * Scale: same shape as tfidf_topk — tf is one (doc, term)-keyed
    * aggregate, df one term-keyed aggregate (broadcast: vocab-sized),
    * the (n_docs, total_dl) anchor is 1 row, and the per-doc top-k
    * window partitions by doc_id (group size = distinct terms of one
    * doc, never corpus-sized).
    */
  def bm25Topk(spark: SparkSession, dir: String): DataFrame =
    bm25TopkOn(Tables.documents(spark, dir))

  private[graft] def bm25TopkOn(docs: DataFrame): DataFrame =
    bm25OverTf(termFrequencies(docs))

  /** The (doc_id, term, tc) frame both the batch entry and the
    * streaming postings tier ([[graft.streaming.PostingsIngest]]) build
    * from — one tokenization definition, so streamed postings merge to
    * exactly these rows.
    */
  private[graft] def termFrequencies(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tc"))

  /** Okapi scoring + per-doc top-k over ANY (doc_id, term, tc) source —
    * the suffix the batch entry and the streamed-index read path share,
    * making "BM25 off the live delta store ≡ the batch entry" a
    * definitional law the spec then pins end-to-end.
    */
  private[graft] def bm25OverTf(tf: DataFrame): DataFrame = {
    val dl = tf.groupBy("doc_id").agg(sum(col("tc")).as("dl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
    val idf = log(
      (col("n_docs").cast("double") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
        + lit(1.0))
    val tfn = (col("tc").cast("double") * lit(K1 + 1)) /
      (col("tc") + lit(K1) * (lit(1.0) - lit(B)
        + lit(B) * col("dl").cast("double") / (col("total_dl").cast("double") / col("n_docs"))))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    tf.join(dl, "doc_id")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("score", idf * tfn)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Bm25K)
      .select(col("doc_id"), col("rank"), col("term"),
        round(col("score"), 6).as("bm25"))
  }

  val bm25TopkSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tc AS (SELECT doc_id, term, count(*) AS tc FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tc) AS BIGINT) AS dl FROM tc GROUP BY 1),
       |df AS (SELECT term, count(*) AS df FROM tc GROUP BY 1),
       |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl FROM dl),
       |ranked AS (
       |  SELECT tc.doc_id, tc.term,
       |         ln((st.n_docs::DOUBLE - df.df + 0.5::DOUBLE) / (df.df + 0.5::DOUBLE)
       |            + 1.0::DOUBLE)
       |         * ((tc.tc::DOUBLE * ${K1 + 1}::DOUBLE)
       |            / (tc.tc + $K1::DOUBLE * (1.0::DOUBLE - $B::DOUBLE
       |               + $B::DOUBLE * dl.dl::DOUBLE
       |                 / (st.total_dl::DOUBLE / st.n_docs)))) AS score,
       |         row_number() OVER (
       |           PARTITION BY tc.doc_id ORDER BY
       |             ln((st.n_docs::DOUBLE - df.df + 0.5::DOUBLE) / (df.df + 0.5::DOUBLE)
       |                + 1.0::DOUBLE)
       |             * ((tc.tc::DOUBLE * ${K1 + 1}::DOUBLE)
       |                / (tc.tc + $K1::DOUBLE * (1.0::DOUBLE - $B::DOUBLE
       |                   + $B::DOUBLE * dl.dl::DOUBLE
       |                     / (st.total_dl::DOUBLE / st.n_docs)))) DESC,
       |             tc.term ASC) AS rn
       |  FROM tc JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN st)
       |SELECT doc_id, CAST(rn AS INT) AS rank, term, round(score, 6) AS bm25
       |FROM ranked WHERE rn <= $Bm25K""".stripMargin

  // ---- inverted_index: blocked posting lists ---------------------------
  /** Inverted index as (term, block) posting rows: per doc-id block of
    * width [[BlockW]], the term's in-block document frequency, collection
    * frequency, and the posting list itself as `doc:tf` pairs sorted by
    * doc_id. Blocking by `doc_id div ${BlockW}` keeps every group — and
    * therefore every collect_list — bounded by the block width even for
    * stop-word terms whose full posting list is corpus-sized; readers
    * scan a term's blocks in order (block is the skip pointer).
    *
    * Determinism: postings are `lpad(doc_id, 8, '0'):tf` strings sorted
    * lexicographically — the zero-pad makes lexicographic = numeric
    * order, and both engines sort strings bytewise. No doubles anywhere.
    */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    invertedIndexOn(Tables.documents(spark, dir))

  private[graft] def invertedIndexOn(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tc"))
      .withColumn("block", expr(s"doc_id div $BlockW"))
      .groupBy("term", "block")
      .agg(
        count(lit(1)).as("df_block"),
        sum(col("tc")).as("cf_block"),
        array_join(
          sort_array(collect_list(
            concat(lpad(col("doc_id").cast("string"), 8, "0"), lit(":"), col("tc")))),
          ",").as("postings"))
      .orderBy("term", "block")

  val invertedIndexSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tc AS (SELECT doc_id, term, count(*) AS tc FROM tok GROUP BY 1, 2)
       |SELECT term, doc_id // $BlockW AS block,
       |       count(*) AS df_block,
       |       CAST(sum(tc) AS BIGINT) AS cf_block,
       |       array_to_string(
       |         list_sort(list(lpad(doc_id::VARCHAR, 8, '0') || ':' || tc)),
       |         ',') AS postings
       |FROM tc GROUP BY 1, 2 ORDER BY term, block""".stripMargin

  // ---- hybrid_rrf: lexical × vector retrieval fusion --------------------
  /** Hybrid retrieval with Reciprocal Rank Fusion (Cormack/Clarke/
    * Büttcher, SIGIR'09) — the shape modern RAG/search stacks actually
    * serve: a LEXICAL leg (BM25 over the query document's top-[[QTerms]]
    * characteristic terms — query construction reuses `bm25_topk`'s
    * scoring frames verbatim) and a VECTOR leg (exact cosine over the
    * embeddings table), each cut to its top-[[LegK]], fused per (query,
    * doc) by `rrf = Σ_legs 1/(RrfK + rank_leg)` with a missing leg
    * contributing 0, final top-[[FuseK]] by (rrf desc, doc asc).
    *
    * Partial index coverage is a FEATURE of the fusion: at sf0.1 only
    * docs 0–1999 carry embeddings, so queries ≥ 2000 rank on the
    * lexical leg alone — exactly how production behaves while a vector
    * index backfills. Ranks are integers; the two 1/(60+r) terms add in
    * the same order on both engines (each division is a single exact
    * IEEE op on integer-valued operands), so the fusion is
    * bit-reproducible.
    *
    * Scale (100 TB): query terms are ≤ Q·QTerms rows (broadcast); the
    * lexical candidate stream is the probed posting lists of ≤ QTerms
    * rare-ish terms per query (characteristic terms have LOW df by
    * construction — the BM25 idf picked them — so the probe is
    * selective, the production WAND-style bound); the vector leg is the
    * knn_brute broadcast scan, swappable for the IVF/PQ tier
    * ([[graft.similarity.PqAnn]]) with the fusion unchanged. Both legs
    * end in per-query bounded windows; fusion joins two ≤ Q·LegK
    * frames.
    */
  private val QTerms = 8
  private val LegK   = 20
  private val RrfK   = 60
  private val FuseK  = 10

  def hybridRrf(spark: SparkSession, dir: String): DataFrame =
    hybridRrfOn(Tables.documents(spark, dir), Tables.embeddings(spark, dir))

  /** @param queryPred picks the query DOCUMENTS (and, via the same id
    *   rule, query vectors). Production contract: a BOUNDED query batch
    *   — the probe pins queries to the base id range at replica scales
    *   (the knn_pq quadratic-query lesson).
    */
  /** The BM25-scored postings frame (doc_id, term, tc, score) — the
    * corpus-linear term every lexical index build pays once. Shared by
    * the per-batch `hybrid_rrf` entry and [[graft.sources.HybridStore]]'s
    * build phase, so stored and recomputed scores are identical by
    * construction. `tc` rides along so the store can be RESCORED
    * against fresh global stats when a delta tier arrives
    * ([[hybridRrfLive]]) — impact scores freeze corpus statistics at
    * build time; the raw counts don't.
    */
  private def bm25ScoredOn(docs: DataFrame): DataFrame =
    bm25ScoredOverTf(termFrequencies(docs))

  /** Okapi per-(doc, term) scores off ANY (doc_id, term, tc) source —
    * dl/df/stats re-derived from the tf frame itself, so base-store
    * counts ∪ delta counts rescore EXACTLY as a full rebuild would (the
    * [[hybridRrfLive]] equality law).
    */
  private[graft] def bm25ScoredOverTf(rawTf: DataFrame): DataFrame = {
    val tf = rawTf.localCheckpoint(eager = false) // consumers: dl, df, scores
    val dl = tf.groupBy("doc_id").agg(sum(col("tc")).as("dl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
    val idf = log(
      (col("n_docs").cast("double") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
        + lit(1.0))
    val tfn = (col("tc").cast("double") * lit(K1 + 1)) /
      (col("tc") + lit(K1) * (lit(1.0) - lit(B)
        + lit(B) * col("dl").cast("double") / (col("total_dl").cast("double") / col("n_docs"))))
    tf.join(dl, "doc_id")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("score", idf * tfn)
      .select(col("doc_id"), col("term"), col("tc"), col("score"))
  }

  /** RRF fusion of the two leg rankings — missing leg contributes 0,
    * final top-[[FuseK]] by (rrf desc, doc asc). Shared verbatim by the
    * per-batch and the index-served entries: fusion is leg-source-
    * agnostic by design.
    */
  private def fuse(lexRank: DataFrame, vecRank: DataFrame): DataFrame = {
    val wf = Window.partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id").asc)
    lexRank.join(vecRank, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        when(col("lex_rank").isNotNull, lit(1.0) / (lit(RrfK).cast("double") + col("lex_rank")))
          .otherwise(lit(0.0))
          + when(col("vec_rank").isNotNull, lit(1.0) / (lit(RrfK).cast("double") + col("vec_rank")))
          .otherwise(lit(0.0)))
      .withColumn("rank", row_number().over(wf))
      .filter(col("rank") <= FuseK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        round(col("rrf"), 6).as("rrf"),
        col("lex_rank").cast("int").as("lex_rank"),
        col("vec_rank").cast("int").as("vec_rank"))
      .orderBy("query_id", "rank")
  }

  private[graft] def hybridRrfOn(docs: DataFrame, emb: DataFrame): DataFrame = {
    graft.GraftExtensions.register(docs.sparkSession)
    val scored = bm25ScoredOn(docs)
      .localCheckpoint(eager = false) // consumers: query-term pick + probe side
    // query construction: each query doc's top-QTerms characteristic terms
    val wq = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    val qterms = scored.filter(col("doc_id") % 100 === 0)
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= QTerms)
      .select(col("doc_id").as("query_id"), col("term"))
    // lexical leg: Σ of matched-term BM25 over the probed postings
    val wl = Window.partitionBy("query_id").orderBy(col("lex").desc, col("doc_id").asc)
    val lexRank = scored.join(broadcast(qterms), "term")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("score")).as("lex"))
      .withColumn("lex_rank", row_number().over(wl))
      .filter(col("lex_rank") <= LegK)
      .select(col("query_id"), col("doc_id"), col("lex_rank"))
    // vector leg: exact cosine, the knn_brute shape at LegK depth
    val e = graft.similarity.Similarity.withNorms(emb)
    val vq = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("va"), col("n2").as("qn2"))
    val wv = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("doc_id").asc)
    val vecRank = e.withColumnRenamed("v", "vb")
      .join(broadcast(vq), col("query_id") =!= col("vec_id"))
      .withColumn("cosine",
        expr("vec_dot(va, vb)") / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .select(col("query_id"), col("vec_id").as("doc_id"), col("cosine"))
      .withColumn("vec_rank", row_number().over(wv))
      .filter(col("vec_rank") <= LegK)
      .select(col("query_id"), col("doc_id"), col("vec_rank"))
    // fusion: missing leg contributes 0; ties break doc asc
    fuse(lexRank, vecRank)
  }

  /** The lexical half of the fusion oracles (tok → … → lexr), WITH-less
    * so both the per-batch and index-served entries splice it verbatim —
    * the stored postings ARE these scores, so one CTE text serves both.
    */
  private val lexCtesSql: String =
    s"""tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tc AS (SELECT doc_id, term, count(*) AS tc FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tc) AS BIGINT) AS dl FROM tc GROUP BY 1),
       |df AS (SELECT term, count(*) AS df FROM tc GROUP BY 1),
       |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl FROM dl),
       |scored AS MATERIALIZED (
       |  SELECT tc.doc_id, tc.term,
       |         ln((st.n_docs::DOUBLE - df.df + 0.5::DOUBLE) / (df.df + 0.5::DOUBLE)
       |            + 1.0::DOUBLE)
       |         * ((tc.tc::DOUBLE * ${K1 + 1}::DOUBLE)
       |            / (tc.tc + $K1::DOUBLE * (1.0::DOUBLE - $B::DOUBLE
       |               + $B::DOUBLE * dl.dl::DOUBLE
       |                 / (st.total_dl::DOUBLE / st.n_docs)))) AS score
       |  FROM tc JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN st),
       |qterms AS (
       |  SELECT doc_id AS query_id, term FROM (
       |    SELECT doc_id, term,
       |           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rn
       |    FROM scored WHERE doc_id % 100 = 0) WHERE rn <= $QTerms),
       |lexr AS (
       |  SELECT query_id, doc_id, lex_rank FROM (
       |    SELECT q.query_id, s.doc_id, sum(s.score) AS lex,
       |           row_number() OVER (PARTITION BY q.query_id
       |             ORDER BY sum(s.score) DESC, s.doc_id ASC) AS lex_rank
       |    FROM scored s JOIN qterms q USING (term)
       |    WHERE s.doc_id <> q.query_id
       |    GROUP BY 1, 2) WHERE lex_rank <= $LegK)""".stripMargin

  /** The fusion + final-cut suffix both oracles share (needs lexr/vecr). */
  private val fuseSql: String =
    s"""fused AS (
       |  SELECT coalesce(l.query_id, v.query_id) AS query_id,
       |         coalesce(l.doc_id, v.doc_id) AS doc_id,
       |         l.lex_rank, v.vec_rank,
       |         (CASE WHEN l.lex_rank IS NOT NULL
       |               THEN 1.0::DOUBLE / ($RrfK::DOUBLE + l.lex_rank) ELSE 0.0::DOUBLE END)
       |         + (CASE WHEN v.vec_rank IS NOT NULL
       |                 THEN 1.0::DOUBLE / ($RrfK::DOUBLE + v.vec_rank) ELSE 0.0::DOUBLE END) AS rrf
       |  FROM lexr l FULL OUTER JOIN vecr v
       |    ON l.query_id = v.query_id AND l.doc_id = v.doc_id)
       |SELECT query_id, CAST(rn AS INT) AS rank, doc_id, round(rrf, 6) AS rrf,
       |       CAST(lex_rank AS INT) AS lex_rank, CAST(vec_rank AS INT) AS vec_rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS rn
       |      FROM fused)
       |WHERE rn <= $FuseK
       |ORDER BY query_id, rank""".stripMargin

  val hybridRrfSql: String =
    s"""WITH $lexCtesSql,
       |e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |         list_reduce(list_transform(embedding::DOUBLE[], x -> x * x), (a, b) -> a + b) AS n2
       |  FROM embeddings),
       |vecr AS (
       |  SELECT query_id, doc_id, vec_rank FROM (
       |    SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
       |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |             list_reduce(list_transform(list_zip(q.v, e.v), p -> p[1] * p[2]), (a, b) -> a + b)
       |               / (sqrt(q.n2) * sqrt(e.n2)) DESC, e.vec_id ASC) AS vec_rank
       |    FROM e q JOIN e ON q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id)
       |  WHERE vec_rank <= $LegK),
       |$fuseSql""".stripMargin

  // ---- hybrid_rrf_served: the index-backed serving shape ---------------
  /** `hybrid_rrf` as PRODUCTION SERVES it (the r10 review's #1 gap):
    * both legs probe PERSISTED indexes ([[graft.sources.HybridStore]])
    * instead of recomputing corpus frames per query batch. The lexical
    * leg probes the term-bucketed BM25 postings store (scores baked in
    * at build — an impact-ordered index), the vector leg routes each
    * query against the broadcast trained-centroid table
    * ([[graft.similarity.IvfTrained]] cells) and scans ONLY its nprobe
    * cells via static partition pruning (the bounded probe-id collect is
    * the `VectorIndexIngest` control-plane pattern). The fusion is
    * [[fuse]] verbatim — leg-source-agnostic by construction.
    *
    * Semantics: the lexical leg is EXACT (stored scores are
    * [[bm25ScoredOn]]'s, bit-identical); the vector leg carries the
    * trained tier's measured recall trade (np=8 of K=20 cells — the
    * published sweep) instead of the per-batch entry's exact scan. The
    * oracle replicates the routing via the exact-integer kmeans chain,
    * so the served ranking is oracle-checked end-to-end; the spec closes
    * the loop the other way — with nprobe ≥ K the served output equals
    * `hybrid_rrf` exactly (the store/probe plumbing is lossless).
    *
    * Scale (100 TB): the build pass is the one corpus-linear term and is
    * PAID ONCE (Bench's min-of-3 reads the serve-only cost — run 1
    * builds, runs 2-3 probe); each served batch reads Q·QTerms posting
    * lists + Q·nprobe cells — index-side exchanges: ZERO (spec-asserted,
    * the BandStore law).
    */
  private val ServedBuckets = 8
  private val buildLock = new Object

  /** Collision-proof store key for a source directory: the sanitized
    * name keeps keys readable, the appended CRC of the RAW string keeps
    * distinct dirs distinct (sanitization alone maps e.g. `sf0.1` and
    * `sf0_1` to the same key — the round-11 review's staleness hole).
    */
  private[graft] def storeKey(dir: String): String = {
    val crc = new java.util.zip.CRC32
    crc.update(dir.getBytes("UTF-8"))
    dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + java.lang.Long.toHexString(crc.getValue)
  }

  /** Build-once-serve-many store resolution. CONTRACT: `key` names the
    * corpus CONTENT — callers must derive it via [[storeKey]] (distinct
    * dirs can never collide) or, for frame-based probe/spec callers,
    * choose a key unique to the frames they pass; re-calling with the
    * same key and different data serves the memoized store (by design —
    * that is the serve economics), so mutate the key when the corpus
    * changes.
    */
  private def servedStores(spark: SparkSession, key: String,
      docs: => DataFrame, emb: => DataFrame): graft.sources.HybridStore.Stores =
    buildLock.synchronized {
      val base = graft.sources.StoreCatalog.root("graft_hybrid_store", key)
      val s = graft.sources.HybridStore.Stores(
        s"hybrid_postings_$key", base + "/vectors", base + "/centroids")
      // built = table registered AND both parquet writes COMMITTED (the
      // StoreCatalog `_SUCCESS` rule — the previous bare directory-exists
      // java.io checks were the stale-partial-cache class)
      val built = spark.catalog.tableExists(s.postingsTable) &&
        graft.sources.StoreCatalog.committed(spark, s.vectorsPath) &&
        graft.sources.StoreCatalog.committed(spark, s.centroidsPath)
      if (!built) {
        graft.sources.StoreCatalog.sweepTable(spark, s.postingsTable)
        val e = emb
        // K-row trained centroid table: consumed by the assignment pass
        // now and persisted for the query-side router
        val cents = graft.similarity.KMeansExact.centroidsPacked(e).localCheckpoint()
        val vectors = graft.similarity.Similarity.withNorms(e)
          .join(graft.similarity.IvfTrained.assignOn(
            graft.similarity.IvfTrained.scaledQuantized(e), cents), "vec_id")
        graft.sources.HybridStore.write(
          bm25ScoredOn(docs), vectors, cents, s, ServedBuckets)
      }
      s
    }

  def hybridRrfServed(spark: SparkSession, dir: String): DataFrame =
    hybridRrfServedOn(spark, dir, graft.similarity.IvfTrained.NProbe)

  private[graft] def hybridRrfServedOn(spark: SparkSession, dir: String,
                                       nprobe: Int): DataFrame =
    hybridRrfServedFrames(spark, storeKey(dir),
      Tables.documents(spark, dir), Tables.embeddings(spark, dir), nprobe)

  /** Frame-based served entry (the registry path passes the sf tables
    * under their store key). Queries are the ids ≡ 0 (mod 100) — the
    * same bounded-batch contract as [[hybridRrfOn]].
    */
  private[graft] def hybridRrfServedFrames(spark: SparkSession, key: String,
      docs: => DataFrame, emb: => DataFrame, nprobe: Int): DataFrame = {
    graft.GraftExtensions.register(spark)
    val st = servedStores(spark, key, docs, emb)
    // lexical leg: query construction + candidate probe, both off the
    // postings store; the index side of the probe join never exchanges
    val postings = spark.table(st.postingsTable)
    val wq = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    val qterms = postings.filter(col("doc_id") % 100 === 0)
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= QTerms)
      .select(col("doc_id").as("query_id"), col("term"))
    val wl = Window.partitionBy("query_id").orderBy(col("lex").desc, col("doc_id").asc)
    val lexRank = postings.join(broadcast(qterms), "term")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("score")).as("lex"))
      .withColumn("lex_rank", row_number().over(wl))
      .filter(col("lex_rank") <= LegK)
      .select(col("query_id"), col("doc_id"), col("lex_rank"))
    // vector leg: route the query batch against the broadcast centroid
    // table, then scan only the probed cells (static partition pruning)
    val cents = spark.read.parquet(st.centroidsPath)
    val rawQ = emb.filter(col("vec_id") % 100 === 0)
    val probes = graft.similarity.IvfTrained
      .probesOn(graft.similarity.IvfTrained.scaledQuantized(rawQ), cents, nprobe)
      .localCheckpoint(eager = false) // consumers: probe-id collect + member join
    // ≤ K distinct cell ids — the VectorIndexIngest control-plane read
    // that turns the cell restriction into a static partition filter
    val probeIds = probes.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val qv = graft.similarity.Similarity.withNorms(rawQ)
      .select(col("vec_id").as("query_id"), col("v").as("va"), col("n2").as("qn2"))
    val wv = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("doc_id").asc)
    val vecRank = spark.read.parquet(st.vectorsPath)
      .filter(col("centroid_id").isin(probeIds: _*))
      .join(broadcast(probes), "centroid_id")
      .filter(col("query_id") =!= col("vec_id"))
      .join(broadcast(qv), "query_id")
      .withColumn("cosine", expr("vec_dot(va, v)") / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .select(col("query_id"), col("vec_id").as("doc_id"), col("cosine"))
      .withColumn("vec_rank", row_number().over(wv))
      .filter(col("vec_rank") <= LegK)
      .select(col("query_id"), col("doc_id"), col("vec_rank"))
    fuse(lexRank, vecRank)
  }

  /** LIVE hybrid retrieval: the base [[graft.sources.HybridStore]] plus
    * a [[graft.streaming.PostingsIngest]] DELTA tier — the freshness
    * composition production actually runs between index rebuilds (base
    * rebuilt at refresh cadence; the crawler's new documents searchable
    * within one trigger interval). The lexical leg RESCORES the union
    * of base-store counts and delta counts against CURRENT global stats
    * ([[bm25ScoredOverTf]] — BM25's df/dl/N are corpus-global, so
    * frozen impact scores drift as deltas arrive; the stored `tc`
    * column is what makes exact rescoring possible without re-reading
    * the corpus), which makes the freshness law EXACT:
    * base(half) + delta(other half) ≡ a full rebuild, bit-for-bit
    * (`PostingsIngestSpec` pins it end-to-end). The vector leg serves
    * from the base trained-cell store — embeddings lag text in
    * production (the documented backfilling regime); with nprobe ≥ K it
    * degenerates to the exact scan, which is what the law uses.
    *
    * Scale: the rescoring pass is one scan of base postings ∪ deltas
    * (index-sized, not corpus-sized — no tokenization re-runs), cached
    * between delta arrivals; the probes on top stay the served entry's
    * bounded per-query work.
    */
  private[graft] def hybridRrfLive(spark: SparkSession, key: String,
      baseDocs: => DataFrame, emb: => DataFrame,
      delta: graft.streaming.PostingsIngest.Stores, nprobe: Int,
      tombstones: Option[DataFrame] = None): DataFrame = {
    graft.GraftExtensions.register(spark)
    val st = servedStores(spark, key, baseDocs, emb)
    // tombstoned docs (the knnServedDel deletion contract, lexical side)
    // vanish from the tf stream BEFORE scoring, so df/dl/N re-derive
    // from the survivors — deletion-correct BM25 without a rebuild
    val dead = tombstones.map(t => t.select(col(t.columns.head).as("dead_id")))
    def living(df: DataFrame, idCol: String): DataFrame = dead.fold(df)(d =>
      df.join(broadcast(d), col(idCol) === col("dead_id"), "left_anti"))
    val liveTf = living(
      spark.table(st.postingsTable).select("doc_id", "term", "tc")
        .unionByName(graft.streaming.PostingsIngest.mergedTf(spark, delta)),
      "doc_id")
    val scored = bm25ScoredOverTf(liveTf)
      .select("doc_id", "term", "score")
      .localCheckpoint(eager = false) // consumers: query-term pick + probe
    val wq = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    val qterms = scored.filter(col("doc_id") % 100 === 0)
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= QTerms)
      .select(col("doc_id").as("query_id"), col("term"))
    val wl = Window.partitionBy("query_id").orderBy(col("lex").desc, col("doc_id").asc)
    val lexRank = scored.join(broadcast(qterms), "term")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("score")).as("lex"))
      .withColumn("lex_rank", row_number().over(wl))
      .filter(col("lex_rank") <= LegK)
      .select(col("query_id"), col("doc_id"), col("lex_rank"))
    // vector leg: the base store's trained cells, served
    val cents = spark.read.parquet(st.centroidsPath)
    val rawQ = living(emb.filter(col("vec_id") % 100 === 0), "vec_id")
    val probes = graft.similarity.IvfTrained
      .probesOn(graft.similarity.IvfTrained.scaledQuantized(rawQ), cents, nprobe)
      .localCheckpoint(eager = false)
    val probeIds = probes.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val qv = graft.similarity.Similarity.withNorms(rawQ)
      .select(col("vec_id").as("query_id"), col("v").as("va"), col("n2").as("qn2"))
    val wv = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("doc_id").asc)
    val vecRank = living(spark.read.parquet(st.vectorsPath)
        .filter(col("centroid_id").isin(probeIds: _*)), "vec_id")
      .join(broadcast(probes), "centroid_id")
      .filter(col("query_id") =!= col("vec_id"))
      .join(broadcast(qv), "query_id")
      .withColumn("cosine", expr("vec_dot(va, v)") / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .select(col("query_id"), col("vec_id").as("doc_id"), col("cosine"))
      .withColumn("vec_rank", row_number().over(wv))
      .filter(col("vec_rank") <= LegK)
      .select(col("query_id"), col("doc_id"), col("vec_rank"))
    fuse(lexRank, vecRank)
  }

  /** LIVE served ANN — the VECTOR side of the freshness trilogy
    * ([[hybridRrfLive]] is the lexical side): vectors arriving AFTER
    * the base build land in a DELTA generation assigned against the
    * SAME frozen centroid table (one [[graft.similarity.IvfTrained
    * .assignOn]] definition — centroids retrain rarely, the index
    * ingests continuously), and a query probes base ∪ delta with ONE
    * cell filter that partition-prunes BOTH stores (predicate pushdown
    * through the union). The freshness law is exact by construction:
    * with nprobe ≥ K every cell is probed, membership is total, and
    * the served ranking equals the brute-force exact top-10 over the
    * union corpus bit-for-bit (`HybridServeSpec` pins it) — at the
    * production nprobe the only difference is the trained tier's
    * published recall trade, never a freshness artifact.
    */
  private[graft] def knnServedLive(spark: SparkSession, key: String,
      baseDocs: => DataFrame, baseEmb: => DataFrame, deltaEmb: => DataFrame,
      nprobe: Int, tombstones: Option[DataFrame] = None): DataFrame = {
    graft.GraftExtensions.register(spark)
    val st = servedStores(spark, key, baseDocs, baseEmb)
    val cents = spark.read.parquet(st.centroidsPath)
    val deltaPath = st.vectorsPath + "_delta"
    graft.sources.HybridStore.writeVectors(
      graft.similarity.Similarity.withNorms(deltaEmb)
        .join(graft.similarity.IvfTrained.assignOn(
          graft.similarity.IvfTrained.scaledQuantized(deltaEmb), cents), "vec_id"),
      deltaPath)
    // tombstoned ids (a deletion batch, bounded by the rebuild cadence —
    // see knnServedDel) vanish from the member scan AND the query set
    val dead = tombstones.map(t => t.select(col(t.columns.head).as("dead_id")))
    def living(df: DataFrame): DataFrame = dead.fold(df)(d =>
      df.join(broadcast(d), col("vec_id") === col("dead_id"), "left_anti"))
    val rawQ = living(baseEmb.unionByName(deltaEmb).filter(col("vec_id") % 100 === 0))
    val probes = graft.similarity.IvfTrained
      .probesOn(graft.similarity.IvfTrained.scaledQuantized(rawQ), cents, nprobe)
      .localCheckpoint(eager = false)
    val probeIds = probes.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val qv = graft.similarity.Similarity.withNorms(rawQ)
      .select(col("vec_id").as("query_id"), col("v").as("va"), col("n2").as("qn2"))
    val wv = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id").asc)
    living(spark.read.parquet(st.vectorsPath)
        .unionByName(spark.read.parquet(deltaPath))
        .filter(col("centroid_id").isin(probeIds: _*)))
      .join(broadcast(probes), "centroid_id")
      .filter(col("query_id") =!= col("vec_id"))
      .join(broadcast(qv), "query_id")
      .withColumn("cosine", expr("vec_dot(va, v)") / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .withColumn("rank", row_number().over(wv))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cosine"))
  }

  // ---- bm25_search_served: lexical search off the postings store --------
  /** Plain BM25 text search served from the persisted postings store —
    * the lexical twin of [[knnServed]] and the third serving entry:
    * query construction (top-[[QTerms]] characteristic terms per query
    * doc) and the candidate probe both read the term-bucketed store
    * with its baked impact scores; output is the per-query top-[[LegK]]
    * (query_id, rank, doc_id, score) ranking a search box returns.
    * Because stored scores ARE [[bm25ScoredOverTf]]'s, the oracle is
    * the fusion oracle's `lexr` CTE chain verbatim — store and oracle
    * score identically by construction.
    */
  def bm25SearchServed(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(spark)
    val st = servedStores(spark, storeKey(dir),
      Tables.documents(spark, dir), Tables.embeddings(spark, dir))
    val postings = spark.table(st.postingsTable)
    val wq = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    val qterms = postings.filter(col("doc_id") % 100 === 0)
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= QTerms)
      .select(col("doc_id").as("query_id"), col("term"))
    val wl = Window.partitionBy("query_id").orderBy(col("lex").desc, col("doc_id").asc)
    postings.join(broadcast(qterms), "term")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("score")).as("lex"))
      .withColumn("rank", row_number().over(wl))
      .filter(col("rank") <= LegK)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("doc_id"), round(col("lex"), 6).as("score"))
      .orderBy("query_id", "rank")
  }

  val bm25SearchServedSql: String =
    s"""WITH $lexCtesSql,
       |ranked AS (
       |  SELECT q.query_id, s.doc_id, sum(s.score) AS lex,
       |         row_number() OVER (PARTITION BY q.query_id
       |           ORDER BY sum(s.score) DESC, s.doc_id ASC) AS rank
       |  FROM scored s JOIN qterms q USING (term)
       |  WHERE s.doc_id <> q.query_id
       |  GROUP BY 1, 2)
       |SELECT query_id, CAST(rank AS INT) AS rank, doc_id,
       |       round(lex, 6) AS score
       |FROM ranked WHERE rank <= $LegK
       |ORDER BY query_id, rank""".stripMargin

  // ---- knn_served: plain ANN search off the persisted vector index ------
  /** The `knn_ivf_trained` CONTRACT (query_id, neighbor_id, rank,
    * cosine) served from the persisted trained-cell store instead of
    * retraining + routing in-plan: queries route against the broadcast
    * centroid table, scan ONLY their nprobe cells (static partition
    * pruning), exact cosine over the routed members, top-10. Because
    * build-time assignment and the in-plan routing share one definition
    * ([[graft.similarity.IvfTrained.assignOn]]), the served result is
    * bit-identical to `knn_ivf_trained` — the oracle IS that entry's
    * oracle, and `HybridServeSpec` asserts the frame equality + the
    * partition-filter law. This is the plain-vector-search twin of
    * `hybrid_rrf_served`: what a 100 TB deployment actually executes
    * per query batch (the index pays the corpus-linear terms once).
    */
  def knnServed(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(spark)
    val st = servedStores(spark, storeKey(dir),
      Tables.documents(spark, dir), Tables.embeddings(spark, dir))
    val cents = spark.read.parquet(st.centroidsPath)
    val rawQ = Tables.embeddings(spark, dir).filter(col("vec_id") % 100 === 0)
    val probes = graft.similarity.IvfTrained
      .probesOn(graft.similarity.IvfTrained.scaledQuantized(rawQ), cents,
        graft.similarity.IvfTrained.NProbe)
      .localCheckpoint(eager = false)
    val probeIds = probes.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val qv = graft.similarity.Similarity.withNorms(rawQ)
      .select(col("vec_id").as("query_id"), col("v").as("va"), col("n2").as("qn2"))
    val wv = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id").asc)
    spark.read.parquet(st.vectorsPath)
      .filter(col("centroid_id").isin(probeIds: _*))
      .join(broadcast(probes), "centroid_id")
      .filter(col("query_id") =!= col("vec_id"))
      .join(broadcast(qv), "query_id")
      .withColumn("cosine", expr("vec_dot(va, v)") / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .withColumn("rank", row_number().over(wv))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Same routing, same scoring, same cut — the served path must
    * reproduce the in-plan trained tier exactly, so it shares its
    * oracle text verbatim.
    */
  val knnServedSql: String = graft.similarity.IvfTrained.knnIvfTrainedSql

  // ---- knn_served_del: tombstoned deletes on the served vector tier -----

  /** Deterministic tombstone rule for the oracle-checked deletion entry:
    * vec_id ≡ [[DelRes]] (mod [[DelMod]]) is deleted — ~14% of the
    * corpus, enough that deletion visibly reshapes every query's top-10.
    */
  private val DelMod = 7L
  private val DelRes = 3L

  /** [[knnServed]] under DELETION — the missing half of the freshness
    * story (adds stream in as delta generations; deletes cannot, because
    * the vectors are already IN the immutable base store). The
    * production answer is Lucene's: deletes land as TOMBSTONES — an id
    * store written beside the index — and serving anti-joins them; the
    * tombstones fold in for free at the next index build/compaction.
    * Centroids, assignments and routing are UNTOUCHED (they were trained
    * with the deleted vectors present — retraining per delete would make
    * deletion a corpus-linear operation), so the law is: served ranking
    * ≡ the trained tier's ranking over the SURVIVING members, deleted
    * docs neither returned nor issuing queries. The oracle replicates
    * exactly that — the knn_ivf_trained routing chain with the tombstone
    * filter on members and queries.
    *
    * Scale: the tombstone set is bounded by the deletion volume BETWEEN
    * index builds (the rebuild folds it to zero), so the anti-join is a
    * broadcast against a deletion batch — per-query work stays
    * probe-bounded, and the store scan keeps its partition pruning (the
    * anti-join sits above the pruned scan).
    */
  def knnServedDel(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(spark)
    val st = servedStores(spark, storeKey(dir),
      Tables.documents(spark, dir), Tables.embeddings(spark, dir))
    // the deletion batch lands beside the index (idempotent overwrite,
    // the delta-generation contract) and is read back as a store — the
    // serve path never sees the rule, only ids
    val tombPath = st.vectorsPath + "_tombstones"
    // write-once per rule key under the build lock (r15 ADVICE: the
    // unguarded per-invocation overwrite raced concurrent readers)
    buildLock.synchronized {
      graft.sources.StoreCatalog.ensureCommitted(spark,
          Seq(s"$tombPath/batch_id=0")) {
        Tables.embeddings(spark, dir)
          .filter(col("vec_id") % DelMod === DelRes)
          .select(col("vec_id").as("dead_id"))
          .write.mode("overwrite").parquet(s"$tombPath/batch_id=0")
      }
    }
    val dead = spark.read.parquet(tombPath).select("dead_id")
    val cents = spark.read.parquet(st.centroidsPath)
    val rawQ = Tables.embeddings(spark, dir).filter(col("vec_id") % 100 === 0)
      .join(broadcast(dead), col("vec_id") === col("dead_id"), "left_anti")
    val probes = graft.similarity.IvfTrained
      .probesOn(graft.similarity.IvfTrained.scaledQuantized(rawQ), cents,
        graft.similarity.IvfTrained.NProbe)
      .localCheckpoint(eager = false)
    val probeIds = probes.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val qv = graft.similarity.Similarity.withNorms(rawQ)
      .select(col("vec_id").as("query_id"), col("v").as("va"), col("n2").as("qn2"))
    val wv = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id").asc)
    spark.read.parquet(st.vectorsPath)
      .filter(col("centroid_id").isin(probeIds: _*))
      .join(broadcast(dead), col("vec_id") === col("dead_id"), "left_anti")
      .join(broadcast(probes), "centroid_id")
      .filter(col("query_id") =!= col("vec_id"))
      .join(broadcast(qv), "query_id")
      .withColumn("cosine", expr("vec_dot(va, v)") / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .withColumn("rank", row_number().over(wv))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cosine"))
  }

  /** The knn_ivf_trained oracle's routing chain, with the tombstone rule
    * filtering the member stream and the query set — deleted vectors
    * still participated in TRAINING (kmeans chain untouched), exactly
    * like the store.
    */
  val knnServedDelSql: String =
    s"""WITH ${graft.similarity.IvfTrained.trainedMembersSqlChain},
       |${graft.similarity.Similarity.EmbCteBody},
       |q AS (SELECT vec_id AS query_id, v AS qv, n2 AS qn2 FROM e
       |      WHERE vec_id % 100 = 0 AND vec_id % $DelMod <> $DelRes),
       |live AS (SELECT query_id, vec_id FROM members
       |         WHERE vec_id % $DelMod <> $DelRes),
       |${graft.similarity.Similarity.ivfScoredSqlFrom("live")}""".stripMargin

  // ---- phrase_search: exact-phrase ranking over adjacent positions ------
  private val PhraseQueries = 5
  private val PhraseTopDocs = 20

  /** Exact-PHRASE search — the positional half of the lexical tier
    * (BM25 ranks bags of words; a phrase query demands terms at ADJACENT
    * positions, the classic positional-postings operator). Query set:
    * the corpus' top-[[PhraseQueries]] bigrams by total frequency
    * (count desc / phrase asc — the deterministic-cut rule), each
    * answered with its top-[[PhraseTopDocs]] documents by phrase tf
    * (tf desc / doc_id asc).
    *
    * Plan shape — Spark-first, not a literal positional index: the
    * adjacency self-join over (doc_id, term, pos) postings materializes
    * exactly the adjacent-bigram stream after one extra exchange, so the
    * entry emits that stream DIRECTLY with a per-row transform over the
    * token array (zero shuffles until the tf aggregate — the same
    * narrow-pass spelling the shingle tier uses; k-term phrases are the
    * k-wide window of the same transform). Per-phrase ranking rides the
    * bounded `topk_by_score` aggregate, never a corpus-wide window
    * partition (a top phrase's posting list is corpus-sized at 100 TB;
    * the aggregate holds ≤ 20 rows of state per phrase per task).
    */
  def phraseSearch(spark: SparkSession, dir: String): DataFrame =
    phraseSearchOn(Tables.documents(spark, dir))

  /** (phrase, doc_id, tf) over adjacent token pairs — the positional
    * index frame both the per-batch entry and the served store build
    * from (one definition ⇒ served ≡ in-plan is structural).
    */
  private[graft] def phraseTf(docs: DataFrame): DataFrame =
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        graft.functions.TextFeatures.tokens(col("text")).as("toks"))
      // single-token guard: sequence(1, 0) counts DOWN to [1, 0] in Spark
      // (element_at(toks, 0) throws), while the oracle's
      // generate_series(1, 0) is empty — same gotcha deletionKeys1Sql
      // documents; IF(size < 2, array(), ...) makes both sides empty.
      .select(col("doc_id"), explode(expr(
        """IF(size(toks) < 2, array(),
          |  transform(sequence(1, size(toks) - 1),
          |    i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))))"""
          .stripMargin)).as("phrase"))
      .groupBy(col("phrase"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))

  /** Per-phrase top-docs ranking tail shared by in-plan and served. */
  private[graft] def phraseRank(tf: DataFrame, queries: DataFrame): DataFrame = {
    graft.GraftExtensions.register(tf.sparkSession)
    tf.join(broadcast(queries), "phrase")
      .groupBy(col("phrase"))
      .agg(expr(s"topk_by_score(cast(tf as double), doc_id, $PhraseTopDocs)").as("top"))
      .select(col("phrase"), posexplode(col("top")))
      .select(col("phrase"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("doc_id"), col("col.score").cast("long").as("tf"))
      .orderBy("phrase", "rank")
  }

  private[graft] def phraseSearchOn(docs: DataFrame): DataFrame = {
    // tf feeds BOTH the query-set derivation and the ranking join: one
    // lazy checkpoint materializes the tokenize+window+aggregate pass
    // once instead of twice (r15 What's-wrong #2 — the in-plan phrase
    // entries paid the corpus pass per consumer)
    val tf = phraseTf(docs).localCheckpoint(eager = false)
    val queries = tf.groupBy(col("phrase"))
      .agg(sum(col("tf")).as("cnt"))
      .orderBy(col("cnt").desc, col("phrase").asc)
      .limit(PhraseQueries)
      .select(col("phrase"))
    phraseRank(tf, queries)
  }

  /** [[phraseSearch]] served from a PERSISTED phrase-postings store —
    * the positional tier's `bm25_search_served` twin: the (phrase,
    * doc_id, tf) index is written ONCE as a phrase-bucketed catalog
    * table (BandStore mechanics — query-phrase probes never reshuffle
    * the index; a small query set broadcasts), with the corpus'
    * top-phrase query set persisted beside it. Serving reads |probed
    * posting lists|, never the corpus; bit-identical to the in-plan
    * entry because store build and entry share [[phraseTf]] verbatim,
    * so the oracle is shared too.
    */
  def phraseSearchServed(spark: SparkSession, dir: String): DataFrame =
    phraseSearchServedFrames(spark, storeKey(dir), Tables.documents(spark, dir))

  /** Frame-based served-phrase entry — the `servedStores` memoization
    * contract on `key`.
    */
  private[graft] def phraseSearchServedFrames(spark: SparkSession, key: String,
      docs: => DataFrame): DataFrame = {
    val (table, qPath) = buildLock.synchronized {
      val base = graft.sources.StoreCatalog.root("graft_phrase_store", key)
      val t = s"phrase_postings_$key"
      val q = base + "/queries"
      val built = spark.catalog.tableExists(t) &&
        graft.sources.StoreCatalog.committed(spark, q)
      if (!built) {
        graft.sources.StoreCatalog.sweepTable(spark, t)
        phraseTf(docs).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .bucketBy(ServedBuckets, "phrase").sortBy("phrase")
          .format("parquet").saveAsTable(t)
        // derive the query set from the just-landed table — the builder
        // previously recomputed the corpus tf pass a second time here
        spark.table(t).groupBy(col("phrase")).agg(sum(col("tf")).as("cnt"))
          .orderBy(col("cnt").desc, col("phrase").asc)
          .limit(PhraseQueries).select(col("phrase"))
          .coalesce(1).write.mode("overwrite").parquet(q)
      }
      (t, q)
    }
    phraseRank(spark.table(table), spark.read.parquet(qPath))
  }

  val phraseSearchSql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |bg AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
       |    i -> t[i] || ' ' || t[i+1])) AS phrase
       |  FROM toks),
       |tf AS (SELECT phrase, doc_id, count(*) AS tf FROM bg GROUP BY 1, 2),
       |q AS (SELECT phrase FROM (
       |  SELECT phrase, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1
       |  ORDER BY cnt DESC, phrase ASC LIMIT $PhraseQueries)),
       |r AS (
       |  SELECT tf.phrase, doc_id, tf,
       |         row_number() OVER (PARTITION BY tf.phrase
       |                            ORDER BY tf DESC, doc_id ASC) AS rank
       |  FROM tf JOIN q USING (phrase))
       |SELECT phrase, CAST(rank AS INT) AS rank, doc_id, CAST(tf AS BIGINT) AS tf
       |FROM r WHERE rank <= $PhraseTopDocs
       |ORDER BY phrase, rank""".stripMargin

  // ---- phrase_search_k: arbitrary-length phrase search -------------------
  private[graft] val PhraseKLen = 3

  /** (phrase, doc_id, tf) over k-token windows — [[phraseTf]] generalized
    * from the bigram special case (k = 2 reproduces it exactly). Same
    * narrow one-pass shape: zero shuffles before the tf aggregate;
    * `slice` + `array_join` spell the k-wide window without a join.
    */
  private[graft] def phraseTfK(docs: DataFrame, k: Int): DataFrame =
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        graft.functions.TextFeatures.tokens(col("text")).as("toks"))
      // the sequence(1, 0) count-down guard, k-generalized: a doc shorter
      // than k tokens has zero k-phrases on both engines
      .select(col("doc_id"), explode(expr(
        s"""IF(size(toks) < $k, array(),
           |  transform(sequence(1, size(toks) - ${k - 1}),
           |    i -> array_join(slice(toks, i, $k), ' ')))""".stripMargin))
        .as("phrase"))
      .groupBy(col("phrase"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))

  /** [[phraseSearch]] for k-word phrases (k = [[PhraseKLen]]) — the
    * r13 review's #3 ask: every search box supports quoted multi-word
    * phrases, and the bigram tier stopped at two. Query set and ranking
    * rules are [[phraseSearch]]'s verbatim (top-[[PhraseQueries]]
    * phrases by total frequency, top-[[PhraseTopDocs]] docs by tf); the
    * in-plan spelling is the k-wide window transform, which
    * `PhraseSearchSpec`'s generalized law pins ≡ the literal positional
    *-postings POSITION-CHAINING join (terms at pos, pos+1, …, pos+k−1)
    * — the operator a real positional index runs, and exactly what the
    * served twin executes against its (doc, term, pos) store.
    */
  def phraseSearchK(spark: SparkSession, dir: String): DataFrame =
    phraseSearchKOn(Tables.documents(spark, dir))

  private[graft] def phraseSearchKOn(docs: DataFrame): DataFrame = {
    // one materialization for both consumers — the bigram entry's trade
    val tf = phraseTfK(docs, PhraseKLen).localCheckpoint(eager = false)
    val queries = tf.groupBy(col("phrase"))
      .agg(sum(col("tf")).as("cnt"))
      .orderBy(col("cnt").desc, col("phrase").asc)
      .limit(PhraseQueries)
      .select(col("phrase"))
    phraseRank(tf, queries)
  }

  /** The positional postings frame (doc_id, term, pos) — the index a
    * real search engine persists once and answers ANY phrase length
    * from; 0-based positions, one row per token occurrence.
    */
  private[graft] def positionalPostings(docs: DataFrame): DataFrame =
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        posexplode(graft.functions.TextFeatures.tokens(col("text")))
          .as(Seq("pos", "term")))

  /** Position-chaining over a postings frame: a k-term phrase matches at
    * start s in doc d iff for EVERY i ∈ [0, k) a posting (d, termᵢ,
    * s + i) exists. One broadcast term-probe + one (phrase, doc, start)
    * aggregate: each (idx, start) slot is witnessed by at most one
    * posting (positions are unique per doc), so count(*) = k ⟺ full
    * match, and tf = the number of matching starts.
    */
  private[graft] def phraseChainTf(postings: DataFrame,
      queries: DataFrame): DataFrame = {
    val qTerms = queries
      .select(col("phrase"), posexplode(split(col("phrase"), " "))
        .as(Seq("idx", "term")))
    postings
      .join(broadcast(qTerms), "term")
      .groupBy(col("phrase"), col("doc_id"), (col("pos") - col("idx")).as("start"))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") === size(split(col("phrase"), " ")))
      .groupBy(col("phrase"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
  }

  /** [[phraseSearchK]] served from a PERSISTED positional-postings store
    * — the true index shape (the bigram tier's store buckets materialized
    * bigram phrases; this one stores (doc, term, pos) ONCE and answers
    * any phrase length by position-chaining). The store is term-bucketed
    * (BandStore mechanics), the corpus' top-k-phrase query set persists
    * beside it, and serving probes only the query terms' posting lists
    * (a bounded `isin` over the bucketed term column — the nprobe
    * partition-filter contract, lexical side) before the chain join.
    *
    * Bit-exactness: `PhraseSearchSpec`'s generalized law (k-window
    * transform ≡ position-chaining) makes the served tf frame equal
    * [[phraseTfK]]'s on the query set, so this entry shares
    * [[phraseSearchKSql]] verbatim.
    *
    * Scale (100 TB): the postings build is corpus-linear and paid once
    * per corpus — NOT per phrase length (the bigram store must rebuild
    * to serve trigrams; this store serves k = 2, 3, 17 alike). A served
    * query reads |probed posting lists| rows, never the corpus, and the
    * chain aggregate is keyed on (phrase, doc, start) — partial-
    * aggregable, skew-bounded by the hottest term's list.
    */
  def phraseSearchKServed(spark: SparkSession, dir: String): DataFrame =
    phraseSearchKServedFrames(spark, storeKey(dir), Tables.documents(spark, dir))

  /** Build-once resolution of the (doc, term, pos) positional-postings
    * catalog table — shared by EVERY phrase length (the store's whole
    * point): `phrase_search_k_served` and `phrase_search_mixed` probe
    * the same table; only their query sets differ. The crash window is
    * covered by the saveAsTable protocol (catalog registration commits
    * after the write) plus the stale-location sweep for a build killed
    * between location write and registration.
    */
  private def posPostingsTable(spark: SparkSession, key: String,
      docs: => DataFrame): String = {
    val t = s"pos_postings_$key"
    graft.sources.StoreCatalog.ensureTable(spark, t) {
      positionalPostings(docs)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .bucketBy(ServedBuckets, "term").sortBy("term")
        .format("parquet").saveAsTable(t)
    }
    t
  }

  /** Serve a query set from the positional store: bounded probe-term
    * collect (the nprobe contract, ≤ queries × k terms, pushed as an IN
    * filter so the bucketed scan prunes), then the position-chain join
    * + per-phrase ranking — the shared read path of every k.
    */
  private def phraseServeFromStore(spark: SparkSession, table: String,
      queries: DataFrame): DataFrame = {
    val terms = queries.select(explode(split(col("phrase"), " ")).as("t"))
      .distinct().collect().map(_.getString(0)).toSeq
    val postings = spark.table(table).filter(col("term").isin(terms: _*))
    phraseRank(phraseChainTf(postings, queries), queries)
  }

  private[graft] def phraseSearchKServedFrames(spark: SparkSession, key: String,
      docs: => DataFrame): DataFrame = {
    val (table, qPath) = buildLock.synchronized {
      val base = graft.sources.StoreCatalog.root("graft_pospost_store", key)
      val t = posPostingsTable(spark, key, docs)
      val q = base + "/queries"
      if (!graft.sources.StoreCatalog.committed(spark, q))
        phraseTfK(docs, PhraseKLen)
          .groupBy(col("phrase")).agg(sum(col("tf")).as("cnt"))
          .orderBy(col("cnt").desc, col("phrase").asc)
          .limit(PhraseQueries).select(col("phrase"))
          .coalesce(1).write.mode("overwrite").parquet(q)
      (t, q)
    }
    phraseServeFromStore(spark, table, spark.read.parquet(qPath))
  }

  // ---- phrase_search_mixed: k = 2 AND k = 4 from the SAME store ---------
  private[graft] val PhraseMixedKs = Seq(2, 4)

  /** Mixed-length phrase search — the proof of the positional store's
    * any-k claim (`RetrievalAnalytics` scaladoc: "the store answers
    * k = 2, 3, 17 alike", previously exercised only at k = 3): ONE query
    * batch mixing the corpus' top-[[PhraseQueries]] bigrams and top
    * 4-grams, answered by a single position-chain probe against the
    * same (doc, term, pos) table `phrase_search_k_served` reads — no
    * rebuild, no per-k artifact beyond the tiny query set.
    * [[phraseChainTf]] is length-agnostic by construction (the hits
    * filter counts against each phrase's own token count), so mixed
    * lengths ride one join.
    *
    * Scale (100 TB): identical serving economics to the k=3 twin — the
    * read is |probed posting lists| for the union of both query sets'
    * terms; the store build stays corpus-linear and paid once per
    * corpus, not per phrase length (the bigram-phrase store had to
    * rebuild to answer a new k; this entry is the receipt that this one
    * does not).
    */
  def phraseSearchMixed(spark: SparkSession, dir: String): DataFrame =
    phraseSearchMixedFrames(spark, storeKey(dir), Tables.documents(spark, dir))

  private[graft] def phraseSearchMixedFrames(spark: SparkSession, key: String,
      docs: => DataFrame): DataFrame = {
    val (table, qPath) = buildLock.synchronized {
      val base = graft.sources.StoreCatalog.root("graft_pospost_store", key)
      val t = posPostingsTable(spark, key, docs)
      val q = base + "/queries_mixed"
      if (!graft.sources.StoreCatalog.committed(spark, q))
        PhraseMixedKs.map(k =>
            phraseTfK(docs, k)
              .groupBy(col("phrase")).agg(sum(col("tf")).as("cnt"))
              .orderBy(col("cnt").desc, col("phrase").asc)
              .limit(PhraseQueries).select(col("phrase")))
          .reduce(_ unionByName _)
          .coalesce(1).write.mode("overwrite").parquet(q)
      (t, q)
    }
    phraseServeFromStore(spark, table, spark.read.parquet(qPath))
  }

  /** Oracle: per k the [[phraseSearchKSql]] chain (windows → tf → top
    * queries), unioned — the two-length query batch ranked by the same
    * tf-desc/doc-asc rule.
    */
  val phraseSearchMixedSql: String = {
    val perK = PhraseMixedKs.map { k =>
      s"""tg$k AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - ${k - 1}),
         |    i -> ${(0 until k).map(j => s"t[i+$j]").mkString(" || ' ' || ")})) AS phrase
         |  FROM toks),
         |tf$k AS (SELECT phrase, doc_id, count(*) AS tf FROM tg$k GROUP BY 1, 2),
         |q$k AS (SELECT phrase FROM (
         |  SELECT phrase, CAST(sum(tf) AS BIGINT) AS cnt FROM tf$k GROUP BY 1
         |  ORDER BY cnt DESC, phrase ASC LIMIT $PhraseQueries))""".stripMargin
    }.mkString(",\n")
    val tfU = PhraseMixedKs.map(k => s"SELECT * FROM tf$k").mkString(" UNION ALL ")
    val qU  = PhraseMixedKs.map(k => s"SELECT phrase FROM q$k").mkString(" UNION ALL ")
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |$perK,
       |tf AS ($tfU),
       |q AS ($qU),
       |r AS (
       |  SELECT tf.phrase, doc_id, tf,
       |         row_number() OVER (PARTITION BY tf.phrase
       |                            ORDER BY tf DESC, doc_id ASC) AS rank
       |  FROM tf JOIN q USING (phrase))
       |SELECT phrase, CAST(rank AS INT) AS rank, doc_id, CAST(tf AS BIGINT) AS tf
       |FROM r WHERE rank <= $PhraseTopDocs
       |ORDER BY phrase, rank""".stripMargin
  }

  val phraseSearchKSql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |tg AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - ${PhraseKLen - 1}),
       |    i -> ${(0 until PhraseKLen).map(j => s"t[i+$j]").mkString(" || ' ' || ")})) AS phrase
       |  FROM toks),
       |tf AS (SELECT phrase, doc_id, count(*) AS tf FROM tg GROUP BY 1, 2),
       |q AS (SELECT phrase FROM (
       |  SELECT phrase, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1
       |  ORDER BY cnt DESC, phrase ASC LIMIT $PhraseQueries)),
       |r AS (
       |  SELECT tf.phrase, doc_id, tf,
       |         row_number() OVER (PARTITION BY tf.phrase
       |                            ORDER BY tf DESC, doc_id ASC) AS rank
       |  FROM tf JOIN q USING (phrase))
       |SELECT phrase, CAST(rank AS INT) AS rank, doc_id, CAST(tf AS BIGINT) AS tf
       |FROM r WHERE rank <= $PhraseTopDocs
       |ORDER BY phrase, rank""".stripMargin

  // ---- knn_served_pq: ADC search off the persisted 16 B/vector codes ----

  /** PQ serving artifacts beside the trained-cell store: the corpus
    * codes packed into TWO LONGS per vector (16 × 8-bit codes = exactly
    * 16 bytes of payload — the compression the PQ256 tier prices),
    * partitioned by the SHARED trained-cell assignment so a query's
    * nprobe cells read as a static partition filter, plus the M·K-row
    * codebook the query-side ADC tables broadcast against.
    */
  private final case class PqStores(codesPath: String, codebookPath: String)

  /** Build-once resolution of the PQ artifacts — [[servedStores]]'
    * memoization contract (key names the corpus content). Packing is
    * sum-of-disjoint-bitfields (each code occupies its own 8 bits, so
    * the group sum IS the bitwise OR; the top field may wrap the sign
    * bit, which `shiftrightunsigned` unpacking is immune to).
    */
  private def pqStores(spark: SparkSession, key: String,
      st: graft.sources.HybridStore.Stores, emb: => DataFrame): PqStores =
    buildLock.synchronized {
      val base = graft.sources.StoreCatalog.root("graft_hybrid_store", key)
      val s = PqStores(base + "/pqcodes", base + "/pqcodebook")
      val built = graft.sources.StoreCatalog.committed(spark, s.codesPath) &&
        graft.sources.StoreCatalog.committed(spark, s.codebookPath)
      if (!built) {
        val (enc, cb) = graft.similarity.PqAnn.pqArtifacts(emb)
        val packed = enc.groupBy(col("vec_id")).agg(
          sum(expr("if(sub < 8,  shiftleft(cast(code as bigint), 8 * sub), 0L)"))
            .as("codes_lo"),
          sum(expr("if(sub >= 8, shiftleft(cast(code as bigint), 8 * (sub - 8)), 0L)"))
            .as("codes_hi"))
        packed
          .join(spark.read.parquet(st.vectorsPath).select("vec_id", "centroid_id"),
            "vec_id")
          .write.mode("overwrite").partitionBy("centroid_id").parquet(s.codesPath)
        cb.coalesce(1).write.mode("overwrite").parquet(s.codebookPath)
      }
      s
    }

  /** The persisted contiguous-K256 artifacts as (enc, codebook) frames —
    * the [[graft.similarity.PqAnn.knnServedPq256]] /
    * `knnServedPq256Rerank` read path (r18: the retrain-trio demotion).
    * Resolves the SAME build-once store the IVF-ADC serving tier uses
    * ([[pqStores]] — one corpus-encode pass feeds both the routed and
    * unrouted served forms), unpacking the two-longs layout back to
    * enc's (vec_id, sub, code).
    */
  private[graft] def pq256Artifacts(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val key = storeKey(dir)
    val st = servedStores(spark, key,
      Tables.documents(spark, dir), Tables.embeddings(spark, dir))
    val pq = pqStores(spark, key, st, Tables.embeddings(spark, dir))
    (graft.similarity.PqAnn.unpackCodes(spark.read.parquet(pq.codesPath)),
      spark.read.parquet(pq.codebookPath))
  }

  /** `knn_ivf_pq_rerank`'s contract (query_id, rank, vec_id, d2) served
    * from PERSISTED PQ artifacts instead of the in-plan train + encode —
    * the r12 review's #3 ask, and the FAISS deployment shape: queries
    * route against the broadcast centroid table, ADC-scan ONLY their
    * nprobe cells' packed codes (static partition pruning — 16 B/vector
    * moves, a 16× payload cut vs the int8 vector store and 256× vs the
    * float store), over-fetch 128 by table-lookup distance, and only
    * those survivors fetch full vectors for the exact integer rerank.
    *
    * Bit-exactness: training/encode run the in-plan entry's own
    * [[graft.similarity.PqAnn.pqArtifacts]] at build, routing shares
    * [[knnServed]]'s store assignment (= `knn_ivf_trained`'s, the proven
    * law), and the query-side tables share
    * [[graft.similarity.PqAnn.dtabFor]] — so the served ranking equals
    * `knn_ivf_pq_rerank` bit-for-bit and shares its oracle verbatim
    * (`PqServedSpec` pins frame equality + the partition-filter and
    * 16-byte-payload laws).
    *
    * Scale (100 TB): the build pass is corpus-linear and PAID ONCE; a
    * served batch reads Q·nprobe cells × 16 bytes/member + fetch·Q full
    * vectors. At 10⁹ vectors the packed code index is 16 GB — cacheable
    * where the 4 TB float store is not; that is the serving economics
    * this entry exists to demonstrate.
    */
  def knnServedPq(spark: SparkSession, dir: String): DataFrame =
    knnServedPqFrames(spark, storeKey(dir),
      Tables.documents(spark, dir), Tables.embeddings(spark, dir))

  /** Frame-based served-PQ entry (the registry path passes the sf
    * tables under their store key). Queries are the ids ≡ 0 (mod 100) —
    * the bounded-batch contract.
    */
  private[graft] def knnServedPqFrames(spark: SparkSession, key: String,
      docs: => DataFrame, emb: => DataFrame,
      dead: Option[DataFrame] = None): DataFrame = {
    graft.GraftExtensions.register(spark)
    val st = servedStores(spark, key, docs, emb)
    val pq = pqStores(spark, key, st, emb)
    val cents = spark.read.parquet(st.centroidsPath)
    // tombstones (when present) leave the query batch and the member
    // stream BEFORE the shortlist cut — `knn_served_del`'s contract on
    // the PQ tier: both engines over-fetch among the SURVIVORS
    def live(df: DataFrame): DataFrame = dead match {
      case Some(d) =>
        df.join(broadcast(d), df("vec_id") === d("dead_id"), "left_anti")
      case None => df
    }
    val rawQ = live(emb.filter(col("vec_id") % 100 === 0))
    val probes = graft.similarity.IvfTrained
      .probesOn(graft.similarity.IvfTrained.scaledQuantized(rawQ), cents,
        graft.similarity.IvfTrained.NProbe)
      .localCheckpoint(eager = false)
    val probeIds = probes.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val dtab = graft.similarity.PqAnn.dtabFor(rawQ,
      spark.read.parquet(pq.codebookPath))
    val fetch = graft.similarity.PqAnn.IvfRerankFetch
    val shortlist = live(spark.read.parquet(pq.codesPath)
        .filter(col("centroid_id").isin(probeIds: _*)))
      .join(broadcast(probes), "centroid_id")
      .filter(col("vec_id") =!= col("query_id"))
      // unpack the 16 codes back to enc's (sub, code) layout — the same
      // row volume the in-plan ADC joins, from 1/16th the scan bytes
      .select(col("query_id"), col("vec_id"), col("codes_lo"), col("codes_hi"),
        explode(expr("sequence(0, 15)")).as("sub"))
      .select(col("query_id"), col("vec_id"), col("sub"),
        expr("cast(shiftrightunsigned(if(sub < 8, codes_lo, codes_hi), 8 * (sub % 8)) & 255 as bigint)")
          .as("code"))
      .join(broadcast(dtab), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("dt")).as("d2"))
      .groupBy(col("query_id"))
      .agg(expr(s"topk_by_score(CAST(-d2 AS DOUBLE), vec_id, $fetch)").as("top"))
      .select(col("query_id"), explode(expr("transform(top, t -> t.id)")).as("vec_id"))
    val sv = graft.similarity.PqAnn.qScaledVectors(
      spark.read.parquet(st.vectorsPath).select(col("vec_id"), col("v")), "v")
    val qq = graft.similarity.PqAnn.qScaledVectors(rawQ)
      .select(col("vec_id").as("query_id"), col("qv").as("qq"))
    shortlist
      .join(sv, "vec_id")
      .join(broadcast(qq), "query_id")
      .withColumn("d2", expr("sq_dist_i64(qv, qq)"))
      .groupBy(col("query_id"))
      .agg(expr("topk_by_score(CAST(-d2 AS DOUBLE), vec_id, 10)").as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("vec_id"),
        (-col("col.score")).cast("long").as("d2"))
      .orderBy("query_id", "rank")
  }

  /** [[knnServedPq]] under DELETION — completing the PQ serving tier's
    * freshness story ([[knnServedDel]]'s tombstone contract on the
    * packed-code store): the deletion batch lands beside the codes
    * (idempotent overwrite), dead vectors leave the member stream and
    * dead queries leave the query set BEFORE the over-fetch cut, and the
    * exact rerank runs over the survivors only. Codebooks, coarse cells
    * and the packed codes are UNTOUCHED — deleted vectors still shaped
    * training, exactly like the store until its next rebuild — so the
    * oracle is [[graft.similarity.PqAnn.knnIvfPqRerankDelSql]]: the
    * rerank chain with the tombstone filter on members and queries
    * (previously an unconsumed SQL — r14 ADVICE — now this entry's gate).
    *
    * Scale (100 TB): [[knnServedPq]]'s serving economics plus one
    * broadcast anti-join against a deletion batch bounded by the volume
    * between index builds; partition pruning on the code store survives
    * (the anti-join sits above the pruned scan).
    */
  def knnServedPqDel(spark: SparkSession, dir: String): DataFrame = {
    val st = servedStores(spark, storeKey(dir),
      Tables.documents(spark, dir), Tables.embeddings(spark, dir))
    val tombPath = st.vectorsPath + "_tombstones"
    // write-once per rule key under the build lock (r15 ADVICE: the
    // unguarded per-invocation overwrite raced concurrent readers)
    buildLock.synchronized {
      graft.sources.StoreCatalog.ensureCommitted(spark,
          Seq(s"$tombPath/batch_id=0")) {
        Tables.embeddings(spark, dir)
          .filter(col("vec_id") % DelMod === DelRes)
          .select(col("vec_id").as("dead_id"))
          .write.mode("overwrite").parquet(s"$tombPath/batch_id=0")
      }
    }
    knnServedPqFrames(spark, storeKey(dir),
      Tables.documents(spark, dir), Tables.embeddings(spark, dir),
      dead = Some(spark.read.parquet(tombPath).select("dead_id")))
  }

  // ---- knn_served_pq_residual: residual codes in the serving tier ------

  /** Residual-PQ serving artifacts: the SAME two-longs/16-bytes packed
    * layout as [[pqStores]], but the codes quantize x − c(x) (the
    * residual after coarse assignment) instead of x. There is no stored
    * per-cell "offset" table: the cell-dependence lives entirely in the
    * query-side distance tables, which [[graft.similarity.PqAnn.residualDtab]]
    * computes per (query, probed cell) from the persisted codebook + the
    * store's own centroids — Q·nprobe·M·K broadcast rows, never a
    * corpus-sized artifact.
    */
  private final case class PqResStores(codesPath: String, codebookPath: String)

  /** Build-once resolution of the residual-PQ artifacts. Training/encode
    * is [[graft.similarity.PqAnn.pqResidualArtifacts]] — the in-plan
    * entry's own front half, so stored codes are bit-equal to what
    * `knn_ivf_pq_residual` derives in-plan; the coarse assignment that
    * partitions the codes is the store's own
    * (`IvfTrained.assignOn(scaledQuantized(e), centroidsPacked(e))`,
    * identical to [[servedStores]]' vectors build), so routing shares
    * [[knnServed]]'s proven store law.
    */
  private def pqResStores(spark: SparkSession, key: String,
      emb: => DataFrame): PqResStores =
    buildLock.synchronized {
      val base = graft.sources.StoreCatalog.root("graft_hybrid_store", key)
      val s = PqResStores(base + "/pqrescodes", base + "/pqrescodebook")
      val built = graft.sources.StoreCatalog.committed(spark, s.codesPath) &&
        graft.sources.StoreCatalog.committed(spark, s.codebookPath)
      if (!built) {
        val a = graft.similarity.PqAnn.pqResidualArtifacts(emb)
        a.enc.groupBy(col("vec_id")).agg(
            sum(expr("if(sub < 8,  shiftleft(cast(code as bigint), 8 * sub), 0L)"))
              .as("codes_lo"),
            sum(expr("if(sub >= 8, shiftleft(cast(code as bigint), 8 * (sub - 8)), 0L)"))
              .as("codes_hi"))
          .join(a.asg, "vec_id")
          .write.mode("overwrite").partitionBy("centroid_id").parquet(s.codesPath)
        a.codebook.coalesce(1).write.mode("overwrite").parquet(s.codebookPath)
      }
      s
    }

  /** `knn_ivf_pq_residual`'s contract served from PERSISTED residual
    * codes — the r13 review's #7 ask: the residual tier's measured
    * geometry win (recall 0.500 → **0.790**, +0.17, on the
    * planted-cluster corpus at identical routing and bit budget; flat on
    * the isotropic corpus — the round-12 A/B, PLANS.md "residual
    * encoding A/B'd on both geometries") previously existed only in-plan.
    * Same serve shape as [[knnServedPq]]: route against the store's
    * centroids, static-partition-prune to the nprobe cells, unpack
    * 16 B/vector codes — the one residual-specific cost is the distance
    * tables, built per (query, probed cell) because the query's residual
    * differs per cell (Q·nprobe·M·K rows vs the raw tier's Q·M·K; at
    * nprobe=8 an 8× larger broadcast, still query-bounded).
    *
    * Bit-exactness: build runs the in-plan entry's own
    * [[graft.similarity.PqAnn.pqResidualArtifacts]]; tables share
    * [[graft.similarity.PqAnn.residualDtab]]; so the served ranking
    * equals `knn_ivf_pq_residual` bit-for-bit and shares its oracle
    * verbatim (`PqResServedSpec` pins frame equality + the
    * partition-filter and payload laws).
    *
    * Scale (100 TB): identical serving economics to [[knnServedPq]] —
    * 16 GB of packed codes at 10⁹ vectors, corpus-linear build paid
    * once — plus the geometry-dependent recall headroom above, which is
    * exactly why FAISS's IVFPQ encodes residuals by default.
    */
  def knnServedPqResidual(spark: SparkSession, dir: String): DataFrame =
    knnServedPqResidualFrames(spark, storeKey(dir),
      Tables.documents(spark, dir), Tables.embeddings(spark, dir))

  private[graft] def knnServedPqResidualFrames(spark: SparkSession, key: String,
      docs: => DataFrame, emb: => DataFrame): DataFrame = {
    graft.GraftExtensions.register(spark)
    val st = servedStores(spark, key, docs, emb)
    val pq = pqResStores(spark, key, emb)
    val cents = spark.read.parquet(st.centroidsPath)
    val qSq = graft.similarity.IvfTrained
      .scaledQuantized(emb.filter(col("vec_id") % 100 === 0))
      .localCheckpoint(eager = false) // consumers: probes + tables
    val probes = graft.similarity.IvfTrained
      .probesOn(qSq, cents, graft.similarity.IvfTrained.NProbe)
      .localCheckpoint(eager = false)
    val probeIds = probes.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSeq // bounded: ≤ K cell ids
    // r19: the decomposed residual tables (see
    // [[graft.similarity.PqAnn.residualDtabSplit]]) — query-only +
    // store-side terms plus one scalar per probe, replacing the
    // per-(query, probed cell) monolithic tables. Same d2 bit-for-bit
    // (exact-integer identity, law in PqResServedSpec); table build and
    // broadcast shrink ~nprobe-fold.
    val (qtab, ctab, adj) = graft.similarity.PqAnn.residualDtabSplit(probes,
      qSq.select(col("vec_id").as("query_id"), col("sqv")),
      cents.filter(col("centroid_id").isin(probeIds: _*)),
      spark.read.parquet(pq.codebookPath))
    spark.read.parquet(pq.codesPath)
      .filter(col("centroid_id").isin(probeIds: _*))
      .join(broadcast(probes), "centroid_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("centroid_id"), col("vec_id"),
        col("codes_lo"), col("codes_hi"),
        explode(expr("sequence(0, 15)")).as("sub"))
      .select(col("query_id"), col("centroid_id"), col("vec_id"), col("sub"),
        expr("cast(shiftrightunsigned(if(sub < 8, codes_lo, codes_hi), 8 * (sub % 8)) & 255 as bigint)")
          .as("code"))
      .join(broadcast(qtab), Seq("query_id", "sub", "code"))
      .join(broadcast(ctab), Seq("centroid_id", "sub", "code"))
      .groupBy(col("query_id"), col("centroid_id"), col("vec_id"))
      .agg(sum(col("bt") + col("ct")).as("s"))
      .join(broadcast(adj), Seq("query_id", "centroid_id"))
      .select(col("query_id"), col("vec_id"), (col("adj") + col("s")).as("d2"))
      .groupBy(col("query_id"))
      .agg(expr("topk_by_score(CAST(-d2 AS DOUBLE), vec_id, 10)").as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("vec_id"),
        (-col("col.score")).cast("long").as("d2"))
      .orderBy("query_id", "rank")
  }

  // ---- the PQ retrain block demoted to artifact-backed forms (r17) -----

  /** The persisted PQ codes unpacked back to [[graft.similarity.PqAnn
    * .pqArtifacts]]' (vec_id, sub, code) layout, plus the stored
    * codebook — the encode tier of the demoted `knn_ivf_pq*` registry
    * derivations (r17 verdict #3, the `graph_coreness` demotion's
    * precedent): the store build IS pqArtifacts, so stored ≡ retrained
    * codes bit-for-bit; the in-plan retrain spellings remain the
    * spec-pinned reference derivations and the UNCHANGED oracles replay
    * the full train chain at the gate per run.
    */
  private def storedPqFrames(spark: SparkSession, key: String,
      docs: => DataFrame, emb: => DataFrame): (DataFrame, DataFrame) = {
    val st = servedStores(spark, key, docs, emb)
    val pq = pqStores(spark, key, st, emb)
    val enc = spark.read.parquet(pq.codesPath)
      .select(col("vec_id"), col("codes_lo"), col("codes_hi"),
        explode(expr("sequence(0, 15)")).as("sub"))
      .select(col("vec_id"), col("sub"),
        expr("cast(shiftrightunsigned(if(sub < 8, codes_lo, codes_hi), 8 * (sub % 8)) & 255 as bigint)")
          .as("code"))
    (enc, spark.read.parquet(pq.codebookPath))
  }

  /** `knn_ivf_pq` from the persisted codes — the fixed-modular routing
    * stays in-plan (it is the 0.47 s `knn_ivf` term; the ~1 s retrain
    * was the demoted cost). Output ≡ the in-plan entry (`PqServedSpec`'s
    * demotion law); oracle unchanged.
    */
  def knnIvfPqStored(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    graft.similarity.PqAnn.knnIvfPqOn(emb,
      artifacts = Some(storedPqFrames(spark, storeKey(dir),
        Tables.documents(spark, dir), emb)))
  }

  /** `knn_ivf_pq_sqrt` from the persisted codes, √N modular routing
    * in-plan.
    */
  def knnIvfPqSqrtStored(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    graft.similarity.PqAnn.knnIvfPqOn(emb,
      membersOf = graft.similarity.Similarity.ivfMembersSqrtOn,
      artifacts = Some(storedPqFrames(spark, storeKey(dir),
        Tables.documents(spark, dir), emb)))
  }

  /** The √N-TRAINED routing artifacts beside the hybrid store: the
    * Lloyd-refined √N centroid table (exact fixed-point integers, so
    * the parquet round-trip is bit-exact) and the corpus assignment
    * against it — what lets `knn_ivf_pq_rerank_sqrt` serve without
    * re-running either the √N kmeans fit or the N·√N assignment pass
    * per read. Build-once, `_SUCCESS`-gated, centroids before
    * assignment (dependency order for crash re-runs).
    */
  private final case class SqrtStores(centsPath: String, asgPath: String)

  private def sqrtStores(spark: SparkSession, key: String,
      emb: => DataFrame): SqrtStores =
    buildLock.synchronized {
      val base = graft.sources.StoreCatalog.root("graft_hybrid_store", key)
      val s = SqrtStores(base + "/sqrtcents", base + "/sqrtasg")
      val built = graft.sources.StoreCatalog.committed(spark, s.centsPath) &&
        graft.sources.StoreCatalog.committed(spark, s.asgPath)
      if (!built) {
        val c = graft.similarity.KMeansExact.centroidsPackedSqrt(emb)
          .localCheckpoint() // consumers: the write + the assignment pass
        c.coalesce(1).write.mode("overwrite").parquet(s.centsPath)
        graft.similarity.IvfTrained
          .assignOn(graft.similarity.IvfTrained.scaledQuantized(emb), c)
          .write.mode("overwrite").parquet(s.asgPath)
      }
      s
    }

  /** √N-trained member pairs served from the persisted centroids +
    * assignment — row-identical to [[graft.similarity.IvfTrained
    * .trainedMembersSqrtOn]] because probes/assignment are
    * deterministic functions of the (bit-exact) stored centroid table.
    */
  private[graft] def storedSqrtMembers(spark: SparkSession, key: String,
      emb: DataFrame, queryPred: org.apache.spark.sql.Column): DataFrame = {
    val ss = sqrtStores(spark, key, emb)
    val cents = spark.read.parquet(ss.centsPath)
    graft.similarity.IvfTrained
      .probesOn(graft.similarity.IvfTrained
          .scaledQuantized(emb.filter(queryPred)),
        cents, graft.similarity.IvfTrained.NProbe)
      .join(spark.read.parquet(ss.asgPath), "centroid_id")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"))
  }

  /** `knn_ivf_trained` SERVED from the hybrid store's persisted K-row
    * trained centroid table + corpus assignment (the r18 demotion — the
    * pair was the tape's last in-plan Lloyd-retrain cluster, drifting
    * as a family on unchanged code): probes route the query batch
    * against the stored centroids, members come from the vectors
    * store's (vec_id, centroid_id) — written at build time by the SAME
    * [[graft.similarity.IvfTrained.assignOn]] over the same bit-exact
    * fixed-point centroids, so the member stream is row-identical to
    * [[graft.similarity.IvfTrained.trainedMembersOn]] and the entry
    * shares `knnIvfTrainedSql` verbatim (`IvfServedSpec` demotion law).
    */
  def knnIvfTrainedStored(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val st = servedStores(spark, storeKey(dir), Tables.documents(spark, dir), emb)
    val cents = spark.read.parquet(st.centroidsPath)
    val members = graft.similarity.IvfTrained
      .probesOn(graft.similarity.IvfTrained.scaledQuantized(
          emb.filter(col("vec_id") % graft.similarity.IvfTrained.QueryMod === 0)),
        cents, graft.similarity.IvfTrained.NProbe)
      .join(spark.read.parquet(st.vectorsPath)
        .select(col("vec_id"), col("centroid_id")), "centroid_id")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"))
    graft.similarity.Similarity.scoreMembers(
      graft.similarity.Similarity.withNorms(emb), members)
  }

  /** `knn_ivf_trained_sqrt` SERVED from the persisted `sqrtcents`/
    * `sqrtasg` artifacts via [[storedSqrtMembers]] — the same member
    * stream `knn_ivf_pq_rerank_sqrt` already routes through, scored by
    * the exact-cosine rerank instead of ADC. Shares
    * `knnIvfTrainedSqrtSql` verbatim.
    */
  def knnIvfTrainedSqrtStored(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    graft.similarity.Similarity.scoreMembers(
      graft.similarity.Similarity.withNorms(emb),
      storedSqrtMembers(spark, storeKey(dir), emb,
        col("vec_id") % graft.similarity.IvfTrained.QueryMod === 0))
  }

  /** `knn_ivf_pq_rerank` served — [[knnServedPq]] verbatim (already
    * proven bit-equal by `PqServedSpec`); the registry key now points
    * here so the tape pays the serve, not the retrain.
    *
    * `knn_ivf_pq_rerank_sqrt` served: persisted codes + persisted
    * √N-trained routing + the in-plan exact rerank (full vectors are
    * read from the corpus, as the in-plan entry reads them).
    */
  def knnIvfPqRerankSqrtStored(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val key = storeKey(dir)
    graft.similarity.PqAnn.knnIvfPqRerankOn(emb,
      membersOf = (e, qp) => storedSqrtMembers(spark, key, e, qp),
      fetch = graft.similarity.PqAnn.IvfRerankFetch,
      artifacts = Some(storedPqFrames(spark, key,
        Tables.documents(spark, dir), emb)))
  }

  /** The served oracle: the lexical CTEs verbatim (stored scores ≡
    * recomputed scores), the vector leg over the trained-routing member
    * chain ([[graft.similarity.IvfTrained]]'s kmeans + assignment +
    * probes — the knn_ivf_trained oracle's routing, reused so store and
    * oracle route identically), fused by the shared suffix.
    */
  val hybridRrfServedSql: String =
    s"""WITH ${graft.similarity.IvfTrained.trainedMembersSqlChain},
       |$lexCtesSql,
       |${graft.similarity.Similarity.EmbCteBody},
       |q AS (SELECT vec_id AS query_id, v AS qv, n2 AS qn2 FROM e WHERE vec_id % 100 = 0),
       |vecr AS (
       |  SELECT query_id, doc_id, vec_rank FROM (
       |    SELECT m.query_id, m.vec_id AS doc_id,
       |           row_number() OVER (PARTITION BY m.query_id ORDER BY
       |             ${graft.similarity.Similarity.cosSql("q.qv", "e.v", "q.qn2", "e.n2")} DESC,
       |             m.vec_id ASC) AS vec_rank
       |    FROM members m JOIN e ON m.vec_id = e.vec_id JOIN q ON m.query_id = q.query_id)
       |  WHERE vec_rank <= $LegK),
       |$fuseSql""".stripMargin

  val registry: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "bm25_topk"         -> (bm25Topk _, bm25TopkSql),
    "inverted_index"    -> (invertedIndex _, invertedIndexSql),
    "hybrid_rrf"        -> (hybridRrf _, hybridRrfSql),
    "hybrid_rrf_served" -> (hybridRrfServed _, hybridRrfServedSql),
    "knn_served"        -> (knnServed _, knnServedSql),
    "knn_served_del"    -> (knnServedDel _, knnServedDelSql),
    "knn_served_pq"     -> (knnServedPq _, graft.similarity.PqAnn.knnIvfPqRerankSql),
    "knn_served_pq_del" -> (knnServedPqDel _,
      graft.similarity.PqAnn.knnIvfPqRerankDelSql(DelMod, DelRes)),
    "knn_served_pq_residual" -> (knnServedPqResidual _,
      graft.similarity.PqAnn.knnIvfPqResidualSql),
    // the demoted PQ retrain block (r17 verdict #3): artifact-backed
    // derivations under the UNCHANGED retrain-chain oracles
    "knn_ivf_pq" -> (knnIvfPqStored _, graft.similarity.PqAnn.knnIvfPqSql),
    "knn_ivf_pq_sqrt" ->
      (knnIvfPqSqrtStored _, graft.similarity.PqAnn.knnIvfPqSqrtSql),
    "knn_ivf_pq_rerank" ->
      (knnServedPq _, graft.similarity.PqAnn.knnIvfPqRerankSql),
    "knn_ivf_pq_rerank_sqrt" ->
      (knnIvfPqRerankSqrtStored _, graft.similarity.PqAnn.knnIvfPqRerankSqrtSql),
    "knn_ivf_pq_residual" -> (knnServedPqResidual _,
      graft.similarity.PqAnn.knnIvfPqResidualSql),
    // the trained-routing pair, artifact-backed as of r18 (the tape's
    // last in-plan Lloyd retrain cluster) under the UNCHANGED oracles
    "knn_ivf_trained" -> (knnIvfTrainedStored _,
      graft.similarity.IvfTrained.knnIvfTrainedSql),
    "knn_ivf_trained_sqrt" -> (knnIvfTrainedSqrtStored _,
      graft.similarity.IvfTrained.knnIvfTrainedSqrtSql),
    "bm25_search_served" -> (bm25SearchServed _, bm25SearchServedSql),
    "phrase_search"     -> (phraseSearch _, phraseSearchSql),
    "phrase_search_served" -> (phraseSearchServed _, phraseSearchSql),
    "phrase_search_k"   -> (phraseSearchK _, phraseSearchKSql),
    "phrase_search_k_served" -> (phraseSearchKServed _, phraseSearchKSql),
    "phrase_search_mixed" -> (phraseSearchMixed _, phraseSearchMixedSql),
  )
}
