package graft.similarity

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Label-aware embedding evaluation & curation tier — the operators a
  * training-data pipeline runs once vectors carry a class/source label
  * (the `embeddings.label` column): coreset selection, contrastive
  * hard-negative mining, centroid-margin label-error detection
  * (Confident-Learning-style, Northcutt et al. JAIR'21), and kNN
  * label-agreement evaluation (the standard embedding-quality probe).
  * North-star extensions beyond the reference surface (SURVEY.md §7.5 —
  * the reference has no vector operators).
  *
  * Cross-engine exactness follows the [[KMeansExact]]/[[MmrSelect]]
  * recipe: components quantize to `floor(e·1000)` BIGINT, distances are
  * exact integer squared-L2 (native codegen'd `sq_dist_i64`), centroids
  * are exact floor-divided integer means, and every argmin/argmax breaks
  * ties on the smaller id/label — bit-reproducible on any engine and any
  * partitioning. The cosine-ranked operators reuse the [[Similarity]]
  * float-fold determinism contract (sequential left fold, `dot /
  * (sqrt(n2a)·sqrt(n2b))` in that operation order).
  *
  * Scale (100 TB):
  *  - `kcenter_select` is a RERANKER like [[MmrSelect]]: the pool is a
  *    retrieval/cluster shard's candidate set, HARD-CAPPED at [[MaxPool]]
  *    rows (a `% mod` sample alone is a corpus fraction; the cap is a
  *    distributed TakeOrdered, so the fused greedy's one collected row
  *    stays ≤2 MB at any corpus size). Corpus-wide coresets run one
  *    pool per shard and union — the parallel axis is pools, not steps.
  *  - `hard_negatives` / `knn_label_acc` are the O(Q·N) broadcast-query
  *    scan of `knn_brute` with the bounded `topk_by_score` partial
  *    aggregate (≤ k candidates per map task cross the shuffle); Q is an
  *    anchor/eval set, bounded by construction. Production swaps the
  *    scan for the IVF/PQ tier — the vote/label machinery is unchanged.
  *  - `label_error_margin` is two narrow passes: one groupBy(label, dim)
  *    over exploded components (64·L cells, map-side combined), then a
  *    broadcast of the L-row centroid table back over the corpus and one
  *    global top-k. No shuffle is ever corpus-wide on the pair axis.
  */
object LabelEval {

  /** Component quantization scale (see [[KMeansExact]]). */
  private val QScale = 1000

  /** Embedding dimensionality of the test tables (oracle unroll width). */
  private val Dim = 64

  /** kcenter_select: pool membership rule + number of selections. */
  private val PoolMod = 10L
  private val KCenters = 10

  /** Hard cap on the k-center candidate pool: unlike MMR's pool (the
    * reranker's top-C contract bounds it), `vec_id % PoolMod` is a fixed
    * corpus FRACTION, so the fused greedy's single collect_list row
    * would grow with the corpus (≈0.5 KB/candidate → the ~2 GB
    * single-row wall near 4M pool members). The cap keeps the
    * MaxPool smallest sampled ids — deterministic, oracle-expressible
    * (ORDER BY vec_id LIMIT), planned as one distributed
    * TakeOrderedAndProject — so the greedy's input is ≤2 MB at ANY
    * corpus size. All test SFs sit far under the cap (2k vectors at
    * sf0.1 → pool 200), so results are unchanged.
    */
  private val MaxPool = 4096L

  /** hard_negatives: anchor set rule + negatives per anchor. */
  private val AnchorMod = 100L

  /** knn_label_acc: eval-set rule. */
  private val EvalMod = 20L

  /** Neighbors per query for both cosine-ranked operators. */
  private val TopK = 10

  /** label_error_margin: suspects reported. */
  private val Suspects = 20

  // ---- shared frames ----------------------------------------------------

  /** (vec_id, label, float vector v, squared norm n2) — [[Similarity
    * .withNorms]] plus the label column, same rebalance rationale.
    */
  private[graft] def withNormsL(df: DataFrame): DataFrame = {
    graft.GraftExtensions.register(df.sparkSession)
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("label"), col("embedding").as("v"),
        expr("vec_dot(embedding, embedding)").as("n2"))
  }

  private def embL(spark: SparkSession, dir: String): DataFrame =
    withNormsL(Tables.embeddings(spark, dir))

  /** (vec_id, label, quantized integer components qv). */
  private def quantized(emb: DataFrame): DataFrame = {
    graft.GraftExtensions.register(emb.sparkSession)
    emb.repartition(emb.sparkSession.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("label"),
        expr(s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $QScale) AS BIGINT))")
          .as("qv"))
  }

  // ---- kcenter_select: Gonzalez farthest-point coreset ------------------

  /** k-center greedy (Gonzalez '85): seed = smallest pool id, then each
    * step picks the candidate FARTHEST from the selected set (max over
    * candidates of min over selected d²), ties to the smaller vec_id.
    * `min_d2` on each row is the covering radius the selection had to
    * reach to add that center — the k-center radius curve, the artifact
    * a coreset consumer actually reads (how well k points cover the
    * pool). Complements [[MmrSelect]]: MMR balances query relevance vs
    * redundancy; k-center has no query and maximizes pure coverage.
    */
  def kcenterSelect(spark: SparkSession, dir: String): DataFrame =
    kcenterSelectOn(Tables.embeddings(spark, dir))

  /** ONE plan, not K (round 11 — the [[MmrSelect]] fusion applied to
    * the same k-chained shape): the pool is hard-capped at [[MaxPool]]
    * candidates (the `% PoolMod` sample alone is a corpus fraction), so
    * the whole Gonzalez walk runs inside a single
    * `aggregate(sequence(1, K), …)` higher-order expression over one
    * collect_list row, carrying the selected set as an accumulated
    * struct array and computing each step's min-distance coverage from
    * the quantized vectors inline. The seed falls out of the SAME
    * uniform step: with an empty selection every candidate's `m` is
    * null, so the sort key coalesces to (0, vec_id) — argmin id, the
    * seed convention — and `min_d2` coalesces to 0. Ten chained LIMIT-1
    * sub-plans (and their first-execution codegen cascade) become two
    * exchanges; `slice(array_sort(…), 1, 1)` keeps pool exhaustion
    * empty-safe.
    */
  private[graft] def kcenterSelectOn(emb: DataFrame): DataFrame = {
    val pool = quantized(emb).filter(col("vec_id") % PoolMod === 0)
      .orderBy("vec_id").limit(MaxPool.toInt)
      .agg(collect_list(struct(col("vec_id"), col("qv"))).as("cands"))
    val sqd = "aggregate(zip_with(%s, %s, (x, y) -> (x - y) * (x - y)), 0L, (a, b) -> a + b)"
    val stateType = "array<struct<sel_rank:bigint,vec_id:bigint,min_d2:bigint,qv:array<bigint>>>"
    val selExpr =
      s"""aggregate(
         |  sequence(1, $KCenters),
         |  cast(array() as $stateType),
         |  (acc, step) -> concat(acc, transform(
         |    slice(array_sort(transform(
         |      transform(
         |        filter(cands, c -> not exists(acc, s -> s.vec_id = c.vec_id)),
         |        c -> named_struct(
         |          'm', array_min(transform(acc,
         |                 s -> ${sqd.format("c.qv", "s.qv")})),
         |          'c', c)),
         |      t -> named_struct('k1', coalesce(-t.m, 0L), 'k2', t.c.vec_id,
         |                        'm', coalesce(t.m, 0L), 'qv', t.c.qv))),
         |      1, 1),
         |    p -> named_struct('sel_rank', cast(step as bigint),
         |                      'vec_id', p.k2, 'min_d2', p.m, 'qv', p.qv))))""".stripMargin
    pool.select(explode(expr(selExpr)).as("s"))
      .select(col("s.sel_rank").as("sel_rank"), col("s.vec_id").as("vec_id"),
        col("s.min_d2").as("min_d2"))
      .orderBy("sel_rank")
  }

  /** The greedy unrolled into DuckDB CTEs (the [[MmrSelect]] oracle
    * pattern), distances as exact integer Σ(a−b)².
    */
  val kcenterSelectSql: String = {
    val steps = (2 to KCenters).map { r =>
      s"""s$r AS MATERIALIZED (
         |  SELECT $r AS sel_rank, vec_id, m AS min_d2
         |  FROM (SELECT d.va AS vec_id, CAST(min(d.d2) AS BIGINT) AS m
         |        FROM d2 d
         |        JOIN u${r - 1} u ON d.vb = u.vec_id
         |        WHERE d.va NOT IN (SELECT vec_id FROM u${r - 1})
         |        GROUP BY 1)
         |  ORDER BY m DESC, vec_id LIMIT 1),
         |u$r AS MATERIALIZED (
         |  SELECT * FROM u${r - 1} UNION ALL SELECT * FROM s$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH pool AS MATERIALIZED (
       |  SELECT vec_id FROM embeddings WHERE vec_id % $PoolMod = 0
       |  ORDER BY vec_id LIMIT $MaxPool),
       |e0 AS MATERIALIZED (
       |  SELECT vec_id, i,
       |         CAST(floor(CAST(embedding[i] AS DOUBLE) * $QScale) AS BIGINT) AS q
       |  FROM embeddings, generate_series(1, $Dim) AS g(i)
       |  WHERE vec_id IN (SELECT vec_id FROM pool)),
       |d2 AS MATERIALIZED (
       |  SELECT a.vec_id AS va, b.vec_id AS vb,
       |         CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS d2
       |  FROM e0 a JOIN e0 b ON a.i = b.i AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2),
       |u1 AS MATERIALIZED (
       |  SELECT 1 AS sel_rank, vec_id, 0 AS min_d2
       |  FROM (SELECT DISTINCT vec_id FROM e0) ORDER BY vec_id LIMIT 1),
       |$steps
       |SELECT CAST(sel_rank AS BIGINT) AS sel_rank, vec_id,
       |       CAST(min_d2 AS BIGINT) AS min_d2
       |FROM u$KCenters ORDER BY sel_rank""".stripMargin
  }

  // ---- hard_negatives: contrastive mining -------------------------------

  /** For each anchor (vec_id % [[AnchorMod]] == 0): the [[TopK]] most
    * cosine-similar vectors with a DIFFERENT label — the hard negatives
    * a contrastive/retrieval trainer mines per anchor (highest-scoring
    * wrong-class examples). Same scored-scan + bounded `topk_by_score`
    * shape as `knn_brute`; the label inequality replaces the self-join
    * guard (same label ⊇ self).
    */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame =
    hardNegativesOn(embL(spark, dir))

  /** `anchorPred` lets the scale probe pin anchors to the base id range
    * (the fixed eval-suite model — replica anchors would grow the scored
    * stream quadratically; the measured knn_pq lesson).
    */
  private[graft] def hardNegativesOn(
      e: DataFrame,
      anchorPred: org.apache.spark.sql.Column = col("vec_id") % AnchorMod === 0): DataFrame = {
    val q = e.filter(anchorPred)
      .select(col("vec_id").as("query_id"), col("label").as("query_label"),
        col("v").as("va"), col("n2").as("qn2"))
    e.join(broadcast(q), col("label") =!= col("query_label"))
      .withColumn("cosine", expr("vec_dot(va, v)") / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .groupBy(col("query_id"), col("query_label"))
      .agg(expr(s"topk_by_score(cosine, vec_id, $TopK)").as("top"))
      .select(col("query_id"), col("query_label"), posexplode(col("top")))
      .select(
        col("query_id"), col("query_label"),
        col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.score").as("cosine"))
  }

  val hardNegativesSql: String =
    s"""WITH el AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
       |         list_reduce(list_transform(embedding::DOUBLE[], x -> x * x), (a, b) -> a + b) AS n2
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, label AS query_label, v AS va, n2 AS qn2
       |      FROM el WHERE vec_id % $AnchorMod = 0),
       |scored AS (
       |  SELECT q.query_id, q.query_label, el.vec_id AS neighbor_id,
       |         list_reduce(list_transform(list_zip(q.va, el.v), p -> p[1] * p[2]), (a, b) -> a + b)
       |           / (sqrt(q.qn2) * sqrt(el.n2)) AS cosine
       |  FROM q JOIN el ON el.label <> q.query_label)
       |SELECT query_id, query_label, neighbor_id, rank, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM scored) WHERE rank <= $TopK""".stripMargin

  // ---- label_error_margin: centroid-margin label-error detection --------

  /** Confident-Learning-style label-error suspects: per-label integer
    * centroids (exact floor-divided means of quantized components), then
    * for every vector `margin = d²(own centroid) − min over other labels
    * d²` — a large positive margin means the vector sits closer to a
    * rival label's centroid than its own, the classic mislabel signal.
    * Reports the [[Suspects]] worst offenders with the predicted label
    * (argmin over ALL centroids, ties to the smaller label).
    *
    * Floor division is spelled `(s − ((s%n)+n)%n) div n` — the numerator
    * is the exact nonnegative-remainder-corrected multiple of n, so the
    * quotient is floor(s/n) under either truncating or flooring `div`,
    * identically in Spark and DuckDB.
    *
    * Precondition: the corpus must carry ≥ 2 distinct labels. With a
    * single label the rival aggregate is empty and the inner join
    * returns ZERO rows rather than margins — "no rival centroid exists"
    * has no meaningful margin, and the SQL oracle degenerates
    * identically, so parity holds even on that edge.
    */
  def labelErrorMargin(spark: SparkSession, dir: String): DataFrame =
    labelErrorMarginOn(Tables.embeddings(spark, dir))

  private[graft] def labelErrorMarginOn(emb: DataFrame): DataFrame = {
    val q = quantized(emb).localCheckpoint(eager = false)
    val cents = q
      .select(col("label"), posexplode(col("qv")).as(Seq("i", "qi")))
      .groupBy(col("label"), col("i"))
      .agg(sum(col("qi")).as("s"), count(lit(1)).as("n"))
      .withColumn("c", expr("(s - (((s % n) + n) % n)) div n"))
      .groupBy(col("label").as("clabel"))
      .agg(expr("transform(array_sort(collect_list(struct(i, c))), p -> p.c)").as("cv"))
    val scored = q.join(broadcast(cents))
      .select(col("vec_id"), col("label"), col("clabel"),
        expr("sq_dist_i64(qv, cv)").as("d2"))
      .localCheckpoint(eager = false)
    val own = scored.filter(col("clabel") === col("label"))
      .select(col("vec_id"), col("label"), col("d2").as("own_d2"))
    val pred = scored.groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("clabel"))).as("p"))
      .select(col("vec_id"), col("p.clabel").as("pred_label"))
    val rival = scored.filter(col("clabel") =!= col("label"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("clabel"))).as("r"))
      .select(col("vec_id"), col("r.d2").as("other_d2"))
    own.join(pred, "vec_id").join(rival, "vec_id")
      .select(col("vec_id"), col("label"), col("pred_label"),
        col("own_d2"), col("other_d2"),
        (col("own_d2") - col("other_d2")).as("margin"))
      .orderBy(col("margin").desc, col("vec_id"))
      .limit(Suspects)
  }

  val labelErrorMarginSql: String =
    s"""WITH q0 AS MATERIALIZED (
       |  SELECT vec_id, label, i,
       |         CAST(floor(CAST(embedding[i] AS DOUBLE) * $QScale) AS BIGINT) AS q
       |  FROM embeddings, generate_series(1, $Dim) AS g(i)),
       |cent AS MATERIALIZED (
       |  SELECT label AS clabel, i,
       |         CAST((s - (((s % n) + n) % n)) // n AS BIGINT) AS c
       |  FROM (SELECT label, i, CAST(sum(q) AS BIGINT) AS s,
       |               CAST(count(*) AS BIGINT) AS n
       |        FROM q0 GROUP BY 1, 2)),
       |d AS MATERIALIZED (
       |  SELECT v.vec_id, v.label, c.clabel,
       |         CAST(sum((v.q - c.c) * (v.q - c.c)) AS BIGINT) AS d2
       |  FROM q0 v JOIN cent c ON v.i = c.i
       |  GROUP BY 1, 2, 3),
       |own AS (SELECT vec_id, label, d2 AS own_d2 FROM d WHERE clabel = label),
       |pred AS (
       |  SELECT vec_id, clabel AS pred_label FROM (
       |    SELECT vec_id, clabel,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, clabel ASC) AS rn
       |    FROM d) WHERE rn = 1),
       |rival AS (
       |  SELECT vec_id, d2 AS other_d2 FROM (
       |    SELECT vec_id, d2,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, clabel ASC) AS rn
       |    FROM d WHERE clabel <> label) WHERE rn = 1)
       |SELECT o.vec_id, o.label, p.pred_label, o.own_d2, r.other_d2,
       |       o.own_d2 - r.other_d2 AS margin
       |FROM own o JOIN pred p USING (vec_id) JOIN rival r USING (vec_id)
       |ORDER BY margin DESC, vec_id ASC LIMIT $Suspects""".stripMargin

  // ---- knn_label_acc: kNN label-agreement evaluation --------------------

  /** Embedding-quality probe: for each eval vector (vec_id % [[EvalMod]]
    * == 0), predict its label by majority vote over its [[TopK]] cosine
    * neighbors (ties to the smaller label), and report per-label
    * (n_eval, n_correct) — the standard "do nearest neighbors share the
    * label" check run before trusting an embedding space for curation.
    * Integer outputs only, so the result is hash-stable by construction.
    */
  def knnLabelAcc(spark: SparkSession, dir: String): DataFrame =
    knnLabelAccOn(embL(spark, dir))

  /** `evalPred` — same base-range pin hook as [[hardNegativesOn]]. */
  private[graft] def knnLabelAccOn(
      e: DataFrame,
      evalPred: org.apache.spark.sql.Column = col("vec_id") % EvalMod === 0): DataFrame = {
    val q = e.filter(evalPred)
      .select(col("vec_id").as("query_id"), col("label").as("query_label"),
        col("v").as("va"), col("n2").as("qn2"))
    val top = e.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .withColumn("cosine", expr("vec_dot(va, v)") / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .groupBy(col("query_id"), col("query_label"))
      .agg(expr(s"topk_by_score(cosine, vec_id, $TopK)").as("top"))
      .select(col("query_id"), col("query_label"), explode(col("top")).as("nb"))
      .select(col("query_id"), col("query_label"), col("nb.id").as("neighbor_id"))
    // Q·k rows — broadcast into the label lookup, never shuffle e
    val votes = e.select(col("vec_id").as("neighbor_id"), col("label").as("nlabel"))
      .join(broadcast(top), "neighbor_id")
      .groupBy(col("query_id"), col("query_label"), col("nlabel"))
      .agg(count(lit(1)).as("cnt"))
    val pred = votes.groupBy(col("query_id"), col("query_label"))
      .agg(max(struct(col("cnt"), (-col("nlabel")).as("neg"))).as("w"))
      .select(col("query_id"), col("query_label"), (-col("w.neg")).as("pred_label"))
    pred.groupBy(col("query_label").as("label"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("pred_label") === col("query_label"), 1L).otherwise(0L)).as("n_correct"))
      .orderBy("label")
  }

  val knnLabelAccSql: String =
    s"""WITH el AS MATERIALIZED (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
       |         list_reduce(list_transform(embedding::DOUBLE[], x -> x * x), (a, b) -> a + b) AS n2
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, label AS query_label, v AS va, n2 AS qn2
       |      FROM el WHERE vec_id % $EvalMod = 0),
       |nb AS MATERIALIZED (
       |  SELECT query_id, query_label, neighbor_id FROM (
       |    SELECT q.query_id, q.query_label, el.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY q.query_id ORDER BY
       |             list_reduce(list_transform(list_zip(q.va, el.v), p -> p[1] * p[2]), (a, b) -> a + b)
       |               / (sqrt(q.qn2) * sqrt(el.n2)) DESC, el.vec_id ASC) AS rn
       |    FROM q JOIN el ON el.vec_id <> q.query_id)
       |  WHERE rn <= $TopK),
       |votes AS (
       |  SELECT nb.query_id, nb.query_label, el.label AS nlabel, count(*) AS cnt
       |  FROM nb JOIN el ON el.vec_id = nb.neighbor_id
       |  GROUP BY 1, 2, 3),
       |pred AS (
       |  SELECT query_id, query_label, nlabel AS pred_label FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cnt DESC, nlabel ASC) AS rn
       |    FROM votes) WHERE rn = 1)
       |SELECT query_label AS label, count(*) AS n_eval,
       |       CAST(sum(CASE WHEN pred_label = query_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
       |FROM pred GROUP BY 1 ORDER BY 1""".stripMargin

  val registry: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "kcenter_select" -> (kcenterSelect _, kcenterSelectSql),
    "hard_negatives" -> (hardNegatives _, hardNegativesSql),
    "label_error_margin" -> (labelErrorMargin _, labelErrorMarginSql),
    "knn_label_acc" -> (knnLabelAcc _, knnLabelAccSql))
}
