package graft.analytics

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import scala.collection.mutable

/** BPE tokenizer training over the `documents` table — the merge-rule
  * learning step an LLM pipeline runs before tokenizing its corpus. The
  * algorithm is the standard one (Sennrich et al.; what HF tokenizers
  * implements): ONE corpus pass builds the word-frequency table, then
  * every merge round runs on that vocabulary-sized table — adjacent-symbol
  * pair counts weighted by word frequency, merge the argmax pair,
  * re-segment. The corpus pass is a Spark explode + word-keyed count; the
  * word-count table is collected once and the k rounds run in memory
  * over it, like the HF trainer over its word-count dict.
  *
  * Representation: a word's segmentation is the separator-joined symbol
  * string `⊥s₁⊥s₂⊥…⊥` (boundary separators included; symbols are code
  * points), so "merge (a,b)" is the string replace `⊥a⊥b⊥ → ⊥ab⊥` —
  * leftmost non-overlapping, with the boundary separators preventing any
  * cross-symbol substring match. Java's `String.replace` and DuckDB's
  * `replace` share those semantics, which is what makes the op
  * oracle-checkable: the DuckDB oracle is the same k rounds mechanically
  * unrolled into CTEs, and the in-memory rounds follow it step for step
  * (the empty word is `⊥⊥`: one empty symbol, no pairs, one token).
  *
  * Determinism: pair counts are integer word-frequency sums; ties on
  * the argmax break on (count desc, left asc, right asc) with strings in
  * UTF-8 byte order — DuckDB's order, not `String.compareTo`'s UTF-16.
  * If no word has two symbols left, training stops early with fewer than
  * k merges.
  *
  * Scale (100 TB): the corpus pass is one explode + word-keyed count;
  * the collecting process then holds the vocabulary, not the corpus
  * (~10³ rows at the 100× probe; ~10⁶–10⁷ at web scale, the table
  * [[bpeEncode]] broadcasts anyway). Each round is one pass over that
  * table, so the rounds cost no Spark jobs and no per-round scheduling.
  */
object BpeTrainer {

  /** Separator below any corpus byte; words are `[a-z]+` here but the
    * scheme only needs the separator absent from symbols.
    */
  private val Sep = "\u0001"

  /** Number of merge rules learned by the registry query. */
  private val Merges = 8

  /** (rank, left, right, merged, pair_count) for the top-[[Merges]] BPE
    * merges, rank-ordered — the merge table a tokenizer ships.
    */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    bpeMergesOn(Tables.documents(spark, dir), Merges)

  /** UTF-8 byte order (= code-point order), the order both engines sort
    * strings in; `String.compareTo` is UTF-16 order and differs from it
    * for supplementary characters against U+E000–U+FFFF.
    */
  private val Utf8Order: Ordering[String] = (x, y) =>
    java.util.Arrays.compareUnsigned(
      x.getBytes(StandardCharsets.UTF_8), y.getBytes(StandardCharsets.UTF_8))

  /** Argmax order over (count, left, right): count desc, then left and
    * right ascending.
    */
  private val PairOrder: Ordering[(Long, String, String)] =
    Ordering.Tuple3(Ordering.Long.reverse, Utf8Order, Utf8Order)

  /** The symbols of a segmentation `⊥s₁⊥…⊥sₙ⊥` (`⊥⊥` → one empty symbol). */
  private def symbols(w: String): Array[String] =
    w.substring(1, w.length - 1).split(Sep, -1)

  /** Runs the k training rounds; returns the merge table and the final
    * per-word segmentation frame (word, w, cnt) — the trained tokenizer's
    * word table, reused by [[bpeEncode]].
    */
  private def train(docs: DataFrame, k: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the one corpus pass: the word-frequency table, collected
    var words = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .collect()
      .map { r =>
        val word = r.getString(0)
        val syms = word.codePoints.toArray.map(Character.toString(_))
        (word, syms.mkString(Sep, Sep, Sep), r.getLong(1))
      }
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    for (rank <- 1 to k) {
      val pairs = mutable.HashMap.empty[(String, String), Long]
      for ((_, w, cnt) <- words) {
        val s = symbols(w)
        for (i <- 0 until s.length - 1)
          pairs((s(i), s(i + 1))) = pairs.getOrElse((s(i), s(i + 1)), 0L) + cnt
      }
      // no pair left: this round and every later one learn nothing
      pairs.iterator.map { case ((a, b), n) => (n, a, b) }.minOption(PairOrder)
        .foreach { case (n, a, b) =>
          merges += ((rank, a, b, a + b, n))
          val (from, to) = (Sep + a + Sep + b + Sep, Sep + a + b + Sep)
          words = words.map { case (word, w, cnt) => (word, w.replace(from, to), cnt) }
        }
    }
    (merges.result(), words.toSeq.toDF("word", "w", "cnt"))
  }

  private[graft] def bpeMergesOn(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // a local frame, built in rank order: sorting it again would only
    // add Spark jobs
    train(docs, k)._1
      .toDF("rank", "left", "right", "merged", "pair_count")
  }

  // ---- bpe_encode: per-doc token counts under the trained tokenizer ----
  /** Encode the corpus with its own trained tokenizer: per document, the
    * word count and the BPE token count after the k learned merges — the
    * number sequence packing and token budgeting actually consume. The
    * trained word table is vocabulary-sized (one row per distinct word,
    * its final segmentation length = symbols of its `w` string), so the
    * scoring join broadcasts it into the exploded token stream; one
    * doc-keyed aggregate finishes. Integer-only.
    */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame =
    bpeEncodeOn(Tables.documents(spark, dir), Merges)

  private[graft] def bpeEncodeOn(docs: DataFrame, k: Int): DataFrame = {
    val wordToks = train(docs, k)._2
      .select(col("word"),
        (size(split(col("w"), Sep)) - 2).as("n_toks"))
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .join(broadcast(wordToks), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_toks")).as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** The same k rounds unrolled into DuckDB CTEs: `w0` is the
    * word-frequency table in the sep-joined representation (the source
    * word is carried alongside — it is the join key [[bpeEncodeSql]]
    * needs, and `word → w` is injective so it never changes the rows);
    * round i derives pair counts `p_i` from `w_{i-1}`, the argmax `b_i`,
    * and the re-segmented `w_i`.
    */
  private val roundCtes: String = {
    val sep = "chr(1)"
    val rounds = (1 to Merges).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT s[j] AS a, s[j + 1] AS b, CAST(sum(cnt) AS BIGINT) AS n
         |  FROM (SELECT string_split(trim(w, chr(1)), $sep) AS s, cnt FROM w${i - 1}),
         |       unnest(generate_series(1, len(s) - 1)) AS u(j)
         |  GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT a, b, n FROM p$i ORDER BY n DESC, a ASC, b ASC LIMIT 1),
         |w$i AS MATERIALIZED (
         |  SELECT word,
         |         replace(w,
         |           $sep || (SELECT a FROM b$i) || $sep || (SELECT b FROM b$i) || $sep,
         |           $sep || (SELECT a FROM b$i) || (SELECT b FROM b$i) || $sep) AS w,
         |         cnt
         |  FROM w${i - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH w0 AS MATERIALIZED (
       |  SELECT word,
       |         $sep || array_to_string(
       |           list_transform(generate_series(1, len(word)), i -> substr(word, i, 1)),
       |           $sep) || $sep AS w,
       |         count(*) AS cnt
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  GROUP BY 1, 2),
       |$rounds""".stripMargin
  }

  val bpeMergesSql: String = {
    val unions = (1 to Merges).map { i =>
      s"SELECT $i AS rank, a AS \"left\", b AS \"right\", a || b AS merged, n AS pair_count FROM b$i"
    }.mkString("\nUNION ALL\n")
    s"""$roundCtes,
       |merges AS ($unions)
       |SELECT * FROM merges ORDER BY rank""".stripMargin
  }

  /** Encode oracle: the trained word table `w$Merges` scored as final
    * symbol count per word, joined back into the exploded corpus. Sums
    * cast to BIGINT (DuckDB promotes to HUGEINT).
    */
  val bpeEncodeSql: String =
    s"""$roundCtes,
       |wt AS (SELECT word, len(string_split(trim(w, chr(1)), chr(1))) AS n_toks
       |       FROM w$Merges)
       |SELECT doc_id,
       |       count(*) AS n_words,
       |       CAST(sum(n_toks) AS BIGINT) AS n_bpe_tokens
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) d
       |JOIN wt USING (word)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  val registry: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "bpe_merges" -> (bpeMerges _, bpeMergesSql),
    "bpe_encode" -> (bpeEncode _, bpeEncodeSql),
  )
}
