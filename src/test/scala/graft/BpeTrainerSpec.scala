package graft

import graft.analytics.BpeTrainer
import org.apache.spark.sql.functions._

/** BPE trainer laws against a hand-computable corpus: merge order follows
  * weighted pair counts with (count desc, left asc, right asc) ties in
  * UTF-8 byte order, learned merges compose (later merges may consume
  * earlier merged symbols), symbols are code points, and single-symbol
  * and empty words contribute nothing.
  */
class BpeTrainerSpec extends SparkSpec {

  test("merges follow weighted pair counts and compose across rounds") {
    import spark.implicits._
    // "ab" ×5, "abc" ×3, "a" ×4  →  pairs r1: (a,b)=8, (b,c)=3 → merge ab
    // r2: (ab,c)=3 → merge abc — the round-2 pair EXISTS only because
    // round 1 created symbol "ab"
    val docs = (
      Seq.fill(5)("ab") ++ Seq.fill(3)("abc") ++ Seq.fill(4)("a"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val out = BpeTrainer.bpeMergesOn(docs, 2).collect()
    assert(out.length == 2)
    val r1 = out(0)
    assert((r1.getString(1), r1.getString(2), r1.getString(3), r1.getLong(4))
      == ("a", "b", "ab", 8L))
    val r2 = out(1)
    assert((r2.getString(1), r2.getString(2), r2.getString(3), r2.getLong(4))
      == ("ab", "c", "abc", 3L))
  }

  test("argmax ties break on (left, right) ascending") {
    import spark.implicits._
    // "xy" and "xz" both ×2: counts tie at 2 → (x,y) wins over (x,z)
    val docs = Seq((1L, "xy xz xy xz")).toDF("doc_id", "text")
      .select(col("doc_id"), col("text"))
    val out = BpeTrainer.bpeMergesOn(docs, 1).collect()
    assert(out.head.getString(1) == "x" && out.head.getString(2) == "y")
  }

  test("encode scores each word by its final segmentation length") {
    import spark.implicits._
    // k=1 trains only (a,b)→ab (count 8 beats (b,c)=3): "ab"→1 token,
    // "abc"→[ab, c]=2, "a"→1. Doc 0 = "ab abc a" → 3 words, 4 tokens.
    val docs = (
      Seq("ab abc a") ++ Seq.fill(4)("ab") ++ Seq.fill(2)("abc") ++ Seq.fill(4)("a"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val out = BpeTrainer.bpeEncodeOn(docs, 1).collect()
    assert(out.length == 11)
    val d0 = out.find(_.getLong(0) == 0L).get
    assert((d0.getLong(1), d0.getLong(2)) == (3L, 4L))
    val dAbc = out.find(_.getLong(0) == 5L).get
    assert((dAbc.getLong(1), dAbc.getLong(2)) == (1L, 2L))
  }

  test("leftmost non-overlapping merge scan: aaa yields one aa + a") {
    import spark.implicits._
    // merging (a,a) in "aaa" must consume the FIRST pair only; the
    // round-2 top pair is then (aa, a) from the re-segmented "aaa"
    val docs = (Seq.fill(3)("aaa") ++ Seq.fill(1)("aa"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val out = BpeTrainer.bpeMergesOn(docs, 2).collect()
    assert(out(0).getString(3) == "aa" && out(0).getLong(4) == 7L)
    assert(out(1).getString(3) == "aaa" && out(1).getLong(4) == 3L)
  }

  test("a merge scan consumes its right separator: abab merges once per round") {
    import spark.implicits._
    // ⊥a⊥b⊥a⊥b⊥ → ⊥ab⊥a⊥b⊥ (the second match would need the consumed ⊥),
    // so round 2's tie (ab,a)=1 vs (a,b)=1 picks (a,b) again — the
    // oracle's CTE replace does the same
    val docs = Seq((1L, "abab")).toDF("doc_id", "text")
    val out = BpeTrainer.bpeMergesOn(docs, 3).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(out == Seq(("a", "b", 2L), ("a", "b", 1L), ("ab", "ab", 1L)))
  }

  test("symbols are code points: a non-BMP character is one symbol") {
    import spark.implicits._
    // 😀 is two UTF-16 chars; as one symbol, (😀,a)=2 beats (b,😀)=1
    val docs = Seq((1L, "\uD83D\uDE00a \uD83D\uDE00a b\uD83D\uDE00")).toDF("doc_id", "text")
    val m = BpeTrainer.bpeMergesOn(docs, 1).collect().head
    assert((m.getString(1), m.getString(2), m.getLong(4)) == ("\uD83D\uDE00", "a", 2L))
    val enc = BpeTrainer.bpeEncodeOn(docs, 0).collect().head
    assert((enc.getLong(1), enc.getLong(2)) == (3L, 6L))
  }

  test("count ties break in UTF-8 byte order, not UTF-16 order") {
    import spark.implicits._
    // (U+FF61, x) and (U+1F600, x) tie at 1. UTF-8: EF BD A1 < F0 9F 98 80,
    // so U+FF61 wins; UTF-16 would pick U+1F600 (D83D < FF61)
    val docs = Seq((1L, "\uD83D\uDE00x \uFF61x")).toDF("doc_id", "text")
    val m = BpeTrainer.bpeMergesOn(docs, 1).collect().head
    assert(m.getString(1) == "\uFF61" && m.getString(2) == "x")
  }

  test("empty words (repeated, leading, trailing spaces) count no pair and score one token") {
    import spark.implicits._
    // " ab   " splits into "", "ab", "", "", "": the four empty words are
    // one empty symbol each, as in the oracle, so they add no ("","")
    // pair (which would outweigh (a,b)=1) and score one token each
    val docs = Seq((1L, " ab   ")).toDF("doc_id", "text")
    val m = BpeTrainer.bpeMergesOn(docs, 1).collect().toSeq
      .map(r => (r.getString(1), r.getString(2), r.getLong(4)))
    assert(m == Seq(("a", "b", 1L)))
    val enc = BpeTrainer.bpeEncodeOn(docs, 1).collect().head
    assert((enc.getLong(1), enc.getLong(2)) == (5L, 5L))
  }

  test("training launches the same Spark jobs for 1 and 8 merge rounds") {
    import spark.implicits._
    val docs = (1 to 50)
      .map(i => i.toLong -> Seq("lower", "newest", "widest", "low", "new").take(1 + i % 5).mkString(" "))
      .toDF("doc_id", "text")
    val one = launched(BpeTrainer.bpeMergesOn(docs, 1).collect())
    var merges = 0
    val eight = launched { merges = BpeTrainer.bpeMergesOn(docs, 8).collect().length }
    assert(merges == 8)
    assert(one == eight)
  }
}
