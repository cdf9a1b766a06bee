package graft

import graft.functions.Bpe
import graft.operators.TextOps
import org.apache.spark.sql.functions._

/** BPE semantics (functions/Bpe.scala + TextOps.bpeLearn): the
  * rows-only driver row q_text_bpe has no SQL oracle, so this suite IS
  * its correctness gate — the learner on a hand-computable corpus, the
  * greedy apply loop against hand-derived tokenizations, and the
  * reconstruction/monotonicity laws over the real corpus. */
class BpeSpec extends SparkSpec {

  test("bpeLearn: hand-computed merge order on a tiny corpus, ties break lexicographically") {
    import spark.implicits._
    // vocab: ab ×3 (from one doc), abc ×1. Pairs round 1: "a b" ×4 ->
    // merge 1. Round 2: only abc still has a pair: "ab c" ×1 -> merge 2.
    val docs = Seq((1L, "ab ab ab"), (2L, "abc")).toDF("doc_id", "text")
    assert(TextOps.bpeLearn(docs, 4) === Seq("a b", "ab c"))
    // ties: "xy" and "xz" both ×1 -> "x y" < "x z" lexicographically
    val tie = Seq((1L, "xy xz")).toDF("doc_id", "text")
    assert(TextOps.bpeLearn(tie, 1) === Seq("x y"))
  }

  test("encodeWord: greedy lowest-rank apply, leftmost-nonoverlapping merges") {
    val ranks = Bpe.ranksOf(Seq("a b", "ab c"))
    assert(Bpe.encodeWord("abcab", ranks).toSeq === Seq("abc", "ab"))
    assert(Bpe.encodeWord("ab", ranks).toSeq === Seq("ab"))
    assert(Bpe.encodeWord("ba", ranks).toSeq === Seq("b", "a"))
    assert(Bpe.encodeWord("", ranks).toSeq === Seq.empty)
    // overlap: rank table (a a): "aaa" merges leftmost-first -> ["aa","a"]
    val rr = Bpe.ranksOf(Seq("a a"))
    assert(Bpe.encodeWord("aaa", rr).toSeq === Seq("aa", "a"))
    // "aaaa" -> one pass gives [aa, aa]; "aa aa" has no rank, so it stops
    assert(Bpe.encodeWord("aaaa", rr).toSeq === Seq("aa", "aa"))
  }

  test("encodeText: words tokenize independently; empty segments vanish") {
    val ranks = Bpe.ranksOf(Seq("a b"))
    assert(Bpe.encodeText("ab  ba", ranks).toSeq === Seq("ab", "b", "a"))
    assert(Bpe.encodeText("", ranks).toSeq === Seq.empty)
  }

  test("bpeTokens expression: codegen path matches the JVM routine and reconstructs the text") {
    val docs = Tables.documents(spark, sf).limit(50)
    val merges = TextOps.bpeLearn(Tables.documents(spark, sf), 16)
    assert(merges.size === 16)
    val r = docs.select(col("doc_id"), col("text"),
      Bpe.bpeTokens(col("text"), merges).as("toks")).collect()
    val ranks = Bpe.ranksOf(merges)
    r.foreach { row =>
      val text = row.getAs[String]("text")
      val toks = row.getSeq[String](row.fieldIndex("toks"))
      // expression output == direct JVM routine (exercises doGenCode)
      assert(toks === Bpe.encodeText(text, ranks).toSeq)
      // lossless: concatenated tokens reproduce the text minus spaces
      assert(toks.mkString("") === text.replace(" ", ""))
    }
  }

  test("bpeStats: more merges never increase the token count; counts bounded by chars and words") {
    val docs = Tables.documents(spark, sf)
    val few = TextOps.bpeStats(docs, nMerges = 4)
      .select(col("doc_id"), col("n_bpe_tokens").as("t4"))
    val many = TextOps.bpeStats(docs, nMerges = 32)
      .select(col("doc_id"), col("n_bpe_tokens").as("t32"),
        col("n_ws_tokens"), col("n_chars"))
    val j = few.join(many, "doc_id").collect()
    assert(j.nonEmpty)
    j.foreach { row =>
      assert(row.getAs[Long]("t32") <= row.getAs[Long]("t4"))
      // subwords at least one per word, at most one per char
      assert(row.getAs[Long]("t32") >= row.getAs[Long]("n_ws_tokens"))
      assert(row.getAs[Long]("t4") <= row.getAs[Long]("n_chars"))
    }
  }
}
