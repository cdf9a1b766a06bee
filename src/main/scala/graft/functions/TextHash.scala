package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable text hashing primitives shared by the
  * dedup / fingerprinting operators (SURVEY.md §7 L4).
  *
  * Everything is built on md5 so a SQL oracle (DuckDB
  * `('0x'||substr(md5(s),1,15))::BIGINT`) reproduces the exact values:
  * Spark's `hash`/`xxhash64` seeds are engine-private, md5 is not.
  * 15 hex chars = 60 bits, always positive in a signed 64-bit long.
  *
  * All column functions here are per-row expressions — no shuffle, no
  * driver round-trip — so they scale linearly with input splits.
  */
object TextHash {

  /** Whitespace tokenization (single-space corpus). */
  def tokens(text: Column): Column = split(text, " ")

  /** 60-bit positive hash of a string: first 15 hex chars of md5.
    * Wired to the native digest→long expression ([[NativeHash]]) —
    * bit-identical to the composed `conv(substring(md5))` form
    * (spec-asserted) without its three string allocations per value. */
  def hash60(s: Column): Column = NativeHash.md5Hash60(s)

  /** The composed reference form of [[hash60]] (equivalence spec). */
  def hash60Composed(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Word n-gram shingles joined by single spaces; empty array when the
    * document has fewer than n tokens (DuckDB `range` does the same). */
  def shingles(toks: Column, n: Int = 3): Column = {
    val idx = sequence(lit(1), size(toks) - (n - 1))
    val mk = (i: Column) =>
      concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*)
    when(size(toks) >= n, transform(idx, mk)).otherwise(array())
  }

  /** Relational word-shingle rows: one (doc_id, i, s) row per n-gram
    * shingle, i 0-based. The HOF form ([[shingles]]) builds the array
    * with an INTERPRETED `transform` lambda per row; this form is
    * posexplode → two `lead`s + a position filter — the string assembly
    * runs in a codegen'd projection, and the only added cost is a sort
    * within the doc_id partitioning (no extra shuffle when the input is
    * already hash-partitioned on doc_id, as after Portable.spread).
    * Values are identical to exploding [[shingles]]. */
  def shingleRows(docs: DataFrame, n: Int = 3): DataFrame = {
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val tok = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("i", "t")))
      .withColumn("n_toks", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    tok
      .withColumn("s", concat_ws(" ",
        col("t") +: (1 until n).map(o => lead(col("t"), o).over(byPos)): _*))
      .filter(col("i") <= col("n_toks") - n)
      .select(col("doc_id"), col("i"), col("s"))
  }

  /** Jaccard similarity of two pre-distinct shingle arrays, as the exact
    * rational inter/union in double (bit-identical across engines). */
  def jaccard(sa: Column, sb: Column): Column = {
    val inter = size(array_intersect(sa, sb)).cast("double")
    inter / (size(sa) + size(sb) - inter)
  }
}
