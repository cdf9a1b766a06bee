package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, NullType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding subword tokenization — the tokenizer an LLM data
  * pipeline actually bills by. Public algorithm (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units"; the
  * greedy lowest-rank apply loop is the one GPT-2's public encoder
  * documents): learn a rank-ordered list of symbol-pair merges from a
  * word vocabulary, then tokenize by repeatedly merging the
  * lowest-rank adjacent pair until none applies.
  *
  * The APPLY side — the corpus-sized hot loop — is a native Catalyst
  * expression ([[BpeTokens]]): per-row JVM code inside whole-stage
  * codegen, no interpreted lambda, no UDF serialization. The merge
  * table rides the expression as a reference object (one HashMap per
  * JVM, not per row). The LEARN side (vocab-sized, see
  * `TextOps.bpeLearn`) runs driver-side and rewrites its vocabulary
  * with [[mergeOnce]].
  *
  * BPE's merge recursion is inherently per-row-iterative, so there is
  * no SQL rendering for a DuckDB oracle — the driver records the
  * weaker rows-only check for queries built on this (same by-design
  * class as the HLL sketch), and BpeSpec pins the semantics instead.
  */
object Bpe {

  /** Leftmost-nonoverlapping single-pair merge: every adjacent (x, y)
    * becomes xy, scanning left to right ("aaa" + (a,a) → ["aa","a"]).
    * Shared by learn (one new merge per round) and apply (lowest-rank
    * pair per iteration). */
  def mergeOnce(syms: Array[String], x: String, y: String): Array[String] = {
    val out = new java.util.ArrayList[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == x && syms(i + 1) == y) {
        out.add(x + y); i += 2
      } else { out.add(syms(i)); i += 1 }
    }
    out.toArray(new Array[String](out.size))
  }

  /** Greedy BPE apply to one word: merge the LOWEST-RANK adjacent pair
    * (all leftmost-nonoverlapping occurrences) until no adjacent pair
    * is in the table. Keys are "x y" (space-joined). */
  def encodeWord(word: String, ranks: java.util.HashMap[String, Integer]): Array[String] = {
    var syms = new Array[String](word.length)
    var i = 0
    while (i < word.length) { syms(i) = String.valueOf(word.charAt(i)); i += 1 }
    var done = syms.length <= 1
    while (!done) {
      var best = Integer.MAX_VALUE
      var bx: String = null; var by: String = null
      var j = 0
      while (j < syms.length - 1) {
        val r = ranks.get(syms(j) + " " + syms(j + 1))
        if (r != null && r < best) { best = r; bx = syms(j); by = syms(j + 1) }
        j += 1
      }
      if (bx == null) done = true
      else {
        syms = mergeOnce(syms, bx, by)
        if (syms.length == 1) done = true
      }
    }
    syms
  }

  /** Whole-text apply: per space-separated word (the corpus contract),
    * concatenated in order; empty words contribute nothing. */
  def encodeText(text: String, ranks: java.util.HashMap[String, Integer]): Array[String] = {
    val out = new java.util.ArrayList[String]()
    var start = 0
    val n = text.length
    var i = 0
    while (i <= n) {
      if (i == n || text.charAt(i) == ' ') {
        if (i > start) {
          val toks = encodeWord(text.substring(start, i), ranks)
          var k = 0
          while (k < toks.length) { out.add(toks(k)); k += 1 }
        }
        start = i + 1
      }
      i += 1
    }
    out.toArray(new Array[String](out.size))
  }

  /** Static entry point for generated code: UTF8String in, ArrayData
    * of UTF8Strings out. */
  def encodeToArrayData(text: UTF8String,
      ranks: java.util.HashMap[String, Integer]): ArrayData = {
    val toks = encodeText(text.toString, ranks)
    val arr = new Array[Any](toks.length)
    var i = 0
    while (i < toks.length) { arr(i) = UTF8String.fromString(toks(i)); i += 1 }
    new GenericArrayData(arr)
  }

  def ranksOf(merges: Seq[String]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case (p, r) => m.put(p, Integer.valueOf(r)) }
    m
  }

  /** `bpe_tokens(text)`: the subword tokens of a space-separated text
    * under the given rank-ordered merge list. */
  case class BpeTokens(child: Expression, merges: Seq[String]) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case _: StringType | NullType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string input, got ${other.simpleString}")
    }
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "bpe_tokens"

    @transient private lazy val ranks = ranksOf(merges)

    override protected def nullSafeEval(input: Any): Any =
      encodeToArrayData(input.asInstanceOf[UTF8String], ranks)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val rk = ctx.addReferenceObj("bpeRanks", ranks, "java.util.HashMap")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.Bpe.encodeToArrayData($c, $rk);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def bpeTokens(text: Column, merges: Seq[String]): Column =
    GraftBridge.column(BpeTokens(GraftBridge.expression(text), merges))
}
