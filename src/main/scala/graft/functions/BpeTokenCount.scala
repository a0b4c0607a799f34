package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `bpe_token_count(text)`: BPE token count of a document under a fixed
  * merge table — the ITERATIVE lowest-rank-first encoder as an in-task
  * kernel (r13 verdict item 2; the per-row narrow shape of the media
  * codecs: bytes in, one long out, nothing wide ever shuffles).
  *
  * Semantics: split on ' ' (empty words contribute 0 — a run of spaces is
  * all delimiters), encode each word by repeatedly merging the
  * lowest-rank adjacent pair (all left-to-right occurrences per step)
  * until no rule applies, sum the per-word token counts. For the trained
  * tables this engine produces, the result equals the rank-order replace
  * chain [[graft.ext.Bpe.tokenCount]] — the gate form — spec-pinned in
  * BpeSpec; this kernel is the cheaper path for LONG merge tables
  * (word-local loop instead of |merges| full-document passes).
  *
  * CodegenFallback: the merge loop is word-local over short arrays and
  * allocation-light; codegen would only inline the dispatch around it.
  */
object BpeTokenCount {
  /** Column-API form under the engine's fixed merge table — usable from
    * sessions WITHOUT GraftExtensions registered (Verify builds a plain
    * session; the SQL name `bpe_token_count` needs the extension). */
  def bpe_token_count(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    bpe_token_count(c, graft.ext.Bpe.FixedMerges)

  /** Column-API form under an ARBITRARY merge table — the long-table
    * path (r14 verdict item 3): the kernel's per-word cost is
    * table-length-independent (hash-map rank lookups), unlike the
    * replace chain's |merges| full-document passes. */
  def bpe_token_count(c: org.apache.spark.sql.Column,
      merges: Seq[graft.ext.Bpe.Merge]): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.CatalystBridge.column(
      BpeTokenCount(
        org.apache.spark.sql.graft.CatalystBridge.expression(c),
        merges.map(m => (m.l, m.r))))
}

case class BpeTokenCount(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bpe_token_count requires string, got ${t.simpleString}")
  }

  // rank lookup keyed "l\u0000r" (neither side contains NUL in any real
  // alphabet); built once per expression instance, shipped by closure
  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      m.put(l + "\u0000" + r, Integer.valueOf(i))
    }
    m
  }

  // positional access to the rule table: `merges` is a Seq — on a List,
  // merges(best) is an O(rank) node walk PER MERGE STEP, which turned the
  // 8192-entry probe table into a 10x wall-time cliff (BENCH_SCALE
  // r15_bpe_long: 21s vs ~2s once indexed). Long tables are exactly this
  // kernel's reason to exist, so the hot path must be array-indexed.
  @transient private lazy val mergeArr: Array[(String, String)] = merges.toArray

  private def rankOf(l: String, r: String): Int = {
    val v = ranks.get(l + "\u0000" + r)
    if (v == null) Int.MaxValue else v.intValue()
  }

  /** Iterative lowest-rank-first merge over one word; returns its token
    * count. In-place over a growable array: each step scans for the
    * minimum-rank adjacent pair, then merges all its LTR occurrences. */
  private def encodeCount(word: String): Int = {
    if (word.isEmpty) return 0
    var toks = new Array[String](word.length)
    var n = word.length
    var i = 0
    while (i < n) { toks(i) = String.valueOf(word.charAt(i)); i += 1 }
    var done = false
    while (!done && n > 1) {
      // find the lowest-rank adjacent pair
      var best = Int.MaxValue
      i = 0
      while (i < n - 1) {
        val rk = rankOf(toks(i), toks(i + 1))
        if (rk < best) best = rk
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        // merge all LTR occurrences of the best pair, compacting in place
        val (l, r) = mergeArr(best)
        var w = 0
        i = 0
        while (i < n) {
          if (i < n - 1 && toks(i) == l && toks(i + 1) == r) {
            toks(w) = l + r; i += 2
          } else { toks(w) = toks(i); i += 1 }
          w += 1
        }
        n = w
      }
    }
    n
  }

  override def nullSafeEval(v: Any): Any = {
    val text = v.asInstanceOf[UTF8String].toString
    var total = 0L
    var i = 0
    val len = text.length
    while (i < len) {
      if (text.charAt(i) == ' ') i += 1
      else {
        var j = i
        while (j < len && text.charAt(j) != ' ') j += 1
        total += encodeCount(text.substring(i, j))
        i = j
      }
    }
    java.lang.Long.valueOf(total)
  }

  override protected def withNewChildInternal(c: Expression): BpeTokenCount =
    copy(child = c)
}
