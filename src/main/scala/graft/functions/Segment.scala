package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Unigram-tokenizer segmentation kernel: exact Viterbi DP per word as
  * ONE imperative pass — the native tier for a sequential DP that a
  * declarative `aggregate` HOF can only run as interpreted per-element
  * lambda trees (measured: the HOF form was ~1 ms per DP cell on the
  * 10k-word rich corpus — 12+ minutes for one E-step; this kernel does
  * the same E-step in under a second). The CharEntropy precedent: fuse
  * the chain, keep the semantics bit-identical to the oracle's replay
  * (here the DuckDB recursive-CTE DP — a genuinely independent
  * implementation of the same recurrence). */
object SegmentKernels {

  /** dp[p] = min over j ≤ maxLen of dp[p−j] + cost(word[p−j..p)); a
    * missing piece costs `inf`; ties resolve to the SMALLEST j (the
    * oracle's CASE-chain order). Returns (dp[ℓ], pieces end→start). */
  def viterbi(word: UTF8String, vocab: java.util.HashMap[String, java.lang.Long],
      maxLen: Int, inf: Long): InternalRow = {
    val w = word.toString
    val ell = w.length
    val dp = new Array[Long](ell + 1)
    val bp = new Array[Int](ell + 1)
    var p = 1
    while (p <= ell) {
      var best = Long.MaxValue
      var bestJ = maxLen
      var j = 1
      while (j <= maxLen) {
        val c =
          if (p >= j) {
            val cost = vocab.get(w.substring(p - j, p))
            dp(p - j) + (if (cost == null) inf else cost.longValue())
          } else inf
        if (c < best) { best = c; bestJ = j }
        j += 1
      }
      // clamp accumulated cost at `inf` (ADVICE r9): unreachable stays
      // a FIXED sentinel instead of accumulating to wordLength·inf,
      // which would wrap Long negative near ~9223 unsegmentable chars
      // and silently corrupt the DP. Reachable positions have
      // best ≪ inf (real piece costs), so gate outputs are untouched.
      dp(p) = if (best > inf) inf else best
      bp(p) = bestJ
      p += 1
    }
    val pieces = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var cut = ell
    while (cut > 0) {
      val b = bp(cut)
      pieces += UTF8String.fromString(w.substring(cut - b, cut))
      cut -= b
    }
    new GenericInternalRow(Array[Any](dp(ell), new GenericArrayData(pieces.toArray[Any])))
  }
}

/** One-pass canonical text normalization: lowercase ASCII letters,
  * keep [a-z0-9 ], drop everything else, collapse space runs, trim —
  * byte-identical to the regex chain
  * `trim(regexp_replace(regexp_replace(lower(t),'[^a-z0-9 ]',''),' +',' '))`
  * on the ASCII corpora the gates run (the fnvFoldSql convention), in
  * ONE byte pass instead of three regex passes over string copies
  * (measured: 40.6 s → ~1 s for 500k docs at the 100× probe). */
object NormalizeKernels {
  def normalize(s: UTF8String): UTF8String = {
    val in = s.getBytes
    // Non-ASCII input falls back to the lower()-first path (ADVICE
    // r9): code points whose LOWERCASE maps into [a-z0-9] (Kelvin sign
    // U+212A → 'k', dotted İ U+0130 → 'i') must survive like the
    // oracle's lower()-then-strip chain, not be dropped byte-wise. The
    // scan doubles as the dispatch: corpora are overwhelmingly ASCII,
    // so the hot path stays the single byte pass.
    var i = 0
    while (i < in.length) {
      if (in(i) < 0) return normalizeUnicode(s)
      i += 1
    }
    val out = new Array[Byte](in.length)
    var n = 0
    var pendingSpace = false
    i = 0
    while (i < in.length) {
      val b = in(i)
      val c: Int =
        if (b >= 'A' && b <= 'Z') b + 32
        else b.toInt
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (pendingSpace && n > 0) { out(n) = ' '; n += 1 }
        pendingSpace = false
        out(n) = c.toByte; n += 1
      } else if (c == ' ') {
        pendingSpace = true
      }
      // any other byte is dropped and does NOT itself create a space —
      // exactly the regex chain's order (strip first, then collapse)
      i += 1
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(out, n))
  }

  /** The regex chain's semantics for non-ASCII input: full Unicode
    * lowercase FIRST (so mappings into ASCII survive; full-mapping
    * expansions like İ → i + U+0307 end at the same 'i' after the
    * strip drops the combining dot), then the same strip/collapse/trim
    * walk over chars. */
  private def normalizeUnicode(s: UTF8String): UTF8String = {
    val lowered = s.toString.toLowerCase(java.util.Locale.ROOT)
    val out = new java.lang.StringBuilder(lowered.length)
    var pendingSpace = false
    var k = 0
    while (k < lowered.length) {
      val c = lowered.charAt(k)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (pendingSpace && out.length > 0) out.append(' ')
        pendingSpace = false
        out.append(c)
      } else if (c == ' ') {
        pendingSpace = true
      }
      k += 1
    }
    UTF8String.fromString(out.toString)
  }
}

/** `normalize_text(text)` — the fused normalization kernel, codegen'd. */
case class NormalizeText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"normalize_text needs a string argument, got ${child.dataType}")
  override protected def nullSafeEval(input: Any): Any =
    NormalizeKernels.normalize(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NormalizeKernels.normalize($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `viterbi_segment(word)` against a driver-held piece→cost table
  * (vocabulary-bounded by construction — the [[graft.llm.VocabStore]] rule).
  * Emits struct(cost BIGINT, ps array<string>). Codegen'd via a
  * reference object, the TokensInSetCount pattern. */
case class ViterbiSegment(child: Expression, pieces: Seq[(String, Long)],
    maxLen: Int, inf: Long) extends UnaryExpression {
  private lazy val vocab: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](pieces.size * 2)
    pieces.foreach { case (p, c) => m.put(p, c) }
    m
  }
  override def dataType: DataType = StructType(Seq(
    StructField("cost", LongType, nullable = false),
    StructField("ps", ArrayType(StringType, containsNull = false), nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"viterbi_segment needs a string argument, got ${child.dataType}")
  override protected def nullSafeEval(input: Any): Any =
    SegmentKernels.viterbi(input.asInstanceOf[UTF8String], vocab, maxLen, inf)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unigramVocab", vocab, "java.util.HashMap")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SegmentKernels.viterbi($c, $ref, $maxLen, ${inf}L)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SegmentFns {
  def viterbiSeg(word: org.apache.spark.sql.Column, pieces: Seq[(String, Long)],
      maxLen: Int, inf: Long): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      ViterbiSegment(org.apache.spark.sql.graft.ColumnBridge.expression(word),
        pieces, maxLen, inf))

  def normalizeText(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      NormalizeText(org.apache.spark.sql.graft.ColumnBridge.expression(text)))
}
