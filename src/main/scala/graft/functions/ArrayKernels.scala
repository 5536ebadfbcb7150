package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Static array kernels referenced from generated Java — both
  * expressions below stay inside whole-stage codegen (SURVEY §7.3
  * preference (b): native Catalyst expression over UDF). */
object ArrayKernels {

  /** Count of common elements between two SORTED, DISTINCT string
    * arrays — a merge walk, O(n+m), no per-pair hash-set allocation
    * (Spark's array_intersect builds a hash set per row pair, which is
    * interpreted and dominates candidate-pair verification). */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    var i = 0
    var j = 0
    var n = 0
    val la = a.numElements()
    val lb = b.numElements()
    while (i < la && j < lb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { n += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    n
  }

  /** Merge-walk intersection count over two SORTED long arrays — the
    * hashed-token fast path: comparing longs avoids the per-byte
    * UTF8String walk entirely. */
  def sortedLongIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val xs = a.toLongArray()
    val ys = b.toLongArray()
    var i = 0
    var j = 0
    var n = 0
    while (i < xs.length && j < ys.length) {
      if (xs(i) == ys(j)) { n += 1; i += 1; j += 1 }
      else if (xs(i) < ys(j)) i += 1
      else j += 1
    }
    n
  }

  /** PQ asymmetric-distance score: Σ_b lut[b·k + codes[b]] — the ADC
    * serving inner loop, one lookup-table read per code block and
    * nothing else. Spark's `aggregate` higher-order function is
    * CodegenFallback (interpreted per row, per lambda step) — exactly
    * wrong for the 10⁹-row code scan this expression exists for; the
    * loop form stays inside whole-stage codegen like every kernel
    * here. Fold order is block order, matching the ann_pq oracle. */
  def adcDot(codes: ArrayData, lut: ArrayData, k: Int): Double = {
    var s = 0.0
    var b = 0
    val n = codes.numElements()
    while (b < n) { s += lut.getDouble(b * k + codes.getInt(b)); b += 1 }
    s
  }

  /** Sequential left-fold dot product of two double arrays —
    * bit-identical to DuckDB's list_dot_product accumulation order, so
    * oracle-checked cosine similarities hash-match exactly. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val xs = a.toDoubleArray()
    val ys = b.toDoubleArray()
    var s = 0.0
    var i = 0
    while (i < xs.length) { s += xs(i) * ys(i); i += 1 }
    s
  }

  /** Rotation densification of a one-permutation MinHash sketch
    * (Shrivastava & Li, ICML 2014): input is the sparse (bin → min)
    * map over k = 24 bins; an empty bin j takes the nearest FORWARD
    * non-empty bin's value + t (t = circular distance). Terminates
    * because a signature row exists only for docs with ≥ 1 shingle.
    * (The SQL-chain form of this — a 24-term coalesce per bin — blew
    * janino's method limit and fell back to interpreted eval.) */
  def ophDensify(m: org.apache.spark.sql.catalyst.util.MapData): ArrayData = {
    val k = 24
    // loud guard (the signPack convention): an empty bin map would spin
    // the rotation scan forever — fail the task, don't hang the executor
    require(m.numElements() > 0, "ophDensify: empty bin map (doc with no shingles?)")
    val vals = new Array[Long](k)
    val has = new Array[Boolean](k)
    val keys = m.keyArray(); val vs = m.valueArray()
    var i = 0
    while (i < m.numElements()) {
      val b = keys.getInt(i); vals(b) = vs.getLong(i); has(b) = true; i += 1
    }
    val out = new Array[Long](k)
    var j = 0
    while (j < k) {
      var t = 0
      while (!has((j + t) % k)) t += 1
      out(j) = vals((j + t) % k) + t
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Sign-bit packing of 32 consecutive vector components into one
    * long: bit i set iff v(offset+i) > 0 — ann_hamming's quantizer.
    * Loud width guard, the TextHashes convention: a short vector is a
    * schema bug, not a zero-fill. */
  def signPack(v: ArrayData, offset: Int): Long = {
    require(v.numElements() >= offset + 32,
      s"signPack: need ${offset + 32} components, got ${v.numElements()}")
    var acc = 0L
    var i = 0
    while (i < 32) {
      if (v.getDouble(offset + i) > 0) acc |= (1L << i)
      i += 1
    }
    acc
  }

  /** Deterministic ±1 hyperplane component via splitmix64 — fixed,
    * engine-owned planes shared by every sign-LSH caller (no RNG state
    * shipped to executors). */
  def planeSign(plane: Int, component: Int, dim: Int): Double = {
    var z = plane.toLong * dim + component + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^= z >>> 31
    if ((z & 1L) == 1L) 1.0 else -1.0
  }

  /** All sign-LSH bucket keys of one vector: element t = the
    * `planesPerTable`-bit signature in table t (table id = array
    * position, so callers pair it with `posexplode`). Replaces an
    * expression-tree formulation with nTables×planesPerTable literal
    * plane arrays (~4,600 literal nodes) whose generated code dominated
    * janino/JIT compilation time; the loop form is one small static
    * method. Same splitmix64 planes, same sequential dot → identical
    * buckets. */
  def signLshKeys(vec: ArrayData, nTables: Int, planesPerTable: Int): ArrayData = {
    val xs = vec.toDoubleArray()
    val out = new Array[Long](nTables)
    var tb = 0
    while (tb < nTables) {
      var key = 0L
      var p = 0
      while (p < planesPerTable) {
        val plane = tb * planesPerTable + p
        var d = 0.0
        var i = 0
        while (i < xs.length) { d += xs(i) * planeSign(plane, i, xs.length); i += 1 }
        if (d >= 0) key |= (1L << p)
        p += 1
      }
      out(tb) = key
      tb += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Count of array elements strictly below `v` — the equi-depth
    * bucket index against a cut array (r19): the HOF form
    * `size(filter(cuts, c -> v > c))` is CodegenFallback (interpreted
    * per row, per lambda step), measured ~1.5 s over 600k rows at
    * sf0.1; this loop stays inside whole-stage codegen like every
    * kernel here. Null elements don't occur (cuts are computed). */
  def countBelow(arr: ArrayData, v: Double): Int = {
    var i = 0
    var n = 0
    val len = arr.numElements()
    while (i < len) {
      if (arr.getDouble(i) < v) n += 1
      i += 1
    }
    n
  }

  /** Per-thread memo of the parsed BPE merge set, keyed by CONTENT
    * equality of the newline-joined merge string (the same literal
    * rides every row of a round's rewrite, but the per-row
    * UTF8String is a fresh view over the shared bytes, so identity
    * would miss; a ~10 KB memcmp per row is cheap and exact). */
  private val bpeSetCache =
    new ThreadLocal[(org.apache.spark.unsafe.types.UTF8String, java.util.HashSet[String])]

  /** One left-to-right BPE merge scan over a space-delimited symbol
    * sequence " a b c " against the ACCUMULATED merge set (newline-
    * joined "lsym rsym" keys): position i merges with i+1 iff the pair
    * is in the set and position i-1 did not itself merge — the
    * canonical greedy scan, identical to the islands-parity relational
    * rewrite (within a run of k consecutive matched positions, merges
    * land at even offsets from the run start; this scan consumes
    * exactly those). Replaces the per-round posexplode + lead window +
    * 4-window chain + collect_list reassembly with one map-only pass
    * (r19; guide §2.4 — two word-keyed exchanges per merge round
    * removed). Output format matches the relational rebuild exactly:
    * leading space, single-space-joined symbols, trailing space. */
  def bpeRewrite(seq: org.apache.spark.unsafe.types.UTF8String,
      mset: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    var cached = bpeSetCache.get()
    if (cached == null || !cached._1.equals(mset)) {
      val set = new java.util.HashSet[String]()
      val s = mset.toString
      if (s.nonEmpty) s.split("\n").foreach(set.add)
      cached = (mset.clone(), set)
      bpeSetCache.set(cached)
    }
    val set = cached._2
    val toks = seq.toString.trim.split(" ")
    val sb = new java.lang.StringBuilder(seq.numBytes + 2)
    sb.append(' ')
    var i = 0
    while (i < toks.length) {
      if (i + 1 < toks.length && set.contains(toks(i) + " " + toks(i + 1))) {
        sb.append(toks(i)).append(toks(i + 1))
        i += 2
      } else {
        sb.append(toks(i))
        i += 1
      }
      sb.append(' ')
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
  }
}

/** `count_below(arr, v)` — codegen'd strict-below count over
  * array<double> (see [[ArrayKernels.countBelow]]). */
case class CountBelow(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"needs (array<double>, double), got $other")
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArrayKernels.countBelow(a.asInstanceOf[ArrayData], b.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ArrayKernels.countBelow($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `bpe_rewrite(seq, mset)` — one codegen'd left-to-right merge scan
  * per word (see [[ArrayKernels.bpeRewrite]]). */
case class BpeRewrite(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"needs two strings, got $other")
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArrayKernels.bpeRewrite(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ArrayKernels.bpeRewrite($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `sorted_intersect_count(a, b)` over sorted distinct array<string>. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(StringType, _)) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"needs two array<string>, got $other")
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArrayKernels.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ArrayKernels.sortedIntersectCount($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `sorted_long_intersect_count(a, b)` over sorted array<long>. */
case class SortedLongIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"needs two array<long>, got $other")
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArrayKernels.sortedLongIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ArrayKernels.sortedLongIntersectCount($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `sign_lsh_keys(vec)` — array<long> of all LSH table signatures. */
case class SignLshKeys(child: Expression, nTables: Int, planesPerTable: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"needs array<double>, got $other")
  }
  override protected def nullSafeEval(input: Any): Any =
    ArrayKernels.signLshKeys(input.asInstanceOf[ArrayData], nTables, planesPerTable)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ArrayKernels.signLshKeys($c, $nTables, $planesPerTable)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `adc_dot(codes, lut)` — PQ table-lookup score over array<int>
  * codes and the flattened [block·k + cl] array<double> table. */
case class AdcDot(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"needs (array<int>, array<double>), got $other")
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArrayKernels.adcDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ArrayKernels.adcDot($a, $b, $k)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `vec_dot(a, b)` over array<double>. */
/** Codegen'd OPH rotation densification: map<int,long> (bin → min)
  * → array<long> of 24 filled signature rows. */
case class OphDensify(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case MapType(IntegerType, LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"needs map<int,long>, got $other")
  }
  override protected def nullSafeEval(m: Any): Any =
    ArrayKernels.ophDensify(m.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayKernels.ophDensify($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Codegen'd sign-bit packer (bits [offset, offset+32) of sign(v>0) →
  * one long) — replaces the interpreted aggregate/zip_with HOF pair in
  * ann_hamming's scan projection (the NormalizeText/VecDot discipline:
  * the hot scan stays inside whole-stage codegen). */
case class SignPack(child: Expression, offset: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"needs array<double>, got $other")
  }
  override protected def nullSafeEval(v: Any): Any =
    ArrayKernels.signPack(v.asInstanceOf[ArrayData], offset)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayKernels.signPack($c, $offset)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"needs two array<double>, got $other")
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArrayKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ArrayKernels.dot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object ArrayFns {
  import org.apache.spark.sql.graft.ColumnBridge

  /** Column-API wrappers (no registry round-trip needed). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectCount(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def vecDot(a: Column, b: Column): Column =
    ColumnBridge.column(VecDot(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def signPack(v: Column, offset: Int): Column =
    ColumnBridge.column(SignPack(ColumnBridge.expression(v), offset))

  def ophDensify(m: Column): Column =
    ColumnBridge.column(OphDensify(ColumnBridge.expression(m)))

  def countBelow(arr: Column, v: Column): Column =
    ColumnBridge.column(CountBelow(
      ColumnBridge.expression(arr), ColumnBridge.expression(v)))

  def bpeRewrite(seq: Column, mset: Column): Column =
    ColumnBridge.column(BpeRewrite(
      ColumnBridge.expression(seq), ColumnBridge.expression(mset)))

  def sortedLongIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(SortedLongIntersectCount(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def tokensInSetCount(text: Column, set: Seq[String]): Column =
    ColumnBridge.column(TokensInSetCount(ColumnBridge.expression(text), set))

  def signLshKeys(vec: Column, nTables: Int, planesPerTable: Int): Column =
    ColumnBridge.column(SignLshKeys(ColumnBridge.expression(vec), nTables, planesPerTable))

  def adcDot(codes: Column, lut: Column, k: Int): Column =
    ColumnBridge.column(AdcDot(
      ColumnBridge.expression(codes), ColumnBridge.expression(lut), k))

  def shingles3(text: Column): Column =
    ColumnBridge.column(Shingles3(ColumnBridge.expression(text)))

  def winnowSel(text: Column, withPositions: Boolean): Column =
    ColumnBridge.column(WinnowSel(ColumnBridge.expression(text), withPositions))

  def substrExtend(ta: Column, tb: Column, aps: Column, bps: Column,
      minLen: Int): Column =
    ColumnBridge.column(SubstrExtend(ColumnBridge.expression(ta),
      ColumnBridge.expression(tb), ColumnBridge.expression(aps),
      ColumnBridge.expression(bps), minLen))
}
