package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Generator, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst expression for the float-embedding dot product —
  * the one hot-path computation the built-in higher-order functions
  * can't do efficiently: `aggregate(zip_with(a, b, *), +)` allocates
  * an intermediate array and evaluates interpreted lambdas per
  * element, while this expression whole-stage-codegens to a primitive
  * `double` loop over the two ArrayData buffers (no allocation, no
  * virtual calls).
  *
  * Accumulation is sequential in index order, in double precision —
  * bit-identical to the HOF formulation and to DuckDB's
  * list_sum(list_transform(...)) chain, so swapping it in cannot
  * change any oracle-checked result.
  */
case class DotF32(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isFloatArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"dot_f32 requires (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f32"

  // Contract (mirrors the zip_with/aggregate HOF exactly, ADVICE r1):
  // mismatched lengths → null (the HOF's null-padded products null the
  // sum); any null element → null. Never a silent truncation.
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DotF32.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => Boxed.unbox(ctx, ev,
      s"graft.functions.DotF32.dot($a, $b)", "Double"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotF32 {
  /** Static so generated code can call it directly; null is the
    * null result. */
  def dot(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }
}

/** Generated code for a kernel whose static returns a boxed
  * `java.lang.$box` (Double, Long), null exactly when the
  * expression's result is null. */
private object Boxed {
  def unbox(ctx: CodegenContext, ev: ExprCode, call: String, box: String): String = {
    val r = ctx.freshName("boxed")
    s"""
       |java.lang.$box $r = $call;
       |if ($r == null) { ${ev.isNull} = true; }
       |else { ${ev.value} = $r.${box.toLowerCase}Value(); }
     """.stripMargin
  }
}

/** Squared L2 distance between two array<long> columns — the exact
  * integer-geometry kernel behind the k-center traversal (q174),
  * where each row is probed against up to k literal centers per
  * scan: the `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), +)`
  * HOF allocates an intermediate array and runs interpreted lambdas
  * per element; this codegens to a primitive long loop. Arithmetic
  * (sequential index-order sum, 64-bit wraparound) is bit-identical
  * to the HOF formulation, so swapping it in cannot change any
  * oracle-checked result.
  */
case class SqDistL64(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isLongArray(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"sqdist_l64 requires (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = LongType
  override def prettyName: String = "sqdist_l64"

  // Same null contract as DotF32: mismatched lengths or any null
  // element → null, mirroring the HOF's null propagation.
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SqDistL64.sqDist(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => Boxed.unbox(ctx, ev,
      s"graft.functions.SqDistL64.sqDist($a, $b)", "Long"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SqDistL64 {
  /** Static so generated code can call it directly; null is the
    * null result. */
  def sqDist(x: ArrayData, y: ArrayData): java.lang.Long = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getLong(i) - y.getLong(i)
      s += d * d
      i += 1
    }
    s
  }
}

/** MinHash signature from an AFFINE permutation family, as ONE
  * codegen'd pass: slot j of the signature is
  * min over element hashes h of ((as(j)·h + bs(j)) mod p), which any
  * SQL engine can replay. With p prime and as(j) in [1, p−1] every
  * slot map is a bijection of Z_p, so the family has the standard
  * MinHash collision property; all inputs must already be reduced
  * mod p (h < p keeps as(j)·h + bs(j) < p² + p ≈ 1e18, inside a
  * long for p = 1e9+7).
  *
  * A k×n primitive loop per row, no explode, no aggregation —
  * signatures are a pure map-side pass whose output is k longs per
  * document. The equivalent Column
  * formulation (k separate `array_min(transform(...))` calls) walks
  * the hash array k times through interpreted HOF lambdas.
  */
case class AffineMinHashSig(child: Expression,
                            as: Seq[Long], bs: Seq[Long], p: Long)
    extends UnaryExpression {
  require(as.nonEmpty && as.length == bs.length,
    "affine_minhash_sig needs matching non-empty A/B constant lists")
  require(p > 1 && as.forall(a => a > 0 && a < p) && bs.forall(b => b >= 0 && b < p),
    "affine_minhash_sig needs 0 < A < p and 0 <= B < p (bijections mod prime p)")

  private lazy val aArr: Array[Long] = as.toArray
  private lazy val bArr: Array[Long] = bs.toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"affine_minhash_sig requires array<bigint>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "affine_minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    AffineMinHashSig.sig(input.asInstanceOf[ArrayData], aArr, bArr, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val aRef = ctx.addReferenceObj("affineAs", aArr, "long[]")
      val bRef = ctx.addReferenceObj("affineBs", bArr, "long[]")
      s"${ev.value} = graft.functions.AffineMinHashSig.sig($in, $aRef, $bRef, ${p}L);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AffineMinHashSig {
  /** Static so generated code can call it directly. */
  def sig(arr: ArrayData, as: Array[Long], bs: Array[Long], p: Long): ArrayData = {
    val k = as.length
    val n = arr.numElements()
    val acc = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val h = arr.getLong(j)
      var i = 0
      while (i < k) {
        val x = (as(i) * h + bs(i)) % p
        if (x < acc(i)) acc(i) = x
        i += 1
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(acc)
  }
}

/** 64-bit SimHash fingerprint in ONE codegen'd pass over pre-hashed
  * tokens: bit j of the result is set iff the sum over tokens of
  * ±1 votes (+1 when bit j of the token hash is set) is
  * non-negative. Equivalent to the relational explode + 64
  * conditional-sum aggregates formulation, but with no explode and no
  * shuffle — a pure map-side fingerprint. */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires array<bigint>, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    SimHash64.hash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.functions.SimHash64.hash($in);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  /** Static so generated code can call it directly. */
  def hash(arr: ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Long](64)
    var j = 0
    while (j < n) {
      val h = arr.getLong(j)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) != 0L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) >= 0) out |= (1L << b); b += 1 }
    out
  }
}

/** 64-bit dHash (difference hash) gradient-sign pack — the classic
  * perceptual image fingerprint [Krawetz 2013, "Kind of Like That"]:
  * input is an array<bigint> of 72 cell luminances in row-major
  * order (8 rows × 9 columns — the ninth column gives each row its
  * 8 horizontal gradients); bit r·8+c is set iff
  * cell(r·9+c) < cell(r·9+c+1) (brighter to the right). Gradient
  * SIGNS are invariant to global brightness shifts and any
  * monotone contrast map, which is what makes the hash perceptual
  * rather than exact (MultimodalSpec pins both the hand-computed
  * pack and the brightness invariance). Codegen'd primitive loop —
  * no lambda dispatch, no intermediate arrays; the DuckDB oracle
  * replays the pack as integer CASE arithmetic with the sign bit
  * folded separately (BIGINT << 63 overflows there). An input
  * shorter than 72 cells is a malformed frame and yields null. */
case class DHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"dhash64 requires array<bigint> of 72 luminance cells, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "dhash64"

  override protected def nullSafeEval(input: Any): Any =
    DHash64.hash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => Boxed.unbox(ctx, ev,
      s"graft.functions.DHash64.hash($in)", "Long"))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DHash64 {
  /** Static so generated code can call it directly; null (fewer than
    * 72 cells) is the null result. */
  def hash(arr: ArrayData): java.lang.Long = {
    if (arr.numElements() < 72) return null
    var out = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (arr.getLong(r * 9 + c) < arr.getLong(r * 9 + c + 1))
          out |= (1L << (r * 8 + c))
        c += 1
      }
      r += 1
    }
    out
  }
}

/** 60-bit average-hash (aHash) frame fingerprint in ONE codegen'd
  * pass over the frame string — bit i (0-based) is set iff
  * 60·code(i) > Σ codes, where code(i) is `ascii(substring(f, i+1,
  * 1))` of the frame's first 60 characters (a position past the end
  * contributes ascii('') = 0, matching substring semantics). This is
  * bit-identical to the q208/q220 HOF chain
  * `aggregate(zip_with(transform(sequence(1,60), i ->
  * ascii(substring(f,i,1))), sequence(0,59), ...), ...)` — which
  * evaluates THREE interpreted lambda passes and allocates two
  * 60-element arrays per frame — and to the DuckDB oracles' replay
  * of the same arithmetic. Pure-ASCII frames run a primitive byte
  * loop; any non-ASCII input falls back to the UTF-16 walk whose
  * per-code-point first char unit equals Spark's `ascii` result
  * (the RollingHash31 convention). */
case class AHash60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ahash60 requires string, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "ahash60"

  override protected def nullSafeEval(input: Any): Any =
    AHash60.hash(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.functions.AHash60.hash($in);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AHash60 {
  /** Static so generated code can call it directly. */
  def hash(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val codes = new Array[Long](60)
    var sum = 0L
    val nb = s.numBytes()
    var ascii = true
    var i = 0
    while (i < nb) {
      if (s.getByte(i) < 0) { ascii = false; i = nb } else i += 1
    }
    if (ascii) {
      val n = if (nb < 60) nb else 60
      var j = 0
      while (j < n) { val b = s.getByte(j).toLong; codes(j) = b; sum += b; j += 1 }
    } else {
      // mirror ascii(substring(f, i, 1)): substring indexes CODE
      // POINTS; ascii returns the first UTF-16 unit of that char
      val str = s.toString
      var j = 0
      var k = 0
      while (j < 60 && k < str.length) {
        val cp = str.codePointAt(k)
        val c = str.charAt(k).toLong
        codes(j) = c; sum += c
        k += Character.charCount(cp); j += 1
      }
    }
    var out = 0L
    var j = 0
    while (j < 60) { if (60L * codes(j) > sum) out |= (1L << j); j += 1 }
    out
  }
}

/** Polynomial rolling hash (base 31, mod 1e9+7) over the character
  * stream as ONE codegen'd pass over the UTF8String — the document
  * fingerprint (q36) without the per-character string array the
  * `aggregate(transform(split(text, ''), ascii), ...)` formulation
  * allocates. Bit-equal to that formulation: pure-ASCII input runs a
  * primitive byte loop (byte value == code point); any non-ASCII
  * input falls back to a UTF-16 loop (char value == `ascii()` of the
  * split character for all BMP text). Modular at every step, so it
  * can never overflow ANSI-mode longs. */
case class RollingHash31(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"rolling_hash31 requires string, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash31"

  override protected def nullSafeEval(input: Any): Any =
    RollingHash31.hash(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.functions.RollingHash31.hash($in);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingHash31 {
  private val M = 1000000007L

  /** Static so generated code can call it directly. */
  def hash(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val n = s.numBytes()
    var acc = 0L
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b < 0) { // non-ASCII byte: redo as UTF-16 code units
        val str = s.toString
        acc = 0L
        var j = 0
        while (j < str.length) { acc = (acc * 31L + str.charAt(j)) % M; j += 1 }
        return acc
      }
      acc = (acc * 31L + b) % M
      i += 1
    }
    acc
  }
}

/** Word-trigram statistics (q68's repetition signal) in ONE pass per
  * row, packed into a single long: high 32 bits = total trigrams,
  * low 32 = distinct trigrams. The Column formulation materializes
  * the full trigram string array just to take `size` and
  * `size(array_distinct(...))`; this walks the token array once with
  * a hash set, allocating only the joined keys. Distinctness is
  * exact byte equality on the space-joined trigram — identical to
  * `array_distinct` over `concat_ws(" ", ...)` and to DuckDB's
  * `list_distinct` over `array_to_string` (tokens from a space split
  * can't themselves contain spaces, so the join is injective). Null
  * tokens (which a space split never produces) are treated as empty
  * strings. */
case class TrigramStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"trigram_stats requires array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "trigram_stats"

  override protected def nullSafeEval(input: Any): Any =
    TrigramStats.stats(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.functions.TrigramStats.stats($in);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TrigramStats {
  /** Static so generated code can call it directly. */
  def stats(arr: ArrayData): Long = {
    val n = arr.numElements()
    val total = if (n >= 3) n - 2 else 0
    if (total == 0) return 0L
    val toks = new Array[String](n)
    var i = 0
    while (i < n) {
      val u = arr.getUTF8String(i)
      toks(i) = if (u == null) "" else u.toString
      i += 1
    }
    val seen = new java.util.HashSet[String](total * 2)
    val sb = new java.lang.StringBuilder
    i = 0
    while (i < total) {
      sb.setLength(0)
      sb.append(toks(i)).append(' ').append(toks(i + 1)).append(' ')
        .append(toks(i + 2))
      seen.add(sb.toString)
      i += 1
    }
    (total.toLong << 32) | seen.size.toLong
  }
}

/** Distinct ordered triple patterns "a>b>c" of a (capped) token
  * array in ONE codegen'd pass — the q211 sequence-mining kernel.
  * Enumerates every i < j < k position triple in order and dedups
  * keeping FIRST occurrence, which is exactly
  * `array_distinct(flatten(flatten(transform(... nested transforms
  * over sequence(i+1, …) ...))))` — but without three levels of
  * interpreted lambdas, the nested intermediate arrays, or the
  * O(n³)-element array_distinct rescan. Arrays shorter than 3
  * elements yield an empty array (the caller's `when(size >= 3, …)`
  * guard, folded in). Null tokens cannot occur on the q211 path
  * (tokens come from a typed aggregator over a non-null column) but
  * are rendered as empty strings like concat would. Input is capped
  * upstream (≤ 20 on q211), so the per-row work is ≤ C(20,3)
  * appends — bounded, never corpus-dependent. */
case class SeqTriples(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"seq_triples requires array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "seq_triples"

  override protected def nullSafeEval(input: Any): Any =
    SeqTriples.triples(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.functions.SeqTriples.triples($in);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SeqTriples {
  /** Static so generated code can call it directly. */
  def triples(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 3) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[String](n)
    var i = 0
    while (i < n) {
      val u = arr.getUTF8String(i)
      toks(i) = if (u == null) "" else u.toString
      i += 1
    }
    // first-occurrence order, exactly array_distinct's semantics
    val seen = new java.util.LinkedHashSet[String](n * n)
    val sb = new java.lang.StringBuilder
    i = 0
    while (i < n - 2) {
      var j = i + 1
      while (j < n - 1) {
        var k = j + 1
        while (k < n) {
          sb.setLength(0)
          sb.append(toks(i)).append('>').append(toks(j))
            .append('>').append(toks(k))
          seen.add(sb.toString)
          k += 1
        }
        j += 1
      }
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) {
      out(i) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next())
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Generator of the ascending value pairs (a, b) of an array<long>:
  * for every element x at position i, every element y (any position)
  * with y > x, in (outer i asc, inner j asc) order — the rows of
  * `flatten(transform(arr, x -> transform(filter(arr, y -> y > x),
  * y -> struct(x, y))))`. Nulls never pair; a null array yields
  * nothing. The pair multiset does not depend on element order, so
  * aggregating callers need not sort the array. The pair kernel of
  * q91, q216, q200, q249 (edges and wedges) and q251. `eval` and the
  * generated code return a lazy iterator that `GenerateExec` drains
  * inside whole-stage codegen, so a row costs O(n) memory however
  * many pairs it has: a whale basket streams its C(n,2) pairs. */
case class LongPairs(child: Expression) extends UnaryExpression with Generator {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"long_pairs requires array<bigint>, got ${other.simpleString}")
  }

  override def elementSchema: StructType =
    StructType(Seq(StructField("a", LongType, nullable = false),
                   StructField("b", LongType, nullable = false)))
  override def prettyName: String = "long_pairs"

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    LongPairs.iterator(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val arr = child.genCode(ctx)
    ev.copy(code = code"""
      |${arr.code}
      |scala.collection.Iterator<InternalRow> ${ev.value} =
      |  graft.functions.LongPairs.iterator(${arr.isNull} ? null : ${arr.value});
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LongPairs {
  /** Static so generated code can call it directly. */
  def iterator(arr: ArrayData): Iterator[InternalRow] =
    if (arr == null) Iterator.empty else new Iterator[InternalRow] {
      private val n = arr.numElements()
      private var i = -1      // outer position, x = arr(i)
      private var j = n       // next inner position to test
      private var x, y = 0L
      private var more = seek()

      /** Moves to the next (i, j) with y > x; false once i runs out. */
      private def seek(): Boolean = {
        while (i < n) {
          while (j < n) {
            j += 1
            if (!arr.isNullAt(j - 1)) { y = arr.getLong(j - 1); if (y > x) return true }
          }
          i += 1
          if (i < n && !arr.isNullAt(i)) { x = arr.getLong(i); j = 0 }
        }
        false
      }

      override def hasNext: Boolean = more

      override def next(): InternalRow = {
        if (!more) throw new NoSuchElementException("long_pairs: no more pairs")
        val row = InternalRow(x, y)
        more = seek()
        row
      }
    }
}

/** Product-quantization encoder in ONE codegen'd pass: the input
  * float vector is cut into `numSub` contiguous `subDim`-wide
  * subvectors and each is assigned the index of its
  * Euclidean-nearest codeword out of `numCodes` (strict `<` — the
  * FIRST minimum wins on ties, matching
  * `array_position(dists, array_min(dists))`). Arithmetic mirrors
  * the zip_with/aggregate formulation exactly: each float widens to
  * double, the difference is squared, terms accumulate in index
  * order — so codes are bit-identical to the HOF chain and to the
  * DuckDB oracle's list_zip replay.
  *
  * The Column formulation needs numSub × numCodes separate
  * HOF-distance expressions (128 for the q75 shape) whose combined
  * tree blows the task binary past a megabyte and evaluates
  * interpreted lambdas per element; this is a primitive triple loop
  * with an O(numSub · numCodes · subDim) flop count and one
  * int-array allocation. At 100 TB, PQ encoding is the dominant
  * map pass of an ANN build — it has to stay in whole-stage
  * codegen. */
case class PqEncode(child: Expression, codebook: Array[Double],
                    numSub: Int, numCodes: Int, subDim: Int)
    extends UnaryExpression {
  require(codebook.length == numSub * numCodes * subDim,
    s"codebook length ${codebook.length} != $numSub*$numCodes*$subDim")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_encode requires array<float>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"
  // Shorter-than-expected input or a null element → null, mirroring
  // how the HOF chain's null-padded zip nulls the distance sum.
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    PqEncode.encode(input.asInstanceOf[ArrayData], codebook, numSub, numCodes, subDim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val cb = ctx.addReferenceObj("pqCodebook", codebook, "double[]")
      s"""
         |${ev.value} = graft.functions.PqEncode.encode($in, $cb, $numSub, $numCodes, $subDim);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqEncode {
  /** Static so generated code can call it directly; null (short input
    * or a null element) is the null result. */
  def encode(arr: ArrayData, codebook: Array[Double],
             numSub: Int, numCodes: Int, subDim: Int): ArrayData = {
    val dim = numSub * subDim
    if (arr.numElements() < dim) return null
    var i = 0
    while (i < dim) { if (arr.isNullAt(i)) return null; i += 1 }
    val out = new Array[Int](numSub)
    var m = 0
    while (m < numSub) {
      var best = 0; var bestD = Double.PositiveInfinity
      var k = 0
      while (k < numCodes) {
        val base = (m * numCodes + k) * subDim
        var d = 0.0; var j = 0
        while (j < subDim) {
          val t = arr.getFloat(m * subDim + j).toDouble - codebook(base + j)
          d += t * t; j += 1
        }
        if (d < bestD) { bestD = d; best = k }
        k += 1
      }
      out(m) = best
      m += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Unicode NFC canonical normalization (q111's text-canonicalization
  * step): composes decomposed sequences (e + U+0301 → é) so
  * byte-level dedup fingerprints agree across sources that encode
  * the same text differently — without it, exact dedup silently
  * misses canonically-equal duplicates. Spark has no built-in;
  * a Scala UDF would serialize through the row encoder, while this
  * expression stays inside whole-stage codegen and calls the JDK's
  * `java.text.Normalizer` (the Unicode-standard NFC algorithm, the
  * same normalization DuckDB's `nfc_normalize` implements — the
  * oracle bridge). ASCII input short-circuits: NFC is the identity
  * on ASCII, so the common case never allocates. */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize requires string, got ${other.simpleString}")
  }

  override def dataType: DataType = child.dataType
  override def prettyName: String = "nfc_normalize"

  override protected def nullSafeEval(input: Any): Any =
    NfcNormalize.nfc(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.functions.NfcNormalize.nfc($in);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NfcNormalize {
  /** Static so generated code can call it directly. */
  def nfc(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    // pure-ASCII fast path: NFC is the identity, return the input buffer
    val n = s.numBytes()
    var i = 0
    var ascii = true
    while (ascii && i < n) { if (s.getByte(i) < 0) ascii = false; i += 1 }
    if (ascii) s
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC))
  }
}

/** Morton (Z-order) interleave of two long keys' low 16 bits — the
  * multi-column clustering key (q104; file skipping measured in
  * SCALE.md's Z-order bullet, commit d2071d8): bit i of `a`
  * lands at output bit 2i and bit i of `b` at bit 2i+1, so rows
  * sorted by the key tile the (a, b) plane with locality in BOTH
  * dimensions, and parquet min/max row-group pruning works for
  * filters on EITHER column — the property a single-column sort
  * cannot give. The 16-bit window is the documented contract (keys
  * are masked to it; both bench key domains fit with 3 bits spare);
  * the spread uses the standard public Morton shift/mask ladder, so
  * the key is branchless in codegen and exactly replayable as 32
  * unrolled shift/AND terms in ANSI SQL (the q104 oracle). */
case class ZOrder2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"zorder2 requires (bigint, bigint), got $other")
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "zorder2"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ZOrder2.key(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.ZOrder2.key($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ZOrder2 {
  /** Spread the low 16 bits of v to even bit positions (static so
    * generated code can call it directly). */
  def spread(v: Long): Long = {
    var x = v & 0xFFFFL
    x = (x | (x << 8)) & 0x00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0FL
    x = (x | (x << 2)) & 0x33333333L
    x = (x | (x << 1)) & 0x55555555L
    x
  }

  def key(a: Long, b: Long): Long = spread(a) | (spread(b) << 1)
}

/** Jaro-Winkler string similarity [Winkler, ASA 1990] as a codegen'd
  * binary expression — the record-linkage scorer for q225's fuzzy
  * name matching. Textbook semantics, verified against DuckDB's
  * `jaro_winkler_similarity` (the oracle function): match window
  * max(|a|,|b|)/2 − 1, transpositions = half the out-of-order
  * matches, prefix boost l·0.1·(1−j) applied only when j > 0.7 with
  * l capped at 4, and the DuckDB conventions at the edges (either
  * side empty → 0, including both-empty; equal strings → 1). The
  * HOF/UDF alternatives either leave codegen (Scala UDF) or can't
  * express the two-phase match/transposition scan at all; this
  * compiles to one static call per row over the UTF8String bytes.
  *
  * Unicode note: comparison runs on UTF-16 code units of toString —
  * identical to DuckDB's character comparison for the ASCII keys it
  * gates (part names); supplementary-plane input would diverge from
  * a codepoint-based engine and is out of scope for the gate. */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (_: StringType, _: StringType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"jaro_winkler requires (string, string), got $other")
    }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.sim(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
                    b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.JaroWinkler.sim($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JaroWinkler {
  /** Static so generated code can call it directly. */
  def sim(ua: org.apache.spark.unsafe.types.UTF8String,
          ub: org.apache.spark.unsafe.types.UTF8String): Double = {
    val a = ua.toString
    val b = ub.toString
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0 // DuckDB: empty (even both) -> 0
    if (a == b) return 1.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val am = new Array[Boolean](la)
    val bm = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bm(j) && a.charAt(i) == b.charAt(j)) {
          am(i) = true; bm(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: matched chars of a vs matched chars of b, in order
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if (am(i)) {
        while (!bm(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val md = m.toDouble
    val j = (md / la + md / lb + (md - t / 2) / md) / 3.0
    if (j > 0.7) {
      var l = 0
      val maxL = math.min(4, math.min(la, lb))
      while (l < maxL && a.charAt(l) == b.charAt(l)) l += 1
      j + l * 0.1 * (1.0 - j)
    } else j
  }
}

/** Bloom-probe COUNT over a gram array in ONE codegen'd pass — the
  * q168 decontamination hot path. Semantically identical to
  * `size(filter(grams, g => bloom_might_contain(bf, xxhash64(g))))`
  * but that formulation pays twice: the array higher-order function
  * evaluates an INTERPRETED lambda per element (no whole-stage
  * codegen), and the lambda re-evaluates `xxhash64` through the
  * generic expression path. This expression deserializes the (always
  * foldable — it ships as a literal, like a runtime filter) bloom
  * ONCE per plan, then codegens to a single static call that walks
  * the ArrayData: XXH64-hash each gram (seed 42 — bit-identical to
  * the `xxhash64()` function used on the build side) and test
  * membership with `mightContainLong`. No explode, no shuffle, no
  * per-element allocation; at 100 TB the probe is a pure map pass.
  *
  * Null elements hash to the seed itself (42L), exactly what
  * `xxhash64(NULL)` yields, so the count matches the HOF formulation
  * bit for bit even on degenerate inputs. */
case class BloomCountContains(grams: Expression, bloom: Expression)
    extends BinaryExpression {

  override def left: Expression = grams
  override def right: Expression = bloom

  override def checkInputDataTypes(): TypeCheckResult =
    (grams.dataType, bloom.dataType) match {
      case (ArrayType(_: StringType, _), BinaryType) =>
        if (bloom.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          "bloom_count_contains requires a foldable bloom-filter argument " +
          "(build it, collect it, and ship it via lit(...))")
      case (g, b) => TypeCheckResult.TypeCheckFailure(
        s"bloom_count_contains requires (array<string>, binary), got " +
        s"(${g.simpleString}, ${b.simpleString})")
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "bloom_count_contains"
  override def nullable: Boolean = true

  // The bloom child is foldable (checked above), so the filter can be
  // deserialized exactly once per plan — the same driver-side trick
  // Spark's own BloomFilterMightContain uses for runtime filters.
  @transient private lazy val filter: org.apache.spark.util.sketch.BloomFilter = {
    val bytes = bloom.eval(null).asInstanceOf[Array[Byte]]
    if (bytes == null) null
    else org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bytes))
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    BloomCountContains.count(a.asInstanceOf[ArrayData], filter)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (filter == null) {
      // bloom literal is NULL: result is always NULL (matches the
      // HOF formulation, where might_contain(NULL, h) nulls out).
      nullSafeCodeGen(ctx, ev, (_, _) => s"${ev.isNull} = true;")
    } else {
      val bf = ctx.addReferenceObj("graftBloomFilter", filter,
        classOf[org.apache.spark.util.sketch.BloomFilter].getName)
      nullSafeCodeGen(ctx, ev, (a, _) =>
        s"${ev.value} = graft.functions.BloomCountContains.count($a, $bf);")
    }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(grams = newLeft, bloom = newRight)
}

object BloomCountContains {
  /** Static so generated code can call it directly (RollingHash31
    * pattern): one primitive loop, zero allocation per row. */
  def count(arr: ArrayData,
            bf: org.apache.spark.util.sketch.BloomFilter): Long = {
    val n = arr.numElements()
    var c = 0L
    var i = 0
    while (i < n) {
      val h =
        if (arr.isNullAt(i)) 42L // xxhash64(NULL) == the seed
        else XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
      if (bf.mightContainLong(h)) c += 1L
      i += 1
    }
    c
  }
}

/** Word n-gram shingling in ONE codegen'd pass — the hot map-side
  * step of every dedup/decontamination operator (q22..q25, q70,
  * q168, ...). Bit-identical to the Column formulation it replaces
  * (`when(size(toks) >= n, array_distinct(transform(sequence(1,
  * size-n+1), j => concat_ws(" ", element_at...))))
  * .otherwise(array())`) — same first-occurrence distinct order,
  * same concat_ws null-skip, same empty-array-on-null/short input —
  * but that chain evaluates an INTERPRETED lambda per gram position
  * with n generic `element_at` calls and an O(m²)-ish string
  * `array_distinct` behind it, which profiled at ~6 s for one sf0.1
  * documents pass. This is a primitive loop over the ArrayData with
  * a hash-set for distinctness: the whole shingle pass stays inside
  * whole-stage codegen. At 100 TB shingling is pure per-row CPU on
  * the scan — constant factors here multiply across the corpus.
  */
case class WordShingles(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression {
  require(n >= 1, "shingle width must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.simpleString}")
  }

  // containsNull=true matches the merged when/otherwise type of the
  // Column formulation (the `.cast("array<string>")` arm defaults to
  // nullable elements), keeping written schemas identical round over
  // round; values are in fact never null.
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String =
    if (distinct) "word_shingles" else "word_shingle_positions"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) WordShingles.emptyArray
    else WordShingles.make(v.asInstanceOf[ArrayData], n, distinct)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ad = classOf[ArrayData].getName
    ev.copy(code = code"""
      |${c.code}
      |$ad ${ev.value} = ${c.isNull}
      |  ? graft.functions.WordShingles.emptyArray()
      |  : graft.functions.WordShingles.make(${c.value}, $n, $distinct);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShingles {
  private val SPACE = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  /** The null/short-input result (matches the Column chain, where
    * `when(size(NULL) >= n)` is null → `.otherwise(array())`). */
  def emptyArray: ArrayData = new GenericArrayData(Array.empty[AnyRef])

  /** Static so generated code can call it directly. Distinctness is
    * first-occurrence order over byte equality — exactly
    * `array_distinct`'s contract; `UTF8String.concatWs` skips null
    * inputs exactly as SQL `concat_ws` does. */
  def make(toks: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    val sz = toks.numElements()
    if (sz < n) return emptyArray
    val m = sz - n + 1
    val out = new Array[AnyRef](m)
    var cnt = 0
    val seen = if (distinct)
      new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String](m * 2)
    else null
    val parts = new Array[org.apache.spark.unsafe.types.UTF8String](n)
    var j = 0
    while (j < m) {
      var i = 0
      while (i < n) {
        parts(i) = if (toks.isNullAt(j + i)) null else toks.getUTF8String(j + i)
        i += 1
      }
      val gram = org.apache.spark.unsafe.types.UTF8String.concatWs(SPACE, parts: _*)
      if (seen == null || seen.add(gram)) { out(cnt) = gram; cnt += 1 }
      j += 1
    }
    new GenericArrayData(if (cnt == m) out else java.util.Arrays.copyOf(out, cnt))
  }
}

/** Distinct word n-gram HASHES in ONE codegen'd pass — the long-typed
  * sibling of [[WordShingles]] (TextOps.shingleHashes). Bit-identical
  * to `array_distinct(transform(sequence(...), j => xxhash64(tok_j,
  * ..., tok_{j+n-1})))`: the multi-argument `xxhash64` folds left
  * from seed 42, re-seeding with the running hash per argument and
  * skipping nulls — reproduced here with the same XXH64 kernel, so
  * every downstream MinHash/LSH/dedup result is unchanged. */
case class WordShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, "shingle width must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_shingle_hashes requires array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "word_shingle_hashes"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) WordShingles.emptyArray
    else WordShingleHashes.make(v.asInstanceOf[ArrayData], n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ad = classOf[ArrayData].getName
    ev.copy(code = code"""
      |${c.code}
      |$ad ${ev.value} = ${c.isNull}
      |  ? graft.functions.WordShingles.emptyArray()
      |  : graft.functions.WordShingleHashes.make(${c.value}, $n);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShingleHashes {
  /** Static so generated code can call it directly. */
  def make(toks: ArrayData, n: Int): ArrayData = {
    val sz = toks.numElements()
    if (sz < n) return WordShingles.emptyArray
    val m = sz - n + 1
    val out = new Array[Long](m)
    var cnt = 0
    val seen = new java.util.HashSet[java.lang.Long](m * 2)
    var j = 0
    while (j < m) {
      var h = 42L
      var i = 0
      while (i < n) {
        if (!toks.isNullAt(j + i))
          h = XXH64.hashUTF8String(toks.getUTF8String(j + i), h)
        i += 1
      }
      if (seen.add(h)) { out(cnt) = h; cnt += 1 }
      j += 1
    }
    new GenericArrayData(if (cnt == m) out else java.util.Arrays.copyOf(out, cnt))
  }
}

/** Scatter-matrix aggregate for distributed PCA (q169): folds each
  * quantized vector's full d×d outer product, the d linear sums, and
  * a row count into ONE flat `long[d*d + d + 1]` buffer per task —
  * the explode-free replacement for emitting 4,161 structs per row
  * into a hash aggregate. Each task ships one ~33 KB buffer (d=64);
  * merge is element-wise add. That is the minimal possible
  * communication for an exact scatter matrix — the same tree-reduce
  * shape, without the d²-per-row row amplification on the CPU side.
  *
  * Buffer layout: `[i*d + j] = Σ qᵢqⱼ`, `[d*d + i] = Σ qᵢ`,
  * `[d*d + d] = count`.
  *
  * Overflow contract: per-element partial sums are plain longs.
  * |q| ≤ 1e4 micros (unit-ish embeddings) bounds each product by
  * 1e8, so a single merged buffer is exact to ~9·10¹⁰ rows; the
  * caller (q169ScatterTerms) shards the aggregation by
  * hash(vec_id) into G groups and re-sums the G partials in
  * decimal(38,0), pushing the bound to G·9·10¹⁰ rows. `merge` uses
  * addExact so an overflow beyond that fails loudly instead of
  * silently wrapping (Spark's non-ANSI sum would wrap).
  *
  * Rows whose vector is null, ragged (≠ d wide), or contains null
  * elements are skipped entirely. For a fully-null array this matches
  * the HOF formulation (`concat` over a null array nulls the whole
  * explode); a vector with individual NULL ELEMENTS diverges from it —
  * the HOF explode would still emit the row's count sentinel and its
  * non-null linear terms, while this aggregate drops the row outright
  * (ADVICE r7). Whole-row skip is the deliberate contract: a partial
  * embedding contributing to some covariance cells but not others
  * would bias the matrix; no fixture ships null elements, and
  * VectorExpressionsSpec pins all three skip cases. */
case class ScatterMatrixAgg(
    child: Expression,
    d: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Long]]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  require(d > 0 && d <= 4096, "scatter_matrix_agg needs 0 < d <= 4096")

  private val len = d * d + d + 1

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"scatter_matrix_agg requires array<bigint>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "scatter_matrix_agg"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](len)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      if (arr.numElements() == d) {
        val q = new Array[Long](d)
        var i = 0
        var ok = true
        while (ok && i < d) {
          if (arr.isNullAt(i)) ok = false else q(i) = arr.getLong(i)
          i += 1
        }
        if (ok) {
          val dd = d * d
          i = 0
          while (i < d) {
            val qi = q(i)
            val base = i * d
            var j = 0
            while (j < d) { buf(base + j) += qi * q(j); j += 1 }
            buf(dd + i) += qi
            i += 1
          }
          buf(len - 1) += 1L
        }
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < len) { b1(i) = Math.addExact(b1(i), b2(i)); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(len * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](len)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ScatterMatrixAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ScatterMatrixAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): ScatterMatrixAgg =
    copy(child = newChild)
}

/** Column-API and SQL-registration surface for the custom
  * expressions. */
object VectorFunctions {

  def dotF32(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotF32(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Exact squared L2 distance over two array<long> columns. */
  def sqDistL64(a: Column, b: Column): Column =
    ColumnBridge.column(
      SqDistL64(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Oracle-replayable affine MinHash signature: slot j =
    * min((as(j)·h + bs(j)) mod p) over the array<long> of mod-p
    * element fingerprints. */
  def affineMinhashSig(hashes: Column, as: Seq[Long], bs: Seq[Long],
                       p: Long): Column =
    ColumnBridge.column(
      AffineMinHashSig(ColumnBridge.expression(hashes), as, bs, p))

  /** 64-bit SimHash fingerprint over an array<long> of token hashes. */
  def simhash64(hashes: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(hashes)))

  /** 64-bit perceptual dHash over an array<long> of 72 luminance
    * cells (8 rows × 9 columns, row-major). */
  def dhash64(cells: Column): Column =
    ColumnBridge.column(DHash64(ColumnBridge.expression(cells)))

  /** 60-bit aHash fingerprint of a frame string's first 60 chars. */
  def ahash60(frame: Column): Column =
    ColumnBridge.column(AHash60(ColumnBridge.expression(frame)))

  /** Distinct ordered "a>b>c" triples of a capped token array. */
  def seqTriples(toks: Column): Column =
    ColumnBridge.column(SeqTriples(ColumnBridge.expression(toks)))

  /** Generator of the ascending (a, b) value pairs of an
    * array<long> — see [[LongPairs]]. */
  def longPairs(arr: Column): Column =
    ColumnBridge.column(LongPairs(ColumnBridge.expression(arr)))

  /** Rolling base-31 fingerprint over a string column's characters. */
  def rollingHash31(text: Column): Column =
    ColumnBridge.column(RollingHash31(ColumnBridge.expression(text)))

  /** Packed (total<<32 | distinct) word-trigram counts of a token array. */
  def trigramStats(toks: Column): Column =
    ColumnBridge.column(TrigramStats(ColumnBridge.expression(toks)))

  /** Morton key over two long columns' low 16 bits. */
  def zorder2(a: Column, b: Column): Column =
    ColumnBridge.column(
      ZOrder2(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Codegen'd Jaro-Winkler similarity of two string columns. */
  def jaroWinkler(a: Column, b: Column): Column =
    ColumnBridge.column(
      JaroWinkler(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Unicode NFC canonical normalization of a string column. */
  def nfcNormalize(text: Column): Column =
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(text)))

  /** PQ codes (array<int>, length M) of a float vector against
    * codebooks(m)(k)(d), flattened row-major internally. */
  def pqEncode(emb: Column, codebooks: Array[Array[Array[Double]]],
               subDim: Int): Column = {
    val m = codebooks.length
    val k = codebooks(0).length
    ColumnBridge.column(PqEncode(ColumnBridge.expression(emb),
      codebooks.flatten.flatten, m, k, subDim))
  }

  /** Bloom-filter BUILD: aggregates a LONG column of item hashes into
    * a serialized bloom filter (binary). Thin Column surface over
    * Spark's own `BloomFilterAggregate` — the exact machinery the
    * optimizer's runtime-filter pushdown uses, exposed here for
    * explicit set-membership pipelines (q168 decontamination). */
  def bloomAgg(hashes: Column, estimatedItems: Long, numBits: Long): Column =
    ColumnBridge.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        ColumnBridge.expression(hashes),
        org.apache.spark.sql.catalyst.expressions.Literal(estimatedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
        .toAggregateExpression())

  /** Bloom-filter PROBE: `might_contain(bloom, hash)` — no false
    * negatives, tunable false-positive rate. The bloom side must be
    * a literal/foldable value (ship the built filter via `lit(...)`,
    * the same way runtime filters broadcast it). */
  def bloomMightContain(bloom: Column, hash: Column): Column =
    ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        ColumnBridge.expression(bloom), ColumnBridge.expression(hash)))

  /** Codegen'd bloom-probe count over an array<string> of grams —
    * `bloom_count_contains(grams, lit(filterBytes))`. See
    * [[BloomCountContains]]. */
  def bloomCountContains(grams: Column, bloom: Column): Column =
    ColumnBridge.column(BloomCountContains(
      ColumnBridge.expression(grams), ColumnBridge.expression(bloom)))

  /** Codegen'd word n-gram shingles (distinct, first-occurrence
    * order) — see [[WordShingles]]. */
  def wordShingles(toks: Column, n: Int): Column =
    ColumnBridge.column(
      WordShingles(ColumnBridge.expression(toks), n, distinct = true))

  /** Codegen'd word n-gram positions (every occurrence, no
    * distinct). */
  def wordShinglePositions(toks: Column, n: Int): Column =
    ColumnBridge.column(
      WordShingles(ColumnBridge.expression(toks), n, distinct = false))

  /** Codegen'd distinct word n-gram xxhash64 hashes — see
    * [[WordShingleHashes]]. */
  def wordShingleHashes(toks: Column, n: Int): Column =
    ColumnBridge.column(WordShingleHashes(ColumnBridge.expression(toks), n))

  /** One-buffer-per-task scatter matrix (outer products + linear
    * sums + count) over an array<bigint> column — see
    * [[ScatterMatrixAgg]]. d is a constructor parameter (SQL callers
    * pass it as a foldable INT). */
  def scatterMatrixAgg(q: Column, d: Int): Column =
    ColumnBridge.column(
      ScatterMatrixAgg(ColumnBridge.expression(q), d).toAggregateExpression())

  /** The `k` smallest values of a struct column per group, as an
    * ascending array<struct> — see [[BottomK]]. */
  def bottomK(c: Column, k: Int): Column =
    ColumnBridge.column(BottomK(ColumnBridge.expression(c), k).toAggregateExpression())

  private[functions] val dotF32Info =
    (new FunctionIdentifier("dot_f32"),
     new ExpressionInfo(classOf[DotF32].getName, "dot_f32"),
     (children: Seq[Expression]) => DotF32(children(0), children(1)): Expression)

  /** Every custom expression as a SQL function: (identifier, info,
    * builder) triples, the registry's native currency. One list
    * serves both registration paths (session-local [[register]] and
    * cluster-wide [[GraftExtensions]]), so the SQL surface can never
    * drift from the Column surface. */
  private[functions] val allFunctionInfos: Seq[
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    dotF32Info,
    (new FunctionIdentifier("simhash64"),
     new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
     (c: Seq[Expression]) => SimHash64(c.head): Expression),
    (new FunctionIdentifier("rolling_hash31"),
     new ExpressionInfo(classOf[RollingHash31].getName, "rolling_hash31"),
     (c: Seq[Expression]) => RollingHash31(c.head): Expression),
    (new FunctionIdentifier("trigram_stats"),
     new ExpressionInfo(classOf[TrigramStats].getName, "trigram_stats"),
     (c: Seq[Expression]) => TrigramStats(c.head): Expression),
    (new FunctionIdentifier("zorder2"),
     new ExpressionInfo(classOf[ZOrder2].getName, "zorder2"),
     (c: Seq[Expression]) => ZOrder2(c(0), c(1)): Expression),
    (new FunctionIdentifier("jaro_winkler"),
     new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
     (c: Seq[Expression]) => JaroWinkler(c(0), c(1)): Expression),
    (new FunctionIdentifier("nfc_normalize"),
     new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
     (c: Seq[Expression]) => NfcNormalize(c.head): Expression),
    // Spark ships these two internally for runtime-filter pushdown but
    // does not register them for SQL; exposing them makes the q168
    // bloom pipeline writable in pure SQL (the analyzer wraps the
    // aggregate function into an AggregateExpression itself).
    (new FunctionIdentifier("bloom_agg"),
     new ExpressionInfo(
       classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
       "bloom_agg"),
     (c: Seq[Expression]) =>
       new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
         c(0), c(1), c(2)): Expression),
    (new FunctionIdentifier("bloom_might_contain"),
     new ExpressionInfo(
       classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
       "bloom_might_contain"),
     (c: Seq[Expression]) =>
       org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
         c(0), c(1)): Expression),
    (new FunctionIdentifier("bloom_count_contains"),
     new ExpressionInfo(classOf[BloomCountContains].getName,
       "bloom_count_contains"),
     (c: Seq[Expression]) => BloomCountContains(c(0), c(1)): Expression),
    (new FunctionIdentifier("sqdist_l64"),
     new ExpressionInfo(classOf[SqDistL64].getName, "sqdist_l64"),
     (c: Seq[Expression]) => SqDistL64(c(0), c(1)): Expression),
    // n/d ride as foldable int literals in SQL (the Column API takes
    // them as constructor params); non-literal arguments fail the
    // call loudly at analysis instead of silently misparsing
    (new FunctionIdentifier("word_shingles"),
     new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
     (c: Seq[Expression]) =>
       WordShingles(c(0), litInt(c(1), "word_shingles"), distinct = true): Expression),
    (new FunctionIdentifier("word_shingle_positions"),
     new ExpressionInfo(classOf[WordShingles].getName, "word_shingle_positions"),
     (c: Seq[Expression]) =>
       WordShingles(c(0), litInt(c(1), "word_shingle_positions"), distinct = false): Expression),
    (new FunctionIdentifier("word_shingle_hashes"),
     new ExpressionInfo(classOf[WordShingleHashes].getName, "word_shingle_hashes"),
     (c: Seq[Expression]) =>
       WordShingleHashes(c(0), litInt(c(1), "word_shingle_hashes")): Expression),
    (new FunctionIdentifier("scatter_matrix_agg"),
     new ExpressionInfo(classOf[ScatterMatrixAgg].getName, "scatter_matrix_agg"),
     (c: Seq[Expression]) =>
       ScatterMatrixAgg(c(0), litInt(c(1), "scatter_matrix_agg")): Expression),
    (new FunctionIdentifier("bottom_k"),
     new ExpressionInfo(classOf[BottomK].getName, "bottom_k"),
     (c: Seq[Expression]) => BottomK(c(0), litInt(c(1), "bottom_k")): Expression))

  private def litInt(e: Expression, fn: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other if other.foldable &&
        other.dataType == org.apache.spark.sql.types.IntegerType =>
      other.eval().asInstanceOf[Int]
    case other => throw new IllegalArgumentException(
      s"$fn expects a foldable INT parameter, got $other")
  }

  /** Register every custom expression into an existing session's
    * function registry (same builders the SparkSessionExtensions
    * path injects). PqEncode stays Column-only: its
    * codebook parameter is a constructor argument, not a child
    * expression, so it has no direct SQL-call shape. */
  def register(spark: SparkSession): Unit =
    allFunctionInfos.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
