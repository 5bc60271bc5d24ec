package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass implementations of the hash-sketch hot loops.
  *
  * The equivalent built-in higher-order-function formulations are kept in
  * graft.ops.Dedup (tests assert bit-parity), but HOFs evaluate their
  * lambda through the interpreted expression walker per array element —
  * for an 8-seed minhash over ~50 shingles that is ~400 boxed expression
  * evaluations per row and dominates the dedup pipeline. Each expression
  * here is one compiled-Scala loop per row, and (round 10) participates
  * in whole-stage codegen via `doGenCode` — CodegenFallback forced the
  * surrounding span to materialize an InternalRow and box one eval per
  * row, and fed the allocation churn behind round 9's 889-full-GC bench.
  *
  * Allocation discipline (round 10, the GC chase): ONE thread-local
  * MessageDigest reused across every md5 call (a fresh getInstance per
  * hash allocates the digest + internal buffers — at k·n hashes per row
  * this was the library's top allocator), digests written into
  * caller-owned 16-byte buffers (`digest(buf, off, len)`), token bytes
  * extracted once per row rather than once per (seed, token), and the
  * minhash minimum kept as raw digest bytes (unsigned byte order ==
  * hex-string lexicographic order; hex-encode once at the end).
  *
  * All hashing is md5 (hex), so the DuckDB oracle replays results exactly.
  */
object HashUtil {
  private val hexChars = "0123456789abcdef".toCharArray

  // ONE MessageDigest per thread, reused across every hash — getInstance
  // per call allocates the digest object + its buffers; MD5 digests
  // auto-reset after digest(), and we reset() defensively besides
  private val tlMd = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))

  /** The calling thread's reusable MD5 instance (reset before use). */
  def threadMd5(): MessageDigest = { val md = tlMd.get(); md.reset(); md }

  /** md5(input) written into the caller's 16-byte buffer — no per-call
    * allocation. */
  def md5Into(md: MessageDigest, input: Array[Byte],
              out16: Array[Byte]): Unit = {
    md.reset()
    md.update(input)
    md.digest(out16, 0, 16)
    ()
  }

  // ASCII digits of the small ints a bootstrap replicate index takes —
  // md5 input bytes without a per-row Integer.toString allocation
  private val smallIntBytes: Array[Array[Byte]] =
    (0 until 256).map(_.toString.getBytes("US-ASCII")).toArray

  private val tlOut16 = ThreadLocal.withInitial[Array[Byte]](
    () => new Array[Byte](16))

  /** Poisson(1) bootstrap draw for (id, replicate): the first 16 bits
    * of md5(id || ':' || rep) as a uniform in [0, 1), inverse-CDF'd
    * through `cdf` — byte-identical input and arithmetic to the
    * built-in md5/conv/when-chain formulation in Agg.bootstrapMeanCi
    * (spec-pinned parity), one compiled pass, zero per-row strings.
    */
  def poissonDraw(id: UTF8String, rep: Int, cdf: Array[Double]): Int = {
    val md = threadMd5()
    md.update(id.getBytes)
    md.update(':'.toByte)
    md.update(if (rep >= 0 && rep < 256) smallIntBytes(rep)
      else rep.toString.getBytes("US-ASCII"))
    val out = tlOut16.get()
    md.digest(out, 0, 16)
    val u = (((out(0) & 0xff) << 8) | (out(1) & 0xff)) / 65536.0
    var k = 0
    while (k < cdf.length && u >= cdf(k)) k += 1
    k
  }

  def hex32(d: Array[Byte]): String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  def md5Hex(bytes: Array[Byte]): String = {
    val d = tlMd.get().digest(bytes)
    hex32(d)
  }

  /** First 16 bits of md5 (== first 4 hex nibbles, the oracle's decode). */
  def md5_16(bytes: Array[Byte]): Int = {
    val d = tlMd.get().digest(bytes)
    ((d(0) & 0xff) << 8) | (d(1) & 0xff)
  }

  /** First 60 bits of md5 (== first 15 hex nibbles) as a non-negative
    * long — 60 rather than 64 keeps the value positive in both engines
    * (DuckDB BIGINT is signed; a 64-bit value's top bit would flip sign).
    */
  def md5_60(bytes: Array[Byte]): Long = {
    val d = tlMd.get().digest(bytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) >> 4) & 0xfL)
  }

  /** Unsigned lexicographic compare of two 16-byte digests — identical
    * ordering to comparing their 32-char hex encodings (each hex nibble
    * orders by value because '0'..'9' < 'a'..'f' in ASCII). */
  @inline private def ltUnsigned16(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val ai = a(i) & 0xff; val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    false
  }

  // ---- row kernels (called from nullSafeEval AND from generated code
  // via the object's static forwarders) -----------------------------

  /** Per-element first-8-nibble md5 as long (kernel of Md5Hex8ArrExpr). */
  def md5Hex8Arr(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val md = threadMd5()
    val h = new Array[Byte](16)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      md5Into(md, arr.getUTF8String(i).getBytes, h)
      out(i) = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** MinHash signature kernel (MinHashSigExpr): for each seed s, the
    * lexicographic-minimum md5Hex(s + ":" + shingle); "~empty" when the
    * row has no non-null shingles. */
  def minhashSig(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    // token bytes once per row, not once per (seed, token)
    val toks = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).getBytes
      i += 1
    }
    val md = threadMd5()
    val h = new Array[Byte](16)
    val min = new Array[Byte](16)
    val out = new Array[AnyRef](k)
    var s = 0
    while (s < k) {
      // (s + ":") prefix bytes are ASCII; one tiny alloc per seed
      val prefix = (s.toString + ":")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var found = false
      var j = 0
      while (j < n) {
        val t = toks(j)
        if (t != null) {
          md.reset()
          md.update(prefix)
          md.update(t)
          md.digest(h, 0, 16)
          if (!found || ltUnsigned16(h, min)) {
            System.arraycopy(h, 0, min, 0, 16)
            found = true
          }
        }
        j += 1
      }
      out(s) = UTF8String.fromString(if (!found) "~empty" else hex32(min))
      s += 1
    }
    new GenericArrayData(out)
  }

  /** SimHash kernel shared by the 16- and 60-bit variants: per token,
    * each bit of the token hash votes ±1; output bit set iff the vote
    * sum is positive. */
  def simhash16(arr: ArrayData): Int = {
    val n = arr.numElements()
    val md = threadMd5()
    val h = new Array[Byte](16)
    val planes = new Array[Int](16)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md5Into(md, arr.getUTF8String(i).getBytes, h)
        val v = ((h(0) & 0xff) << 8) | (h(1) & 0xff)
        var b = 0
        while (b < 16) {
          planes(b) += ((v >> b) & 1) * 2 - 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0
    var b = 0
    while (b < 16) {
      if (planes(b) > 0) sig |= 1 << b
      b += 1
    }
    sig
  }

  def simhash60(arr: ArrayData): Long = {
    val n = arr.numElements()
    val md = threadMd5()
    val h = new Array[Byte](16)
    val planes = new Array[Int](60)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md5Into(md, arr.getUTF8String(i).getBytes, h)
        var v = 0L
        var j = 0
        while (j < 7) { v = (v << 8) | (h(j) & 0xffL); j += 1 }
        v = (v << 4) | ((h(7) >> 4) & 0xfL)
        var b = 0
        while (b < 60) {
          planes(b) += (((v >> b) & 1L).toInt * 2) - 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) {
      if (planes(b) > 0) sig |= 1L << b
      b += 1
    }
    sig
  }
}

/** Per-element first-8-nibble md5 of a string array, as array<bigint> —
  * the compiled form of `transform(arr, s -> conv(substring(md5(s), 1,
  * 8), 16, 10))`: the HOF form walks the interpreted expression tree
  * per element (measured ~10 s over a 1 M-shingle corpus where this
  * runs in ~100 ms). Feeds the winnowing selection (q207/q208).
  */
case class Md5Hex8ArrExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"md5_hex8_arr requires array<string>, got $t")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    HashUtil.md5Hex8Arr(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashUtil.md5Hex8Arr($c)")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)

  override def prettyName: String = "md5_hex8_arr"
}

/** MinHash signature over a shingle array: for seed s in [0, k), the
  * lexicographic minimum over shingles of md5Hex(s + ":" + shingle);
  * "~empty" sentinel when the row has no shingles. Matches
  * graft.ops.Dedup.minhashSignature (HOF form) bit-for-bit.
  */
case class MinHashSigExpr(child: Expression, k: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires array<string>, got $t")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    HashUtil.minhashSig(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashUtil.minhashSig($c, $k)")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)

  override def prettyName: String = "minhash_sig"
}

/** 16-bit SimHash over a token array: bit b of the output is set iff the
  * sum over tokens of (2*bit_b(md5_16(token)) - 1) is positive. Matches
  * graft.ops.Dedup.simhash16(tokenHashes16(...)) (HOF form) exactly.
  */
case class SimHash16Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash16 requires array<string>, got $t")
  }

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(input: Any): Any =
    HashUtil.simhash16(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashUtil.simhash16($c)")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)

  override def prettyName: String = "simhash16"
}

/** 60-bit SimHash over a token array — the corpus-scale variant: 4 bands
  * of 15 bits give 32768 LSH buckets per band (vs 16 for the 16-bit
  * signature), which is what keeps the banded pair join sub-quadratic on
  * large corpora. Same algorithm as [[SimHash16Expr]] over md5_60.
  */
case class SimHash60Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash60 requires array<string>, got $t")
  }

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    HashUtil.simhash60(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashUtil.simhash60($c)")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)

  override def prettyName: String = "simhash60"
}

/** Poisson(1) bootstrap weight of (id string, replicate int) under the
  * inverse-CDF thresholds `cdf` — [[HashUtil.poissonDraw]] as one
  * whole-stage-codegen node. The built-in formulation (md5 → hex
  * substring → conv → when-chain) allocates a 32-char hex string and a
  * BigInt-backed conv per (row, replicate) — on q265's b·n expansion
  * that garbage was the bench's per-rep variance surface; this node
  * allocates nothing per row.
  *
  * Null parity with the reference chain: a null id (or replicate)
  * makes the built-in's uniform NULL, every `when(u < c, k)` condition
  * false, and the chain falls through to `otherwise(cdf.length)` — so
  * this node returns `cdf.length` (never NULL) on null input rather
  * than the BinaryExpression null-propagation default, which would
  * silently diverge from the DuckDB oracle on any fixture with null
  * ids (r14 advice).
  */
case class BootstrapWeightExpr(left: Expression, right: Expression,
                               cdf: Array[Double])
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string id, got ${left.dataType}")
    else if (right.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an int replicate, got ${right.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = IntegerType

  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow)
      : Any = {
    val id = left.eval(input)
    val rep = right.eval(input)
    if (id == null || rep == null) cdf.length
    else HashUtil.poissonDraw(id.asInstanceOf[UTF8String],
      rep.asInstanceOf[Int], cdf)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("cdf", cdf, "double[]")
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    ev.copy(
      code = l.code + r.code +
        code"""
          int ${ev.value} = (${l.isNull} || ${r.isNull})
            ? $ref.length
            : graft.functions.HashUtil.poissonDraw(${l.value},
                ${r.value}, $ref);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "bootstrap_weight"
}
