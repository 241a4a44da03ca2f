package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** First 8 bytes of `md5(utf8(s))` as one big-endian long — the
  * cross-engine base hash of the dedup/sketch suites, without the hex
  * round trip.
  *
  * The composed form `conv(substring(md5(s), 1, 8), 16, 10)` materializes
  * a 32-char hex string per row and parses 8 chars of it back to a long,
  * TWICE (both halves) — pure overhead on the per-shingle hot path of the
  * MinHash/SimHash signature stages, the single hash-heaviest code in the
  * engine. This expression computes the digest once and returns the first
  * 8 bytes directly; the two 32-bit halves the permutation families
  * consume are then bit ops:
  *
  *   lo (hex chars 1-8)  = shiftrightunsigned(p, 32)
  *   hi (hex chars 9-16) = p & 0xFFFFFFFF
  *
  * Both values are BIT-IDENTICAL to the conv/substring composition (md5's
  * hex string spells the digest bytes in order, so chars 1-8 are bytes
  * 0-3 = the high half of the big-endian first-8-byte long), which is
  * what keeps the DuckDB oracles — which still use the hex form —
  * hash-matching. Codegen'd; digest instances are thread-local. */
case class Md5Prefix64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"md5_prefix64 requires a string argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    Md5Prefix64.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Prefix64.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix64 =
    copy(child = newChild)

  override def prettyName: String = "md5_prefix64"
}

object Md5Prefix64 {
  private val digests = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** Reset thread-local MD5 instance for in-task digest loops — saves the
    * JCA provider lookup per call (`MessageDigest.getInstance` walks the
    * provider list and allocates) in the catalog/roundtrip roads that
    * digest one payload per member.
    *
    * NO-INTERLEAVING INVARIANT: the returned instance is THE thread's
    * digest — `hash`/`hashHi`/`hashPair` and every other `md5Instance()`
    * caller share it. A caller that holds it across a long-running read
    * loop must not invoke any other digest helper on the same thread
    * until it has called `digest()`, or both digests are silently
    * corrupted. Current call sites are straight-line loops with no nested
    * hashing; a streaming caller keeps its own thread-local, as
    * `TarWalk.streamMd5Hex` does. */
  def md5Instance(): MessageDigest = {
    val md = digests.get()
    md.reset()
    md
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  /** Lowercase hex of a byte array — the shared fast encoder for digest
    * rendering (a per-byte `"%02x".format` parses the format string and
    * boxes on every byte; this is a table lookup per nibble). */
  def hex(d: Array[Byte]): String = {
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = HexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexDigits(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Static so generated code can call it directly. */
  def hash(s: UTF8String): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(s.getBytes)
    ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
  }

  /** Static so generated code can call it directly: LAST 8 digest bytes
    * as a big-endian long (hex chars 17-32). */
  def hashHi(s: UTF8String): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(s.getBytes)
    ((d(8) & 0xffL) << 56) | ((d(9) & 0xffL) << 48) |
      ((d(10) & 0xffL) << 40) | ((d(11) & 0xffL) << 32) |
      ((d(12) & 0xffL) << 24) | ((d(13) & 0xffL) << 16) |
      ((d(14) & 0xffL) << 8) | (d(15) & 0xffL)
  }

  /** Static so generated code can call it directly: the FULL digest as a
    * (h1, h2) struct of two big-endian longs from ONE digest pass —
    * h1 = bytes 0-7 (≡ [[hash]]), h2 = bytes 8-15 (≡ [[hashHi]]). */
  def hashPair(s: UTF8String): InternalRow = {
    val md = digests.get()
    md.reset()
    val d = md.digest(s.getBytes)
    val h1 = ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    val h2 = ((d(8) & 0xffL) << 56) | ((d(9) & 0xffL) << 48) |
      ((d(10) & 0xffL) << 40) | ((d(11) & 0xffL) << 32) |
      ((d(12) & 0xffL) << 24) | ((d(13) & 0xffL) << 16) |
      ((d(14) & 0xffL) << 8) | (d(15) & 0xffL)
    new GenericInternalRow(Array[Any](h1, h2))
  }
}

/** The FULL 128-bit md5 digest as a struct<h1: long, h2: long> computed
  * from ONE digest pass — the pair form consumers split with two
  * `getField`s (whole-stage codegen's subexpression elimination evaluates
  * the digest once per row). Composing [[Md5Prefix64]] + [[Md5Suffix64]]
  * instead would digest the input twice. Values are bit-identical to
  * those two expressions (and to the hex string's two 16-char halves). */
case class Md5Pair(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("h1", LongType, nullable = false),
    StructField("h2", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"md5_pair requires a string argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    Md5Prefix64.hashPair(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Prefix64.hashPair($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Pair =
    copy(child = newChild)

  override def prettyName: String = "md5_pair"
}

/** Last 8 bytes of `md5(utf8(s))` as one big-endian long — the second
  * half of the digest. `(md5_prefix64(s), md5_suffix64(s))` together
  * carry the FULL 128-bit digest as two fixed-width longs: the exact
  * same equality relation as the 32-char hex string (the mapping is a
  * bijection), at half the shuffle bytes and with primitive-typed
  * hashing/sorting in every exchange that keys on the digest (guide
  * §2.3 "narrower types"). Used by the dedup pipelines whose digest is
  * a pure INTERNAL join/group key — never where an oracle mirrors the
  * hex string's VALUE. Codegen'd; digest instances are thread-local. */
case class Md5Suffix64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"md5_suffix64 requires a string argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    Md5Prefix64.hashHi(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Prefix64.hashHi($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Suffix64 =
    copy(child = newChild)

  override def prettyName: String = "md5_suffix64"
}
