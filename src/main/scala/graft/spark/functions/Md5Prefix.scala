package graft.spark.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}

/** The first `nHex` hex digits of md5(input), as an unsigned LONG —
  * bit-identical to `conv(substring(md5(x), 1, nHex), 16, 10)` (and, at
  * nHex = 16, to the shiftleft/or combination of two 8-digit convs), but
  * computed DIRECTLY from the digest bytes: the first `nHex` hex
  * characters of the digest's hex form are exactly the top `4·nHex` bits
  * of the big-endian long over digest bytes 0..7.
  *
  * Why (r19, guide §1.2 step 2): the conv-of-substring-of-md5 chain is
  * the engine's portable 60-bit hash and sits in EVERY hot tokenize /
  * shingle / chunk projection (bigrams, MinHash shingles, passage
  * windows, CDC chunk digests). Per value it pays: digest → 32-char hex
  * STRING encode → substring copy → base-16 STRING PARSE. This
  * expression does digest → 8-byte big-endian load → shift; the
  * MessageDigest instance is reused across rows (codegen mutable state)
  * instead of being re-allocated per call inside Spark's `md5()`.
  * Measured at sf1 it roughly halves the bigram/shingle scan cost.
  *
  * Oracle safety: the VALUE is unchanged — DuckDB keeps computing
  * `('0x' || substr(md5(x), 1, nHex))::BIGINT/UBIGINT` and the driver's
  * hash compare pins equality on every battery entry.
  *
  * Input: STRING (hashed as its UTF-8 bytes — what `md5(cast(x as
  * binary))` hashes) or BINARY. nHex ∈ [1, 16]; nHex ≤ 15 yields a
  * non-negative value (conv semantics), nHex = 16 the full signed
  * 64-bit pattern. */
final case class Md5PrefixLongExpr(child: Expression, nHex: Int)
    extends UnaryExpression {
  require(nHex >= 1 && nHex <= 16, s"nHex must be in [1,16], got $nHex")

  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix_long"

  private val shift = 4 * (16 - nHex)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"md5_prefix_long needs string or binary input, got $t")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = child.dataType match {
      case StringType =>
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
      case _ => input.asInstanceOf[Array[Byte]]
    }
    // interpreted path (rare — codegen covers the hot paths): a fresh
    // digest per call keeps the expression thread-safe when shared
    val dig = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    val be = Md5Prefix.beLong(dig)
    if (shift == 0) be else be >>> shift
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // one MessageDigest per operator instance, reused across rows
    val md = ctx.addMutableState("java.security.MessageDigest", "graftMd5",
      v => s"""try { $v = java.security.MessageDigest.getInstance("MD5"); }
               catch (java.security.NoSuchAlgorithmException e) {
                 throw new RuntimeException(e); }""")
    nullSafeCodeGen(ctx, ev, in => {
      val bytes = ctx.freshName("bytes")
      val dig = ctx.freshName("dig")
      val be = ctx.freshName("be")
      val byteExpr = child.dataType match {
        case StringType => s"$in.getBytes()"
        case _ => in
      }
      val shiftExpr = if (shift == 0) be else s"($be >>> $shift)"
      // the OR chain stays on ONE line: Spark strips a leading `|` from
      // generated lines as a margin, and Janino then reads `(a)\n(b)` as
      // a cast that does not compile
      val beExpr = (0 until 8)
        .map(i => s"(((long) ($dig[$i] & 0xff)) << ${56 - 8 * i})")
        .mkString(" | ")
      s"""
         byte[] $bytes = $byteExpr;
         byte[] $dig = $md.digest($bytes);
         long $be = $beExpr;
         ${ev.value} = $shiftExpr;
       """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5Prefix {
  private[functions] def beLong(dig: Array[Byte]): Long =
    ((dig(0) & 0xffL) << 56) | ((dig(1) & 0xffL) << 48) |
      ((dig(2) & 0xffL) << 40) | ((dig(3) & 0xffL) << 32) |
      ((dig(4) & 0xffL) << 24) | ((dig(5) & 0xffL) << 16) |
      ((dig(6) & 0xffL) << 8) | (dig(7) & 0xffL)

  /** `md5_prefix_long(c, nHex)` as a Column. */
  def md5PrefixLong(c: org.apache.spark.sql.Column, nHex: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      Md5PrefixLongExpr(org.apache.spark.sql.graft.ColumnShim.expression(c), nHex))
}
