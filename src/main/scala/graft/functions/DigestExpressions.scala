package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-partition state of [[RowSha256Hex]]: one SHA-256 engine and one
  * reused buffer holding the row's `|`-joined per-column hex digests.
  * Cell `i` lands at byte `65 * i`; [[result]] digests the buffer. A
  * cell is independent of the cells written before it, so a row that
  * failed half-way leaves nothing behind for the next one.
  */
final class RowDigest(columns: Int) {
  private val md = MessageDigest.getInstance("SHA-256")
  private val raw = new Array[Byte](32)
  private val joined = new Array[Byte](math.max(0, 65 * columns - 1))
  (1 until columns).foreach(i => joined(65 * i - 1) = '|'.toByte)

  /** Cell `i`: sha256("1|") for NULL, else sha256("0|" ++ utf8(v)). */
  def put(i: Int, v: UTF8String): Unit =
    if (v == null) System.arraycopy(RowDigest.NullHex, 0, joined, 65 * i, 64)
    else {
      md.update(RowDigest.ValueMarker)
      md.update(v.getByteBuffer)
      md.digest(raw, 0, 32)
      RowDigest.hex(raw, joined, 65 * i)
    }

  /** sha256 over the joined cell digests, as 64 lowercase hex chars. */
  def result(): UTF8String = {
    md.update(joined, 0, joined.length)
    md.digest(raw, 0, 32)
    val out = new Array[Byte](64)
    RowDigest.hex(raw, out, 0)
    UTF8String.fromBytes(out)
  }
}

object RowDigest {
  private val Hex = "0123456789abcdef".getBytes("US-ASCII")
  private val ValueMarker = "0|".getBytes("US-ASCII")
  private val NullHex: Array[Byte] = {
    val h = new Array[Byte](64)
    hex(MessageDigest.getInstance("SHA-256").digest("1|".getBytes("US-ASCII")), h, 0)
    h
  }

  private def hex(d: Array[Byte], out: Array[Byte], at: Int): Unit = {
    var j = 0
    while (j < d.length) {
      out(at + 2 * j) = Hex((d(j) >> 4) & 0xf)
      out(at + 2 * j + 1) = Hex(d(j) & 0xf)
      j += 1
    }
  }
}

/** Per-partition state of [[Md5Prefix60]]: one MD5 engine. */
final class Md5Prefix {
  private val md = MessageDigest.getInstance("MD5")
  private val raw = new Array[Byte](16)

  /** The top 60 bits of md5(utf8(v)) as a non-negative long. */
  def apply(v: UTF8String): Long = {
    md.update(v.getByteBuffer)
    md.digest(raw, 0, 16)
    var h = 0L
    var j = 0
    while (j < 8) { h = (h << 8) | (raw(j) & 0xffL); j += 1 }
    h >>> 4
  }
}

/** sha256 hex digest of a row, fused: the value of
  * `sha2(concat_ws("|", when(c IS NULL, sha2("1|")).otherwise(sha2("0|" ++ c)) …), 256)`
  * over the string-typed `children`, in order, bit for bit. The
  * builtin chain pays a `MessageDigest` provider lookup, a hex
  * `String` and a `UTF8String` copy for every cell; this keeps one
  * engine and one buffer per partition ([[RowDigest]]) and allocates
  * only the 64-byte result. Never NULL.
  */
case class RowSha256Hex(children: Seq[Expression]) extends Expression {

  override def nullable: Boolean = false
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = {
    val bad = children.filterNot(_.dataType.isInstanceOf[StringType])
    if (bad.isEmpty) TypeCheckSuccess
    else TypeCheckFailure(s"row_sha256_hex expects string inputs, got " +
      bad.map(_.dataType.simpleString).mkString(", "))
  }

  @transient private lazy val digest = new RowDigest(children.length)

  override def eval(input: InternalRow): Any = {
    var i = 0
    children.foreach { c =>
      digest.put(i, c.eval(input).asInstanceOf[UTF8String])
      i += 1
    }
    digest.result()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val d = ctx.addMutableState(classOf[RowDigest].getName, "rowDigest",
      v => s"$v = new ${classOf[RowDigest].getName}(${children.length});")
    val puts = children.zipWithIndex.map { case (c, i) =>
      val e = c.genCode(ctx)
      s"""${e.code}
         |$d.put($i, ${e.isNull} ? null : ${e.value});""".stripMargin
    }
    val body = ctx.splitExpressionsWithCurrentInputs(puts, funcName = "rowSha256Cells")
    ev.copy(code = code"""
      |$body
      |UTF8String ${ev.value} = $d.result();""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** The top 60 bits of md5(utf8(child)) as a non-negative long — the
  * value of `conv(substring(md5(child), 1, 15), 16, 10).cast("long")`,
  * without the hex string, the substring or the base conversion.
  * NULL in, NULL out.
  */
case class Md5Prefix60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckSuccess
    else TypeCheckFailure(s"md5_prefix60 expects a string input, got ${child.dataType.simpleString}")

  @transient private lazy val prefix = new Md5Prefix

  override def nullSafeEval(v: Any): Any = prefix(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addMutableState(classOf[Md5Prefix].getName, "md5Prefix",
      v => s"$v = new ${classOf[Md5Prefix].getName}();")
    defineCodeGen(ctx, ev, s => s"$p.apply($s)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
