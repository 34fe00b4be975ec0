package graft.functions

import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast,
  Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator,
  CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Null flag of a primitive kernel call: one per coerced cell of a
  * generated class (a task-private object), valid until the cell's next
  * call. */
final class CoerceSlot {
  var isNull: Boolean = false
}

/** The per-cell coercion steps of [[Coerce]] as plain JIT-compiled code.
  *
  * Each kernel runs, on one `UTF8String`, exactly what the reference
  * worker's coercion does (worker.js:911-1011) and what a tree of Catalyst
  * expressions would: the space-only trim of Spark's `trim`, the `null`
  * token in any case, Spark's own string→number cast, and the JS
  * `parseInt`/`parseFloat` prefix rules when that cast rejects the token.
  * A `null` input is SQL NULL. Primitive kernels report NULL through the
  * slot and return a don't-care value. */
object CoerceKernels {

  /** Index of the first byte of `s` that is not a space. */
  private def start(s: UTF8String): Int = {
    var i = 0
    while (i < s.numBytes && s.getByte(i) == ' ') i += 1
    i
  }

  /** One past the last byte at or after `from` that is not a space. */
  private def end(s: UTF8String, from: Int): Int = {
    var i = s.numBytes
    while (i > from && s.getByte(i - 1) == ' ') i -= 1
    i
  }

  /** `null` in any ASCII case: the only strings whose lower case is
    * `null` (no non-ASCII code point lower-cases to `n`, `u` or `l`). */
  private def isNullToken(s: UTF8String, from: Int, until: Int): Boolean =
    until - from == 4 &&
      (s.getByte(from) | 0x20) == 'n' && (s.getByte(from + 1) | 0x20) == 'u' &&
      (s.getByte(from + 2) | 0x20) == 'l' && (s.getByte(from + 3) | 0x20) == 'l'

  private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'

  /** Bytes Java's `String.trim`, and so `Double.parseDouble`, skips. */
  private def isControlOrSpace(b: Byte): Boolean = b >= 0 && b <= ' '

  /** The space-trimmed token, or NULL for a missing value or a null token
    * (the `DATE` step before Spark's timestamp cast). */
  def toTrimmed(s: UTF8String): UTF8String =
    if (s == null) null
    else {
      val from = start(s)
      val until = end(s, from)
      if (isNullToken(s, from, until)) null else s.trim()
    }

  /** JS `parseInt` over the trimmed token: a signed run of leading digits;
    * a value outside the long range is NULL. A token that opens with some
    * other control character or whitespace goes to Spark's own cast, which
    * skips it. */
  def toLong(s: UTF8String, slot: CoerceSlot): Long = {
    slot.isNull = true
    if (s == null) return 0L
    val from = start(s)
    val until = end(s, from)
    if (isNullToken(s, from, until)) return 0L
    var i = from
    val neg = i < until && s.getByte(i) == '-'
    if (i < until && (neg || s.getByte(i) == '+')) i += 1
    val digits = i
    // accumulate negatively: Long.MinValue has no positive counterpart
    var r = 0L
    while (i < until && isDigit(s.getByte(i))) {
      val d = s.getByte(i) - '0'
      if (r < Long.MinValue / 10) return 0L
      r *= 10
      if (r < Long.MinValue + d) return 0L
      r -= d
      i += 1
    }
    if (i > digits) {
      if (!neg && r == Long.MinValue) return 0L
      slot.isNull = false
      if (neg) r else -r
    } else if (from < until &&
        UTF8String.isWhitespaceOrISOControl(s.getByte(from))) {
      try {
        val v = s.trim().toLongExact()
        slot.isNull = false
        v
      } catch { case _: NumberFormatException => 0L }
    } else 0L
  }

  /** [[toLong]], NULL outside the int range. */
  def toInt(s: UTF8String, slot: CoerceSlot): Int = {
    val v = toLong(s, slot)
    if (v.toInt != v) slot.isNull = true
    v.toInt
  }

  /** End of the JS `parseFloat` prefix at `from`:
    * `[-+]?(\d+\.?\d*|\.\d+)([eE][-+]?\d+)?`; `from` when there is none. */
  private def floatPrefixEnd(s: UTF8String, from: Int, until: Int): Int = {
    var i = from
    if (i < until && (s.getByte(i) == '-' || s.getByte(i) == '+')) i += 1
    val intStart = i
    while (i < until && isDigit(s.getByte(i))) i += 1
    val intDigits = i > intStart
    if (i < until && s.getByte(i) == '.') {
      val dot = i
      i += 1
      while (i < until && isDigit(s.getByte(i))) i += 1
      if (!intDigits && i == dot + 1) return from
    } else if (!intDigits) return from
    if (i < until && (s.getByte(i) | 0x20) == 'e') {
      var j = i + 1
      if (j < until && (s.getByte(j) == '-' || s.getByte(j) == '+')) j += 1
      val expStart = j
      while (j < until && isDigit(s.getByte(j))) j += 1
      if (j > expStart) i = j
    }
    i
  }

  /** JS `parseFloat` over the trimmed token, after Spark's own cast:
    * Java's `Double.parseDouble` and Spark's special literals (`inf`,
    * `-infinity`, `nan`, any case) first; the prefix when both reject.
    * Java accepts a superset of the prefix grammar only through a hex
    * form, `NaN`/`Infinity`, or leading control characters, so only those
    * tokens take the exception-throwing cast. */
  def toDouble(s: UTF8String, slot: CoerceSlot): Double = {
    slot.isNull = true
    if (s == null) return 0d
    val from = start(s)
    val until = end(s, from)
    if (from == until || isNullToken(s, from, until)) return 0d
    val p = floatPrefixEnd(s, from, until)
    val b0 = s.getByte(from)
    val lead = if (b0 == '-' || b0 == '+') from + 1 else from
    val c = if (lead < until) s.getByte(lead) else 0
    val hex = c == '0' && lead + 1 < until && (s.getByte(lead + 1) | 0x20) == 'x'
    val word = (c | 0x20) == 'n' || (c | 0x20) == 'i'
    if (p > from && !hex) {
      // Java reads this token (with an optional [fFdD] suffix and trailing
      // control characters) as the prefix, or rejects it for the prefix
      slot.isNull = false
      java.lang.Double.parseDouble(ascii(s, from, p))
    } else if (p == from && !isControlOrSpace(b0) && !word) {
      0d
    } else {
      val str = s.toString
      try {
        val v = java.lang.Double.parseDouble(str)
        slot.isNull = false
        v
      } catch {
        case _: NumberFormatException =>
          Cast.processFloatingPointSpecialLiterals(str, false) match {
            case d: java.lang.Double =>
              slot.isNull = false
              d.doubleValue
            case _ if p > from =>
              slot.isNull = false
              java.lang.Double.parseDouble(ascii(s, from, p))
            case _ => 0d
          }
      }
    }
  }

  /** [[toDouble]] narrowed to float, as Spark's cast narrows. */
  def toFloat(s: UTF8String, slot: CoerceSlot): Float =
    toDouble(s, slot).toFloat

  private def ascii(s: UTF8String, from: Int, until: Int): String = {
    val cs = new Array[Char](until - from)
    var i = 0
    while (i < cs.length) { cs(i) = s.getByte(from + i).toChar; i += 1 }
    new String(cs)
  }

  /** `true`/`false` in any ASCII case after the space trim; anything else
    * is NULL. */
  def toBool(s: UTF8String, slot: CoerceSlot): Boolean = {
    slot.isNull = true
    if (s == null) return false
    val from = start(s)
    val n = end(s, from) - from
    def is(w: String): Boolean = {
      var i = 0
      while (i < n && (s.getByte(from + i) | 0x20) == w.charAt(i)) i += 1
      i == n
    }
    if (n == 4 && is("true")) { slot.isNull = false; true }
    else if (n == 5 && is("false")) { slot.isNull = false; false }
    else false
  }

  private val CrLf = UTF8String.fromString("\r\n")
  private val Space = UTF8String.fromString(" ")

  /** The untrimmed token with every CRLF pair replaced by a space; NULL
    * for a null token. Returns its input when there is no CRLF. */
  def toStr(s: UTF8String): UTF8String = {
    val v = toJson(s)
    if (v == null) null else v.replace(CrLf, Space)
  }

  /** The untrimmed token; NULL for a null token (a JSON column's value is
    * kept as its raw text). */
  def toJson(s: UTF8String): UTF8String =
    if (s == null || isNullToken(s, 0, s.numBytes)) null else s
}

/** The kernel of one coerced cell: the [[CoerceKernels]] method its
  * generated code calls, its result type, and the same call for
  * interpreted evaluation (`slot` is ignored by string kernels). */
sealed abstract class CoerceKernel(val method: String, val dataType: DataType)
    extends Serializable {
  def apply(s: UTF8String, slot: CoerceSlot): Any
}

object CoerceKernel {
  case object ToLong extends CoerceKernel("toLong", LongType) {
    def apply(s: UTF8String, slot: CoerceSlot): Any =
      CoerceKernels.toLong(s, slot)
  }
  case object ToInt extends CoerceKernel("toInt", IntegerType) {
    def apply(s: UTF8String, slot: CoerceSlot): Any =
      CoerceKernels.toInt(s, slot)
  }
  case object ToDouble extends CoerceKernel("toDouble", DoubleType) {
    def apply(s: UTF8String, slot: CoerceSlot): Any =
      CoerceKernels.toDouble(s, slot)
  }
  case object ToFloat extends CoerceKernel("toFloat", FloatType) {
    def apply(s: UTF8String, slot: CoerceSlot): Any =
      CoerceKernels.toFloat(s, slot)
  }
  case object ToBool extends CoerceKernel("toBool", BooleanType) {
    def apply(s: UTF8String, slot: CoerceSlot): Any =
      CoerceKernels.toBool(s, slot)
  }
  case object ToStr extends CoerceKernel("toStr", StringType) {
    def apply(s: UTF8String, slot: CoerceSlot): Any = CoerceKernels.toStr(s)
  }
  case object ToJson extends CoerceKernel("toJson", StringType) {
    def apply(s: UTF8String, slot: CoerceSlot): Any = CoerceKernels.toJson(s)
  }
  case object ToTrimmed extends CoerceKernel("toTrimmed", StringType) {
    def apply(s: UTF8String, slot: CoerceSlot): Any =
      CoerceKernels.toTrimmed(s)
  }
}

/** One coerced cell: a Catalyst expression whose generated code is a single
  * call into [[CoerceKernels]]. Keeping the generated code per cell this
  * small keeps an ingest stage's generated method under HotSpot's
  * 8000-byte JIT limit (`DontCompileHugeMethods`, on by default), so the
  * stage runs compiled rather than interpreted. */
case class CoerceCell(child: Expression, kernel: CoerceKernel)
    extends UnaryExpression {

  override def dataType: DataType = kernel.dataType

  /** Every kernel can return NULL (a null token, `-`, a non-numeric or
    * out-of-range value), whatever the input's nullability. */
  override def nullable: Boolean = true

  private def primitive: Boolean = !dataType.isInstanceOf[StringType]

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"${kernel.method} expects string, got $t")
  }

  override def eval(input: InternalRow): Any = {
    val slot = new CoerceSlot
    val v = kernel(child.eval(input).asInstanceOf[UTF8String], slot)
    if (primitive && slot.isNull) null else v
  }

  /** `value = kernel(input[, slot])`, nothing else: the null flag is an
    * expression over the result (a per-cell slot for primitive results),
    * so a cell adds no branch and no local besides its value. A bound
    * input column's generated value is already null when its null flag is
    * set (row and column-vector reads generate `isNull ? null : get(i)`);
    * any other nullable child is masked here. */
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val in = if (c.isNull == FalseLiteral || child.isInstanceOf[BoundReference])
      s"${c.value}" else s"(${c.isNull} ? null : ${c.value})"
    val call = s"graft.functions.CoerceKernels.${kernel.method}"
    val jt = CodeGenerator.javaType(dataType)
    if (primitive) {
      val slotClass = classOf[CoerceSlot].getName
      val slot = ctx.addMutableState(slotClass, "coerceSlot",
        v => s"$v = new $slotClass();", forceInline = true)
      ev.copy(code = code"""${c.code}
        |$jt ${ev.value} = $call($in, $slot);""".stripMargin,
        isNull = JavaCode.isNullExpression(s"$slot.isNull()"))
    } else {
      ev.copy(code = code"""${c.code}
        |$jt ${ev.value} = $call($in);""".stripMargin,
        isNull = JavaCode.isNullExpression(s"(${ev.value} == null)"))
    }
  }

  override protected def withNewChildInternal(
      newChild: Expression): CoerceCell = copy(child = newChild)
}

object CoerceCell {
  /** A non-string input is read as its string form (the cast is dropped by
    * the optimizer when the input already is a string). */
  def apply(c: Column, kernel: CoerceKernel): Column = GraftSqlBridge.column(
    CoerceCell(GraftSqlBridge.expression(c.cast("string")), kernel))
}
