package graft.functions

import graft.schema.{DataTypeSchema, SeqType}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Schema-driven type-coercion layer — the reference's only scalar
  * "expression engine" (reference sources/worker/worker.js:911-1011),
  * re-expressed as one `select` with one small Catalyst expression per
  * cell ([[CoerceCell]]). Each cell's generated code is a single call into
  * [[CoerceKernels]], ordinary JIT-compiled code that runs the whole
  * coercion of one value. An ingest stage over a wide schema therefore
  * stays under HotSpot's 8000-byte limit for JIT-compiling a method. An
  * inlined tree of trim/lower/when/coalesce/try_cast/regexp_extract per
  * cell put 6 of the 10 builtin DataTypes' stages at 10-58 KB, and those
  * stages ran interpreted for the whole job (`CoerceSpec` guards the size
  * for every builtin DataType).
  *
  * Faithful semantics (FIXTURES.md "coercion golden cases"):
  *  - `null`, `"null"`, `"NULL"` (any case), missing → SQL NULL, any type
  *    (worker.js:947-949);
  *  - INTEGER/BIGINT: JS `parseInt` semantics — leading numeric prefix parsed,
  *    `"-"`/`""`/non-numeric → NULL (worker.js:951-968); a value outside
  *    the column's range → NULL;
  *  - FLOAT/DOUBLE: JS `parseFloat` semantics, same null rules
  *    (worker.js:979-995), after Spark's own string→double cast (so `1d`,
  *    `0x1p3`, `Infinity`, `-inf`, `NaN` read as Spark reads them);
  *  - BOOLEAN: the *intended* semantics — "true"→true, "false"→false, else
  *    NULL. (The reference's `indexOf`-based test is order-dependent and
  *    arguably buggy, worker.js:969-978; we implement the intent and document
  *    the deviation here.)
  *  - STRING/TEXT: CRLF collapsed to a space (worker.js:996-1000);
  *  - DATE: ISO-ish timestamp parse, unparseable → NULL;
  *  - JSON: kept as the raw string (queryable via from_json downstream).
  * Numeric and boolean tokens are trimmed of spaces only, as Spark's
  * `trim` does; strings and JSON are not trimmed.
  */
object Coerce {

  def asLong(c: Column): Column = CoerceCell(c, CoerceKernel.ToLong)

  def asInt(c: Column): Column = CoerceCell(c, CoerceKernel.ToInt)

  def asDouble(c: Column): Column = CoerceCell(c, CoerceKernel.ToDouble)

  def asFloat(c: Column): Column = CoerceCell(c, CoerceKernel.ToFloat)

  def asBoolean(c: Column): Column = CoerceCell(c, CoerceKernel.ToBool)

  def asString(c: Column): Column = CoerceCell(c, CoerceKernel.ToStr)

  def asTimestamp(c: Column): Column =
    CoerceCell(c, CoerceKernel.ToTrimmed).try_cast("timestamp")

  def forType(t: SeqType, c: Column): Column = t match {
    case SeqType.SInteger => asInt(c)
    case SeqType.SBigint => asLong(c)
    case SeqType.SFloat => asFloat(c)
    case SeqType.SDouble => asDouble(c)
    case SeqType.SBoolean => asBoolean(c)
    case SeqType.SDate => asTimestamp(c)
    case SeqType.SString(_) | SeqType.SText => asString(c)
    case SeqType.SJson =>
      CoerceCell(c, CoerceKernel.ToJson) // opaque JSON string
  }

  /** Apply the coercion pass: all-string parsed batch → typed DataFrame.
    * One narrow projection — no shuffle, codegen-friendly, scale-free. */
  def apply(df: DataFrame, schema: DataTypeSchema): DataFrame = {
    val cols = schema.fields.map { f =>
      val in = if (df.columns.contains(f.name)) col(f.name)
               else lit(null).cast("string")
      forType(f.stype, in).as(f.name)
    }
    df.select(cols: _*)
  }
}
