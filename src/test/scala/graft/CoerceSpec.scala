package graft

import java.nio.file.Files

import graft.functions.Coerce
import graft.schema.SchemaRegistry
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The coercion kernels against the expression trees they replace, and the
  * generated-code size of every builtin DataType's coerce stage. */
class CoerceSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  /** The previous `Coerce`: one nested Catalyst tree per cell (trim → lower
    * → null-token `when` → `coalesce(try_cast, regexp_extract → try_cast)`),
    * kept here as the reference model the kernels must agree with. */
  private object TreeModel {
    private def nullTokens(c: Column): Column =
      when(c.isNull || lower(c) === "null", lit(null)).otherwise(c)

    def asLong(c: Column): Column = {
      val cleaned = nullTokens(trim(c))
      coalesce(
        cleaned.try_cast("long"),
        regexp_extract(cleaned, "^[-+]?\\d+", 0).try_cast("long"))
    }

    def asInt(c: Column): Column = asLong(c).try_cast("int")

    def asDouble(c: Column): Column = {
      val cleaned = nullTokens(trim(c))
      coalesce(
        cleaned.try_cast("double"),
        regexp_extract(cleaned, "^[-+]?(\\d+\\.?\\d*|\\.\\d+)([eE][-+]?\\d+)?", 0)
          .try_cast("double"))
    }

    def asFloat(c: Column): Column = asDouble(c).try_cast("float")

    def asBoolean(c: Column): Column = {
      val cleaned = lower(trim(nullTokens(c)))
      when(cleaned === "true", lit(true))
        .when(cleaned === "false", lit(false))
        .otherwise(lit(null).cast("boolean"))
    }

    def asString(c: Column): Column =
      regexp_replace(nullTokens(c), "\r\n", " ")

    def asTimestamp(c: Column): Column =
      nullTokens(trim(c)).try_cast("timestamp")

    def asJson(c: Column): Column = nullTokens(c)
  }

  private val pairs: Seq[(String, Column => Column, Column => Column)] = Seq(
    ("long", TreeModel.asLong, Coerce.asLong),
    ("int", TreeModel.asInt, Coerce.asInt),
    ("double", TreeModel.asDouble, Coerce.asDouble),
    ("float", TreeModel.asFloat, Coerce.asFloat),
    ("boolean", TreeModel.asBoolean, Coerce.asBoolean),
    ("string", TreeModel.asString, Coerce.asString),
    ("timestamp", TreeModel.asTimestamp, Coerce.asTimestamp),
    ("json", TreeModel.asJson,
      c => Coerce.forType(graft.schema.SeqType.SJson, c)))

  private val hostile: Seq[String] = Seq(
    null, "null", "NULL", "nUlL", " null ", "null\t", "nul", "nulll",
    "-", "", " ", "  ", "\t", "\t12\t", "\u0000", "\u00007", "7\u0000",
    "\u007f12", "12\u007f", "\u001f5", " 12", "12 ", "é", "ü12",
    "１２", "٣", "ǅ", " ", "+12", "-12", "+-12", "--1", "12.7", "-12.7",
    "42abc", ".5", "-.5", "5.", "-5.", ".", "-.", "+.e1", "1e3", "1E+3",
    "1e-3x", "1e", "1e+", "1ed", "1.e5", "0x1p3", "-0x1P3", "0x10", "0xg",
    "0X1.8p1", "1d", "1.5f", "2F", "1D ", "1f\t", "Infinity", "-Infinity",
    "+Infinity", "infinity", "INF", "inf", "-inf", "+inf", "-INFINITY",
    "NaN", "nan", "-NaN", "+nan", "NAN", "in", "nanx", "Infinityx", "-0",
    "+0", "-0.0", "0.0", "00012", "9223372036854775807",
    "9223372036854775808", "-9223372036854775808", "-9223372036854775809",
    "99999999999999999999", "99999999999999999999abc", "2147483647",
    "2147483648", "-2147483648", "-2147483649", "3e38", "3.5e38", "1e39",
    "-1e39", "1e-46", "1e308", "1e309", "4.9e-324", "123456789012345678",
    "0.1", "0.30000000000000004", "1.7976931348623157e308", "true", "TRUE",
    " false ", "False", "\ttrue", "truex", "yes", "1", "0", "a\r\nb",
    "\r\n", "a\r\r\nb", "a\n\rb", "\r\n\r\n", "x\r", "\nx", " a\r\nnull ",
    "2024-01-02 03:04:05", " 2024-01-02T03:04:05Z ", "2024-13-01",
    "2024-02-30", "2024-01-02", "1700000000", "null\r\n", "\"quoted\"")

  /** Random tokens: one to four pieces, each a fragment the kernels treat
    * specially. */
  private def generated(n: Int, seed: Long): Seq[String] = {
    val pieces = Array("", " ", "\t", "\u0000", "\u007f", "-", "+", ".", "e",
      "E", "x", "p", "d", "f", "0", "1", "7", "42", "999999999999",
      "2147483648", "null", "NULL", "nan", "inf", "Infinity", "NaN", "true",
      "FALSE", "abc", "\r\n", "\r", "\n", "é", " ", "１", "2024-01-02",
      " 03:04:05")
    val r = new scala.util.Random(seed)
    Seq.fill(n) {
      Seq.fill(1 + r.nextInt(4))(pieces(r.nextInt(pieces.length))).mkString
    }
  }

  /** A value in a form that tells -0.0 from 0.0 and any NaN from a number. */
  private def canon(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case f: Float => java.lang.Float.floatToIntBits(f)
    case other => other
  }

  private def tokenFrame(tokens: Seq[String]): DataFrame = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_coerce_tokens").toString
    tokens.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "v")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The token column as the kernels meet it: a scan column (a bound
    * reference), a nullable composite expression (masked in generated
    * code) and a non-nullable one, whose missing values arrive as null
    * tokens (no mask, and the cell must still report NULL). */
  private val inputs: Seq[(String, Column, Boolean)] = Seq(
    ("column", col("v"), true),
    ("composite", concat(col("v"), lit("")), true),
    ("non-nullable", coalesce(col("v"), lit("null")), false))

  private def differential(mode: String, wholeStage: Boolean): Unit =
    withConfs("spark.sql.codegen.factoryMode" -> mode,
        "spark.sql.codegen.wholeStage" -> wholeStage.toString) {
      val tokens = hostile ++ generated(3000, 20261017L)
      val frame = tokenFrame(tokens)
      for ((input, v, nullable) <- inputs) {
        val in = frame.select(col("i"), v.as("v"))
        assert(in.schema("v").nullable == nullable, s"$input: ${in.schema}")
        val out = in.select(col("i") +: pairs.flatMap {
          case (name, ref, k) =>
            Seq(ref(col("v")).as(s"ref_$name"), k(col("v")).as(s"new_$name"))
        }: _*)
        val notNullable = out.schema.filter(f =>
          f.name.startsWith("new_") && !f.nullable)
        assert(notNullable.isEmpty, s"$input: non-nullable $notNullable")
        val stages = out.queryExecution.executedPlan.collect {
          case w: WholeStageCodegenExec => w
        }
        assert(stages.nonEmpty == wholeStage,
          s"$mode/$input: codegen stages $stages")
        val rows = out.collect().sortBy(_.getInt(0))
        assert(rows.length == tokens.length)
        val bad = for {
          r <- rows.toSeq
          ((name, _, _), j) <- pairs.zipWithIndex
          ref = canon(r.get(1 + 2 * j))
          got = canon(r.get(2 + 2 * j))
          if ref != got
        } yield s"$name(${tokenLiteral(tokens(r.getInt(0)))}): " +
          s"tree=$ref kernel=$got"
        assert(bad.isEmpty, s"$mode/$input: ${bad.size} mismatches\n" +
          bad.take(40).mkString("\n"))
      }
    }

  private def tokenLiteral(t: String): String =
    if (t == null) "null"
    else t.flatMap {
      case c if c < ' ' || c == '\u007f' || c > '~' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  test("kernels agree with the expression trees: whole-stage codegen") {
    differential("CODEGEN_ONLY", wholeStage = true)
  }

  test("kernels agree with the expression trees: interpreted") {
    differential("NO_CODEGEN", wholeStage = false)
  }

  test("a non-string input is read as its string form") {
    val in = tokenFrame(Seq("1", "2")).select(col("i"), col("i") * 1.5 as "d")
    val out = in.select(TreeModel.asLong(col("i")), Coerce.asLong(col("i")),
      TreeModel.asDouble(col("d")), Coerce.asDouble(col("d")),
      TreeModel.asString(col("d")), Coerce.asString(col("d"))).collect()
    assert(out.forall(r => r.get(0) == r.get(1) && r.get(2) == r.get(3) &&
      r.get(4) == r.get(5)), out.toSeq)
  }

  test("coerce stage of every builtin DataType stays JIT-compilable") {
    // HotSpot does not JIT-compile a method whose bytecode exceeds 8000
    // bytes (-XX:+DontCompileHugeMethods, the default); a stage over it
    // runs in the bytecode interpreter for the whole job.
    val sizes = SchemaRegistry.builtins.toSeq.sortBy(_._1).map {
      case (name, schema) =>
        val dir = Files.createTempDirectory(s"graft_coerce_$name")
        Files.writeString(dir.resolve("one.csv"),
          Seq.fill(schema.fields.length)("1").mkString(",") + "\n")
        val df = Coerce(spark.read.schema(schema.rawSchema)
          .csv(dir.toString), schema)
        val stages = df.queryExecution.executedPlan.collect {
          case w: WholeStageCodegenExec => w
        }
        name -> stages.map { w =>
          CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize
        }.maxOption
    }.toMap
    // 126 columns exceed spark.sql.codegen.maxFields (100): that stage is
    // not whole-stage codegen'd at all
    assert(sizes("CostDemoAWS").isEmpty)
    val compiled = sizes.collect { case (n, Some(b)) => n -> b }
    assert(compiled.size == SchemaRegistry.builtins.size - 1, sizes)
    info(compiled.toSeq.sorted.map { case (n, b) => s"$n $b" }
      .mkString("max method bytes: ", ", ", ""))
    val huge = compiled.filter(_._2 > 8000)
    assert(huge.isEmpty, s"generated methods over 8000 bytes: $huge " +
      s"(all: $compiled)")
  }
}
