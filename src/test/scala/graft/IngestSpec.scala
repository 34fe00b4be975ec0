package graft

import java.nio.file.{Files, Paths}

import graft.schema.SchemaRegistry
import graft.sources.IngestReader
import org.scalatest.funsuite.AnyFunSuite

/** Golden-row ingest tests using the reference's own SSM sample data
  * (FIXTURES.md §A golden rows; Logverz-Engine.json:1653-1744). */
class IngestSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def tmpFile(name: String, content: String): String = {
    val dir = Files.createTempDirectory("graft_ingest_spec")
    val p = dir.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  test("VPCFlow sample row: space-CSV with header, '-' → NULL in numerics") {
    val header = SchemaRegistry.vpcFlow.fields.map(_.name).mkString(" ")
    val row = "5 123456789012 eni-1235b8ca123456789 52.95.128.179 10.0.0.71 " +
      "80 34210 6 14 15044 1616729292 1616729349 ACCEPT OK vpc-abcdefab012345678 " +
      "subnet-aaaaaaaa012345678 i-01234567890123456 19 IPv4 52.95.128.179 " +
      "10.0.0.71 ap-southeast-2 apse2-az3 - - S3 - ingress -"
    val path = tmpFile("vpc.log", s"$header\n$row\n")
    val df = IngestReader.csv(spark, SchemaRegistry.vpcFlow, path)
    val r = df.collect()(0)
    assert(r.getAs[Int]("version") == 5)
    assert(r.getAs[Long]("account-id") == 123456789012L)
    assert(r.getAs[Long]("bytes") == 15044L)
    assert(r.getAs[String]("action") == "ACCEPT")
    // '-' tokens in numeric traffic-path → NULL (FIXTURES coercion case)
    assert(r.isNullAt(r.fieldIndex("traffic-path")))
    assert(r.getAs[String]("pkt-src-aws-service") == "S3")
    assert(r.getAs[String]("flow-direction") == "ingress")
  }

  test("header CSV binds by name: permuted column order, missing → null") {
    // The reference zips Papa-Parse objects onto the schema by header
    // name, not position — a file with reordered columns must still land
    // values correctly, and a declared column absent from the file is null.
    val fields = SchemaRegistry.vpcFlow.fields.map(_.name)
    val permuted = fields.reverse.filterNot(_ == "flow-direction")
    val valuesByName = Map(
      "version" -> "5", "account-id" -> "123456789012", "bytes" -> "15044",
      "action" -> "ACCEPT")
    val row = permuted.map(f => valuesByName.getOrElse(f, "-")).mkString(" ")
    val path = tmpFile("vpc_permuted.log",
      s"${permuted.mkString(" ")}\n$row\n")
    val r = IngestReader.csv(spark, SchemaRegistry.vpcFlow, path).collect()(0)
    assert(r.getAs[Int]("version") == 5)
    assert(r.getAs[Long]("account-id") == 123456789012L)
    assert(r.getAs[Long]("bytes") == 15044L)
    assert(r.getAs[String]("action") == "ACCEPT")
    assert(r.isNullAt(r.fieldIndex("flow-direction"))) // not in the file
  }

  test("ClassicLB sample row: headerless space-CSV with quoted request") {
    val row = "2015-05-13T23:39:43.945958Z my-loadbalancer " +
      "192.168.131.39:2817 10.0.0.1:80 0.000073 0.001048 0.000057 200 200 " +
      "0 29 \"GET http://www.example.com:80/ HTTP/1.1\" \"curl/7.38.0\" - -"
    val path = tmpFile("elb.log", row + "\n")
    val df = IngestReader.csv(spark, SchemaRegistry.classicLB, path)
    val r = df.collect()(0)
    assert(r.getAs[String]("elb") == "my-loadbalancer")
    assert(r.getAs[Double]("request_processing_time") == 0.000073)
    assert(r.getAs[Int]("elb_status_code") == 200)
    assert(r.getAs[Long]("sent_bytes") == 29L)
    assert(r.getAs[String]("request") == "GET http://www.example.com:80/ HTTP/1.1")
    assert(r.getAs[String]("user_agent") == "curl/7.38.0")
    assert(r.isNullAt(r.fieldIndex("ssl_cipher")) ||
      r.getAs[String]("ssl_cipher") == "-")
  }

  test("CloudTrail sample: JSON Records unnest + JSON columns as strings") {
    val doc = """{"Records":[{"eventVersion":"1.0",""" +
      """"userIdentity":{"type":"IAMUser","principalId":"EX_PRINCIPAL_ID"},""" +
      """"eventTime":"2014-03-06T21:22:54Z","eventSource":"ec2.amazonaws.com",""" +
      """"eventName":"StartInstances","awsRegion":"us-east-2",""" +
      """"sourceIPAddress":"192.0.2.64","userAgent":"ec2-api-tools 1.6.12.2",""" +
      """"requestParameters":{"instancesSet":{"items":[{"instanceId":"i-ebeaf9e2"}]}},""" +
      """"responseElements":null}]}"""
    val path = tmpFile("trail.json", doc + "\n")
    val df = IngestReader.json(spark, SchemaRegistry.cloudTrail, path)
    val r = df.collect()(0)
    assert(r.getAs[Float]("eventVersion") == 1.0f)
    assert(r.getAs[String]("eventName") == "StartInstances")
    assert(r.getAs[java.sql.Timestamp]("eventTime") != null)
    val ui = r.getAs[String]("userIdentity")
    assert(ui.contains("\"type\":\"IAMUser\""))
    assert(r.isNullAt(r.fieldIndex("errorMessage")))
  }

  test("CloudFront tab-CSV golden row through the builtin schema") {
    // The reference's SSM sample row is space-collapsed, but the declared
    // InputSerialization (and real CloudFront logs) are tab-delimited —
    // test the declared format. %20-encoded UA keeps fields atomic.
    val fields = ("4/12/2019 21:02:31 LAX1 392 192.0.2.100 GET " +
      "d111111abcdef8.cloudfront.net /index.html 200 - " +
      "\"Mozilla/5.0%20(Windows%20NT%2010.0)\" - - Hit " +
      "SOX4xwn4XV6Q4rgb7XiVGOHms_BGlTAC4KyHmureZmBNrjGdRLiNIQ== " +
      "d111111abcdef8.cloudfront.net https 23 0.001 - TLSv1.2 " +
      "ECDHE-RSA-AES128-GCM-SHA256 Hit HTTP/2.0 - - 11040 0.001 Hit " +
      "text/html 78 - -").split(" ")
    val row = fields.mkString("\t") // 33 tokens ↔ 33 declared columns
    val schema = SchemaRegistry.builtins("CloudFront")
    assert(schema.input.fieldDelimiter == "\t")
    val path = tmpFile("cf.log", row + "\n")
    val df = IngestReader.csv(spark, schema, path)
    val r = df.collect()(0)
    assert(r.getAs[Int]("sc-bytes") == 392)
    assert(r.getAs[String]("c-ip") == "192.0.2.100")
    assert(r.getAs[Int]("sc-status") == 200)
    assert(r.getAs[Double]("time-taken") == 0.001)
    assert(r.getAs[String]("cs(User-Agent)").startsWith("Mozilla/5.0"))
    assert(r.isNullAt(r.fieldIndex("cs(Referer)"))
      || r.getAs[String]("cs(Referer)") == "-")
  }

  test("corrupt CSV rows route to the ProcessingErrors-shaped side channel") {
    import graft.schema.{DataTypeSchema, FieldSpec, InputSerialization, SeqType}
    val schema = DataTypeSchema("T",
      Seq(FieldSpec("a", SeqType.SInteger), FieldSpec("b", SeqType.SDouble),
        FieldSpec("c", SeqType.SString(8))),
      InputSerialization(fieldDelimiter = ","))
    // row 2 has too many columns → corrupt; row 3 parses (dirty values are
    // a COERCION concern, not a parse error)
    val path = tmpFile("err.csv", "1,2.5,x\n9,9,9,9,TOOMANY\n-,3.5,y\n")
    val (good, errors) =
      IngestReader.csvWithErrors(spark, schema, "job1", path)
    assert(good.count() == 2)
    assert(good.where(org.apache.spark.sql.functions.col("a").isNull)
      .count() == 1) // "-" coerced to NULL, row kept
    val errs = errors.collect()
    assert(errs.length == 1)
    assert(errs(0).getAs[String]("errormessage").contains("TOOMANY"))
    assert(errs(0).getAs[String]("jobid") == "job1")
  }

  test("bucketed collect: saved table is bucketed for co-located joins") {
    import graft.jobs.CollectJob
    val dir = graft.operators.ReferenceQueries.csvFixture(spark, TestSession.sfDir)
    CollectJob.collect(spark,
      CollectJob.Spec(graft.operators.ReferenceQueries.lineitemSchema,
        Seq(dir), "lineitem_bucketed"),
      bucketBy = Some(("l_orderkey", 4)))
    try {
      val desc = spark.sql("DESCRIBE TABLE EXTENDED lineitem_bucketed")
        .collect().map(_.mkString(" ")).mkString("\n")
      assert(desc.contains("l_orderkey"))
      assert(desc.contains("Num Buckets") && desc.contains("4"))
      assert(spark.table("lineitem_bucketed").count() ==
        Tables.lineitem(spark, TestSession.sfDir).count())
    } finally spark.sql("DROP TABLE IF EXISTS lineitem_bucketed")
  }

  test("single-entry ZIP reads; multi-entry rejected") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val dir = Files.createTempDirectory("graft_zip_spec")
    def writeZip(name: String, entries: (String, String)*): String = {
      val p = dir.resolve(name)
      val zos = new ZipOutputStream(Files.newOutputStream(p))
      entries.foreach { case (n, content) =>
        zos.putNextEntry(new ZipEntry(n))
        zos.write(content.getBytes("UTF-8"))
        zos.closeEntry()
      }
      zos.close()
      p.toString
    }
    val single = writeZip("ok.zip", "log.txt" -> "a 1\nb 2\n")
    val lines = IngestReader.zipLines(spark, single).collect()
    assert(lines.map(_.getString(1)).sorted.toSeq == Seq("a 1", "b 2"))

    val multi = writeZip("bad.zip", "a.txt" -> "x", "b.txt" -> "y")
    val ex = intercept[org.apache.spark.SparkException] {
      IngestReader.zipLines(spark, multi).collect()
    }
    assert(ex.getMessage.contains("multi-entry") ||
      ex.getCause.getMessage.contains("multi-entry"))
  }

  // ---- SURVEY §1.2 dialect property fuzz ---------------------------------
  //
  // The golden-row tests above pin specific documents; this block fuzzes
  // the documented Papa-Parse + coercion semantics: random
  // InputSerialization dialects (delimiter x quote x header) x rows built
  // from the hostile pieces (embedded delimiters, quote-in-quote, CRLF
  // inside quoted fields, null tokens, "-", prefix-numeric junk). The
  // oracle is an INDEPENDENT pure-Scala restatement of the SURVEY §1.2
  // rules — not the Coerce code — serialized through an RFC 4180 writer
  // (Papa's convention: quote when needed, double embedded quotes).
  // Divergences found and fixed by this block: Spark's default escape
  // (backslash) misread doubled quotes; quoted CRLF needed multiLine.
  // Documented residual divergence: the spark.read.csv path null-pads
  // <2-field rows instead of dropping them (COVERAGE.md).

  import org.scalacheck.Gen
  import graft.schema.{DataTypeSchema, FieldSpec, InputSerialization,
    SeqType}

  /** Plain-scalacheck sample driver (scalatestplus not in the offline
    * cache) — same pattern as AuthSpec. */
  private def forAllSampled[A](ga: Gen[A], n: Int = 40)(f: A => Unit)
      : Unit = {
    val seed = org.scalacheck.rng.Seed(42L)
    Iterator.iterate(seed)(_.next).take(n).foreach { sd =>
      ga.apply(Gen.Parameters.default, sd).foreach(f)
    }
  }

  private val genDialect: Gen[(String, String, Boolean)] = for {
    sep <- Gen.oneOf(",", ";", "|", "\t")
    quote <- Gen.oneOf("\"", "'")
    header <- Gen.oneOf(true, false)
  } yield (sep, quote, header)

  /** Hostile tokens; `sep`/`quote` injected per dialect. */
  private def genToken(sep: String, quote: String): Gen[String] =
    Gen.oneOf(
      Gen.oneOf("", "-", "null", "NULL", " null ", "abc", " 42 ", "+7",
        "12abc", "1.5", "-3.25e2", ".5", "7.", "999999999999999999999",
        "true", "False", " true", "x7", "0", "-0"),
      Gen.oneOf(s"a${sep}b", s"q${quote}mid", s"${quote}lead",
        "line1\r\nline2", s"both$sep$quote\r\nx", quote + quote))

  private def genRow(sep: String, quote: String)
      : Gen[(String, String, String, String)] = for {
    s <- genToken(sep, quote); i <- genToken(sep, quote)
    d <- genToken(sep, quote); b <- genToken(sep, quote)
  } yield (s, i, d, b)

  /** RFC 4180 / Papa writer: quote iff the cell contains the delimiter,
    * the quote char, or a line break; double embedded quotes. */
  private def cell(v: String, sep: String, quote: String): String =
    if (v.contains(sep) || v.contains(quote) || v.contains("\n") ||
        v.contains("\r"))
      quote + v.replace(quote, quote + quote) + quote
    else v

  // ---- the independent §1.2 oracle (pure Scala, no Catalyst) ----
  private def oNull(t: String): Boolean = t.equalsIgnoreCase("null")
  private def oLong(raw: String): Option[Long] = {
    if (raw == null) return None
    val t = raw.trim
    if (oNull(t)) None
    else "^[-+]?\\d+".r.findFirstIn(t).flatMap { p =>
      val b = BigInt(p)
      if (b.isValidLong) Some(b.toLong) else None
    }
  }
  private def oDouble(raw: String): Option[Double] = {
    if (raw == null) return None
    val t = raw.trim
    if (oNull(t)) None
    else "^[-+]?(\\d+\\.?\\d*|\\.\\d+)([eE][-+]?\\d+)?".r
      .findFirstIn(t).map(_.toDouble)
  }
  private def oBool(raw: String): Option[Boolean] = {
    if (raw == null) return None
    val t = raw.trim.toLowerCase
    if (t == "true") Some(true)
    else if (t == "false") Some(false) else None
  }
  private def oString(raw: String): Option[String] =
    if (raw == null || oNull(raw)) None
    else Some(raw.replace("\r\n", " "))

  test("dialect fuzz: random InputSerialization x hostile rows round-trip " +
      "through read+coerce to the independent §1.2 oracle") {
    val dir = Files.createTempDirectory("graft_dialect_fuzz")
    var n = 0
    forAllSampled(for {
      d <- genDialect
      rows <- Gen.listOfN(6, genRow(d._1, d._2))
    } yield (d, rows)) { case ((sep, quote, header), rows) =>
      n += 1
      val schema = DataTypeSchema("fuzz", Seq(
        FieldSpec("rid", SeqType.SInteger), FieldSpec("s", SeqType.SString()),
        FieldSpec("i", SeqType.SBigint), FieldSpec("d", SeqType.SDouble),
        FieldSpec("b", SeqType.SBoolean)),
        InputSerialization(csvHeader = header, fieldDelimiter = sep,
          quoteCharacter = quote))
      val body = rows.zipWithIndex.map { case ((s, i, d, b), rid) =>
        Seq(rid.toString, s, i, d, b).map(cell(_, sep, quote))
          .mkString(sep)
      }
      val text = (if (header)
        Seq("rid", "s", "i", "d", "b").mkString(sep) +: body
      else body).mkString("\n") + "\n"
      val p = dir.resolve(s"f$n.csv")
      Files.writeString(p, text)
      val got = IngestReader.csv(spark, schema, p.toString)
        .collect().map(r => r.getAs[Any]("rid") -> r).toMap
      assert(got.size == rows.size,
        s"row count ${got.size} != ${rows.size} [sep=$sep quote=$quote " +
          s"header=$header]\n$text")
      rows.zipWithIndex.foreach { case ((s, i, d, b), rid) =>
        val r = got(rid)
        val ctx = s"[rid=$rid sep=$sep quote=${quote}CHAR header=$header " +
          s"raw=(${s}|${i}|${d}|${b})]"
        assert(Option(r.getAs[String]("s")) == oString(s), s"s $ctx")
        assert(Option(r.getAs[Any]("i")).map(_.asInstanceOf[Long]) ==
          oLong(i), s"i $ctx")
        assert(Option(r.getAs[Any]("d")).map(_.asInstanceOf[Double]) ==
          oDouble(d), s"d $ctx")
        assert(Option(r.getAs[Any]("b")).map(_.asInstanceOf[Boolean]) ==
          oBool(b), s"b $ctx")
      }
    }
    assert(n >= 30, s"generator exhausted early: only $n samples")
  }

  test("dialect fuzz: header binding is BY NAME — a column-shuffled file " +
      "lands every value in the declared column") {
    val dir = Files.createTempDirectory("graft_dialect_shuffle")
    var n = 0
    forAllSampled(for {
      d <- genDialect if d._3 // header mode only
      rows <- Gen.listOfN(4, genRow(d._1, d._2))
    } yield (d, rows), n = 60) { case ((sep, quote, _), rows) =>
      n += 1
      val schema = DataTypeSchema("fuzz2", Seq(
        FieldSpec("rid", SeqType.SInteger), FieldSpec("s", SeqType.SString()),
        FieldSpec("i", SeqType.SBigint), FieldSpec("d", SeqType.SDouble),
        FieldSpec("b", SeqType.SBoolean)),
        InputSerialization(csvHeader = true, fieldDelimiter = sep,
          quoteCharacter = quote))
      // file order (b, rid, d, s, i) != declared order; extra column
      // dropped, declared-but-absent column ("i" removed) -> nulls
      val hdr = Seq("b", "rid", "d", "s", "extra").mkString(sep)
      val body = rows.zipWithIndex.map { case ((s, _, d, b), rid) =>
        Seq(b, rid.toString, d, s, "junk").map(cell(_, sep, quote))
          .mkString(sep)
      }
      val p = dir.resolve(s"g$n.csv")
      Files.writeString(p, (hdr +: body).mkString("\n") + "\n")
      val got = IngestReader.csv(spark, schema, p.toString)
        .collect().map(r => r.getAs[Any]("rid") -> r).toMap
      rows.zipWithIndex.foreach { case ((s, _, d, b), rid) =>
        val r = got(rid)
        assert(Option(r.getAs[String]("s")) == oString(s))
        assert(r.isNullAt(r.fieldIndex("i")), "absent header column -> null")
        assert(Option(r.getAs[Any]("d")).map(_.asInstanceOf[Double]) ==
          oDouble(d))
        assert(Option(r.getAs[Any]("b")).map(_.asInstanceOf[Boolean]) ==
          oBool(b))
      }
    }
    assert(n >= 20, s"generator exhausted early: only $n samples")
  }

  test("JSON ingest: empty-array attribute coerces to \"\" for STRING " +
      "(worker.js 1001-1005 golden case)") {
    val p = tmpFile("ea.json",
      """{"Records":[{"k":1,"tags":[],"meta":{"a":1}},
        |{"k":2,"tags":["x","y"],"meta":{}}]}""".stripMargin
        .replace("\n", ""))
    val schema = DataTypeSchema("ea", Seq(
      FieldSpec("k", SeqType.SInteger),
      FieldSpec("tags", SeqType.SString()),
      FieldSpec("meta", SeqType.SJson)),
      InputSerialization(jsonType = true, rootElement = "Records"))
    val rows = IngestReader.json(spark, schema, p)
      .collect().map(r => (r.getAs[Int]("k"), r.getAs[String]("tags")))
      .toMap
    assert(rows(1) == "", s"empty array must coerce to empty string: " +
      s"'${rows(1)}'")
    assert(rows(2) == """["x","y"]""",
      s"non-empty array stringifies: '${rows(2)}'")
  }

  test("zipCsv drops rows with fewer than 2 split fields (worker.js " +
      "481-499 rule)") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val dir = Files.createTempDirectory("graft_zip_drop")
    val p = dir.resolve("d.zip")
    val zos = new ZipOutputStream(Files.newOutputStream(p))
    zos.putNextEntry(new ZipEntry("l.csv"))
    zos.write("1,a\nfragment\n2,b\n3,\n".getBytes("UTF-8"))
    zos.closeEntry(); zos.close()
    val schema = DataTypeSchema("zd", Seq(
      FieldSpec("k", SeqType.SInteger), FieldSpec("v", SeqType.SString())))
    val rows = IngestReader.zipCsv(spark, schema, p.toString)
      .collect().map(r => (r.getAs[Any]("k"), r.getAs[String]("v")))
    // "fragment" (1 field) dropped; "3," (2 fields, empty second) kept
    assert(rows.map(_._1).toSet == Set(1, 2, 3), rows.mkString(","))
  }

  // ---- scan packing ------------------------------------------------------
  //
  // gz and zip objects are whole units of scan work. Spark's default
  // packing charges each a 4 MB open cost, which for small log objects
  // means counting files, largest first, so the big objects shared one
  // task. The readers pack by compressed bytes instead; these tests pin
  // that on a lake of 4 large and 12 small objects per format.

  private lazy val lake = {
    import java.util.zip.{GZIPOutputStream, ZipEntry, ZipOutputStream}
    val dir = Files.createTempDirectory("graft_packing")
    val rnd = new scala.util.Random(7)
    def body(rows: Int, from: Int): Seq[(Int, String)] =
      (from until from + rows).map(k => (k, rnd.alphanumeric.take(16).mkString))
    def gz(name: String, text: String): String = {
      val p = dir.resolve(name)
      val out = new GZIPOutputStream(Files.newOutputStream(p))
      out.write(text.getBytes("UTF-8")); out.close()
      p.toString
    }
    def zip(name: String, text: String): String = {
      val p = dir.resolve(name)
      val out = new ZipOutputStream(Files.newOutputStream(p))
      out.putNextEntry(new ZipEntry("log.csv"))
      out.write(text.getBytes("UTF-8")); out.closeEntry(); out.close()
      p.toString
    }
    val sizes = Seq.fill(4)(6000) ++ Seq.fill(12)(100)
    val objects = sizes.zipWithIndex.map { case (n, i) =>
      val rows = body(n, i * 10000)
      val lines = rows.map { case (k, v) => s"$k,$v" }
      // one over-long row per CSV object: a parse error for csvWithErrors
      val csvText = ("k,v" +: lines :+ s"$i,x,y,TOOMANY").mkString("\n") + "\n"
      val jsonText = rows.map { case (k, v) => s"""{"k":$k,"v":"$v"}""" }
        .mkString("\n") + "\n"
      (gz(s"o$i.csv.gz", csvText), gz(s"o$i.json.gz", jsonText),
        zip(s"o$i.zip", lines.mkString("\n") + "\n"))
    }
    (objects.map(_._1), objects.map(_._2), objects.map(_._3))
  }

  private val packSchema = {
    import graft.schema.{DataTypeSchema, FieldSpec, InputSerialization,
      SeqType}
    DataTypeSchema("pack", Seq(FieldSpec("k", SeqType.SBigint),
      FieldSpec("v", SeqType.SString())), InputSerialization(csvHeader = true))
  }

  /** Rows as a multiset of printed cells. */
  private def bag(df: org.apache.spark.sql.DataFrame): Map[Seq[String], Int] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf))
      .groupBy(identity).map { case (r, rs) => r -> rs.size }

  /** Asserts the packing contract of one reader call: every object is
    * read whole by one task, the 4 large objects (the first 4 paths) run
    * in 4 distinct tasks, the frame lives in the caller's session, and the
    * caller's open cost is untouched. `placed` is the reader's output as
    * (spark_partition_id, file) rows. */
  private def assertPacked(paths: Seq[String],
      df: org.apache.spark.sql.DataFrame,
      placed: org.apache.spark.sql.DataFrame, openCostBefore: String): Unit = {
    val byFile = placed.distinct().collect().toSeq
      .groupBy(r => new java.io.File(new java.net.URI(r.getString(1))).getPath)
      .map { case (f, rs) => f -> rs.map(_.getInt(0)) }
    assert(df.sparkSession eq spark, "frame must be in the caller's session")
    assert(spark.conf.get("spark.sql.files.openCostInBytes") == openCostBefore)
    assert(byFile.keySet == paths.toSet, byFile.keySet)
    byFile.foreach { case (f, ps) =>
      assert(ps.size == 1, s"$f split across tasks $ps") }
    val large = paths.take(4).map(byFile(_).head)
    assert(large.distinct.size == 4,
      s"large objects share tasks: ${paths.take(4).zip(large)}")
  }

  test("csv packs whole gz objects by bytes: the 4 large objects land in " +
      "4 tasks, rows equal a plain read") {
    import org.apache.spark.sql.functions.{input_file_name, spark_partition_id}
    val paths = lake._1
    val openCost = spark.conf.get("spark.sql.files.openCostInBytes")
    val df = IngestReader.csv(spark, packSchema, paths: _*)
    assertPacked(paths, df,
      df.select(spark_partition_id(), input_file_name()), openCost)
    val plain = spark.read.option("header", true).option("multiLine", true)
      .csv(paths: _*)
    assert(bag(df) == bag(plain))
  }

  test("json packs whole gz objects by bytes, inference pass included") {
    import org.apache.spark.sql.functions.{input_file_name, spark_partition_id}
    import graft.schema.InputSerialization
    val paths = lake._2
    val schema = packSchema.copy(input = InputSerialization(jsonType = true))
    val openCost = spark.conf.get("spark.sql.files.openCostInBytes")
    val df = IngestReader.json(spark, schema, paths: _*)
    assertPacked(paths, df,
      df.select(spark_partition_id(), input_file_name()), openCost)
    assert(bag(df) == bag(spark.read.json(paths: _*).select("k", "v")))
  }

  test("zipCsv packs whole zip objects by bytes") {
    import org.apache.spark.sql.functions.{input_file_name, spark_partition_id}
    import graft.schema.InputSerialization
    val paths = lake._3
    val schema = packSchema.copy(input = InputSerialization(compression = "ZIP"))
    val openCost = spark.conf.get("spark.sql.files.openCostInBytes")
    val df = IngestReader.zipCsv(spark, schema, paths: _*)
    assertPacked(paths, df,
      df.select(spark_partition_id(), input_file_name()), openCost)
    val plain = spark.read.format("binaryFile").load(paths: _*)
      .collect().toSeq.flatMap { r =>
        val zis = new java.util.zip.ZipInputStream(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("content")))
        zis.getNextEntry
        new String(zis.readAllBytes(), "UTF-8").split("\n").toSeq
          .map(_.split(",").toSeq)
      }
    assert(bag(df) == plain.groupBy(identity).map { case (r, rs) =>
      r -> rs.size })
  }

  test("csvWithErrors packs whole gz objects by bytes; error rows keep " +
      "their object's path") {
    import org.apache.spark.sql.functions.{col, spark_partition_id}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val paths = lake._1
    val openCost = spark.conf.get("spark.sql.files.openCostInBytes")
    val (good, errors) =
      IngestReader.csvWithErrors(spark, packSchema, "job", paths: _*)
    // each object holds one parse error, so the error rows place every
    // object in its task (the good rows are read back from the cache,
    // where input_file_name is empty)
    assertPacked(paths, good,
      errors.select(spark_partition_id(), col("path")), openCost)
    assert(errors.count() == paths.size)
    val plain = spark.read.option("header", true).option("multiLine", true)
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(StructType(packSchema.rawSchema.fields :+
        StructField("_corrupt_record", StringType)))
      .csv(paths: _*)
    assert(bag(good) == bag(plain.where(col("_corrupt_record").isNull)
      .drop("_corrupt_record")))
  }

  test("a non-newline RecordDelimiter parses alike on the csv and " +
      "csvWithErrors paths") {
    import graft.schema.{DataTypeSchema, FieldSpec, InputSerialization,
      SeqType}
    val schema = DataTypeSchema("semi", Seq(FieldSpec("k", SeqType.SInteger),
      FieldSpec("v", SeqType.SString())),
      InputSerialization(csvHeader = true, recordDelimiter = ";"))
    val p = tmpFile("semi.csv", "k,v;1,a;2,b;3,c;")
    val want = Map(Seq("1", "a") -> 1, Seq("2", "b") -> 1, Seq("3", "c") -> 1)
    assert(bag(IngestReader.csv(spark, schema, p)) == want)
    val (good, errors) = IngestReader.csvWithErrors(spark, schema, "job", p)
    assert(bag(good) == want)
    assert(errors.count() == 0)
  }

  test("a splittable object smaller than the task count reads") {
    // byte packing must keep the split size above 0: a 3-byte JSON-lines
    // object over 4 cores is under one byte per core
    import graft.schema.InputSerialization
    val p = tmpFile("tiny.json", "{}\n")
    val schema = packSchema.copy(input = InputSerialization(jsonType = true))
    assert(IngestReader.json(spark, schema, p).count() ==
      spark.read.json(p).count())
  }
}
