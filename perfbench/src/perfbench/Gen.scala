package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.zip.{GZIPOutputStream, ZipEntry, ZipOutputStream}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed gives byte-identical inputs; the
  * generators also return the ground truth the checks compare against, so
  * no expected value is computed by the program under test. */
object Gen {

  // ---- registry-board tables (TESTDATA.md's sf0.01 star schema) ---------

  private val Vocab = ("key agg row scan slow fast table value part hash merge batch spark " +
    "the line sort window data column join small customer query order group stream " +
    "filter big vector a").split(" ")

  /** The ten board tables at sf0.01 sizes and value ranges (TESTDATA.md),
    * one parquet file each; timestamps are written without time zone. */
  def boardTables(spark: SparkSession, seed: Long, dir: File): Unit = {
    val r = new SplittableRandom(seed * 7919L + 1)
    val day0 = java.time.LocalDateTime.of(1995, 1, 1, 0, 0)
    // one parquet FILE per table, as the queries expect (streaming twins
    // watch the directory with a `<table>.parquet` glob); rows are drawn in
    // order, the files written concurrently
    val writes = scala.collection.mutable.ArrayBuffer.empty[java.util.concurrent.Future[_]]
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      writes += pool.submit((() => writeFile(name, schema, rows)): Runnable)
    def writeFile(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val tmp = new File(dir, s".$name.tmp")
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val target = new File(dir, s"$name.parquet")
      Util.rm(target)
      java.nio.file.Files.move(part.toPath, target.toPath)
      Util.rm(tmp)
    }
    def f(n: String, t: DataType) = StructField(n, t)
    def money(lo: Double, hi: Double) = math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))
    write("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until 1500).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(-999.99, 9999.99), segs(r.nextInt(5)))))
    write("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until 100).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        money(-999.99, 9999.99))))
    val adj = Seq("blue", "hot", "small", "old", "cold", "red", "new", "large")
    val noun = Seq("bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo")
    val types = Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    val price = (0 until 2000).map(i => 900.0 + (i % 1000) / 10.0)
    write("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until 2000).map(i => Row(i.toLong, s"${adj(r.nextInt(8))} ${noun(r.nextInt(8))}",
        s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(6)), 1 + r.nextInt(50), price(i))))
    val prio = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    write("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until 15000).map(i => Row(i.toLong, r.nextInt(1500).toLong, "OFP".charAt(r.nextInt(3)).toString,
        money(1000, 500000), day0.plusDays(r.nextInt(2404)), prio(r.nextInt(5)))))
    val flags = Seq(("A", "F"), ("A", "O"), ("N", "F"), ("N", "O"), ("R", "F"), ("R", "O"))
    write("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))),
      (0 until 60000).map { _ =>
        val pk = r.nextInt(2000)
        val q = 1 + r.nextInt(50)
        val (rf, ls) = flags(r.nextInt(6))
        Row(r.nextInt(15000).toLong, pk.toLong, r.nextInt(100).toLong, 1 + r.nextInt(7),
          q.toDouble, math.round(q * price(pk) * (0.9 + r.nextDouble() * 0.2) * 100) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, rf, ls, day0.plusDays(1 + r.nextInt(2499)))
      })
    val evTypes = Seq("click", "view", "purchase", "signup", "error")
    var ts = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    write("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until 10000).map { i =>
        ts = ts.plusNanos((-math.log(1 - r.nextDouble()) * 259.0 * 1e6).toLong * 1000L)
        Row(i.toLong, ts, r.nextInt(150).toLong, evTypes(r.nextInt(5)),
          math.round(-math.log(1 - r.nextDouble()) * 5000) / 100.0 + 0.01,
          s"""{"k": ${r.nextInt(100)}}""")
      })
    val langs = Seq("en", "en", "en", "en", "fr", "es", "zh", "de")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 500).foreach { _ =>
      val t =
        if (texts.nonEmpty && r.nextInt(10) == 0) { // near-duplicate of an earlier doc
          val w = texts(r.nextInt(texts.size)).split(" ")
          w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.length))
          w.mkString(" ")
        } else Seq.fill(8 + r.nextInt(80))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
      texts += t
    }
    write("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      texts.indices.map(i => Row(i.toLong, texts(i), langs(r.nextInt(langs.size)),
        s"src${r.nextInt(20)}", texts(i).length.toLong)))
    val centers = Array.fill(10, 64)(r.nextDouble() * 2 - 1)
    write("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
      (0 until 500).map { i =>
        val label = r.nextInt(10)
        val v = centers(label).map(c => c + (r.nextDouble() * 2 - 1) * 0.6)
        val n = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, label)
      })
    try writes.foreach(_.get()) finally pool.shutdown()
  }

  // ---- the log lake ------------------------------------------------------

  /** Ground truth of one lake DataType: rows, planted dirty tokens, rows the
    * selective WHERE keeps, and per-column aggregates after coercion. */
  final case class Truth(rows: Long, dirty: Long, whereRows: Long,
      sums: Map[String, Double], nonNull: Map[String, Long], whereSum: Double)

  /** One generated object: path, row count, compressed bytes, planted
    * dirty tokens. */
  final case class Obj(path: File, rows: Int, bytes: Long, dirty: Long)

  /** Coerced values of the generated rows the interactive checks use:
    * VPC flow (srcaddr, dstport, action, packets), ALB (status, sent_bytes). */
  final case class VpcRec(srcaddr: String, dstport: Option[Long], action: String, packets: Option[Long])
  final case class AlbRec(status: Int, sent: Option[Long])

  final case class Lake(root: File, objects: Map[String, Seq[Obj]], truth: Map[String, Truth],
      vpcRecs: IndexedSeq[VpcRec], albRecs: IndexedSeq[AlbRec]) {
    def bytes(kind: String): Long = objects(kind).map(_.bytes).sum
    def rows(kind: String): Long = truth(kind).rows
  }

  /** Sizes of one lake: (large objects, rows each, small objects, rows each)
    * per DataType, and the planted dirty-token share of numeric cells. */
  final case class LakeShape(vpc: (Int, Int, Int, Int), alb: (Int, Int, Int, Int),
      trail: (Int, Int, Int, Int), zip: (Int, Int, Int, Int), dirtyShare: Double)

  val Kinds = Seq("vpcflow", "alb", "cloudtrail", "zip")

  /** Selective WHERE per DataType, in the reference's S3-Select dialect. */
  val Where: Map[String, String] = Map(
    "vpcflow" -> "SELECT * FROM S3Object[*].Records[*] s WHERE s.dstport = 5432",
    "alb" -> "SELECT * FROM S3Object[*].Records[*] s WHERE s.elb_status_code >= 500",
    "cloudtrail" -> "SELECT * FROM S3Object[*].Records[*] s WHERE s.errorCode = 'AccessDenied'",
    "zip" -> "SELECT * FROM S3Object[*].Records[*] s WHERE s.action = 'REJECT' AND s.protocol = 17")

  /** Column whose coerced sum every check compares, per DataType. */
  val SumCol: Map[String, String] = Map("vpcflow" -> "packets", "alb" -> "sent_bytes",
    "cloudtrail" -> "eventVersion", "zip" -> "bytes")

  private val regions = Seq("us-east-1", "eu-west-1", "ap-south-1")

  /** A column value with the planted dirty tokens of the reference's logs:
    * `-` (no data), `NULL`, or a numeric prefix the coercion must parse. */
  private final class Dirt(r: SplittableRandom, share: Double) {
    var planted = 0L
    /** Returns (token written, coerced value or None). */
    def num(v: Long): (String, Option[Long]) =
      if (r.nextDouble() >= share) (v.toString, Some(v))
      else {
        planted += 1
        r.nextInt(3) match {
          case 0 => ("-", None)
          case 1 => ("NULL", None)
          case _ => (s"${v}x", Some(v))
        }
      }
  }

  private def gzipWriter(f: File) = {
    f.getParentFile.mkdirs()
    new OutputStreamWriter(new GZIPOutputStream(new BufferedOutputStream(
      new FileOutputStream(f), 1 << 16), 1 << 16), UTF_8)
  }

  private def ip(r: SplittableRandom, zipf: Zipf) = s"10.0.${zipf.next(r) % 256}.${r.nextInt(256)}"

  /** Bounded Zipf sampler over [0, n) with exponent s (inverse CDF). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private val ports = Array(22, 80, 443, 3306, 5432, 8080, 53, 123)

  /** VPC flow record fields (29, schema order) and its coerced values of
    * the checked columns. */
  private def vpcRow(r: SplittableRandom, d: Dirt, z: Zipf, t0: Long)
      : (Seq[String], Option[Long], Option[Long], String, Option[Long]) = {
    val (dport, dportV) = d.num(ports(z.next(r) % ports.length).toLong)
    val (pk, pkV) = d.num(1L + r.nextInt(500))
    val (by, byV) = d.num(40L + r.nextInt(200000))
    val proto = if (r.nextInt(4) == 0) 17 else 6
    val action = if (r.nextInt(5) == 0) "REJECT" else "ACCEPT"
    val start = t0 + r.nextInt(3600)
    val fields = Seq("5", "123456789012", s"eni-${z.next(r)}", ip(r, z), ip(r, z),
      (1024 + r.nextInt(60000)).toString, dport, proto.toString, pk, by,
      start.toString, (start + 60).toString, action, "OK", "vpc-1a2b3c", "subnet-9f8e",
      s"i-0${r.nextInt(50)}", "2", "IPv4", ip(r, z), ip(r, z), regions(r.nextInt(3)), "use1-az1",
      "-", "-", "-", "-", if (r.nextBoolean()) "ingress" else "egress", "1")
    (fields, dportV, pkV, action + "/" + proto, byV)
  }

  /** What generating one object found: its ground-truth share and the
    * coerced records the interactive checks use. */
  private final case class Part(obj: Obj, whereRows: Long, sum: Double,
      nonNull: Long, whereSum: Double, vpc: Seq[VpcRec], alb: Seq[AlbRec])

  /** Generate the lake under `root`: per DataType a folder tree
    * `<kind>/<region>/<day>/` that FolderWalk descends, a few large objects
    * and many small ones. Every object draws from its own seeded stream, so
    * the objects are written in parallel and the lake is the same for a
    * seed whatever the thread timing; the parts merge in object order. */
  def lake(seed: Long, root: File, shape: LakeShape): Lake = {
    def layout(kind: String, spec: (Int, Int, Int, Int), ext: String): Seq[(File, Int)] = {
      val (nl, rl, ns, rs) = spec
      (0 until nl + ns).map { i =>
        val dir = new File(root, s"$kind/${regions(i % 3)}/2024-01-${"%02d".format(1 + i % 4)}")
        (new File(dir, f"$kind-$i%04d.$ext"), if (i < nl) rl else rs)
      }
    }
    def rnd(kind: Int, obj: Int) = new SplittableRandom((seed * 31 + kind) * 1000003L + obj)
    val z400 = new Zipf(400, 1.1)
    val z200 = new Zipf(200, 1.1)

    // VPC flow: gzip CSV, space-delimited, with a header row
    val vpcHeader = graft.schema.SchemaRegistry.builtins("VPCFlow").fields.map(_.name).mkString(" ")
    def vpc(i: Int, f: File, n: Int): Part = {
      val r = rnd(1, i)
      val d = new Dirt(r, shape.dirtyShare)
      val recs = Vector.newBuilder[VpcRec]
      var whereRows, nn = 0L
      var sum, whereSum = 0.0
      val w = gzipWriter(f)
      try {
        w.write(vpcHeader); w.write('\n')
        (0 until n).foreach { _ =>
          val (fs, dport, pk, _, _) = vpcRow(r, d, z400, 1704067200L)
          w.write(fs.mkString(" ")); w.write('\n')
          recs += VpcRec(fs(3), dport, fs(12), pk)
          pk.foreach { v => sum += v; nn += 1 }
          if (dport.contains(5432L)) { whereRows += 1; whereSum += pk.getOrElse(0L) }
        }
      } finally w.close()
      Part(Obj(f, n, f.length, d.planted), whereRows, sum, nn, whereSum, recs.result(), Nil)
    }

    // ApplicationLB: headerless gzip CSV, space-delimited, quoted fields
    val agents = Seq("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36",
      "curl/8.4.0", "python-requests/2.31", "Go-http-client/1.1")
    def alb(o: Int, f: File, n: Int): Part = {
      val r = rnd(2, o)
      val d = new Dirt(r, shape.dirtyShare)
      val recs = Vector.newBuilder[AlbRec]
      var whereRows, nn = 0L
      var sum, whereSum = 0.0
      val w = gzipWriter(f)
      try (0 until n).foreach { i =>
        val status = if (r.nextInt(30) == 0) 500 + r.nextInt(4) else Seq(200, 200, 200, 301, 404)(r.nextInt(5))
        val (sent, sentV) = d.num(100L + r.nextInt(90000))
        val (recv, _) = d.num(50L + r.nextInt(2000))
        val target = if (status == 503) "-" else status.toString
        val ts = f"2024-01-0${1 + i % 4}T${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d.${r.nextInt(1000000)}%06dZ"
        val fields = Seq(if (r.nextBoolean()) "https" else "http", ts, "app/my-lb/50dc6c495c0c9188",
          s"${ip(r, z400)}:${1024 + r.nextInt(60000)}", s"10.1.0.${r.nextInt(20)}:80",
          "%.3f".format(r.nextDouble() / 100), if (status == 503) "-1" else "%.3f".format(r.nextDouble()),
          "0.000", status.toString, target, recv, sent,
          "\"GET https://shop.example.com:443/item/" + z400.next(r) + "?q=" + r.nextInt(100) + " HTTP/1.1\"",
          "\"" + agents(r.nextInt(agents.size)) + "\"", "ECDHE-RSA-AES128-GCM-SHA256", "TLSv1.2",
          "arn:aws:elasticloadbalancing:us-east-1:123456789012:targetgroup/tg/73e2d6bc24d8a067",
          "\"Root=1-58337262-" + java.lang.Long.toHexString(r.nextLong()) + "\"",
          "\"shop.example.com\"", "\"arn:aws:acm:us-east-1:123456789012:certificate/12345678\"",
          "0", ts, "\"forward\"", "\"-\"", "\"-\"", s"\"10.1.0.${r.nextInt(20)}:80\"",
          "\"" + target + "\"", "\"-\"", "\"-\"")
        w.write(fields.mkString(" ")); w.write('\n')
        sentV.foreach { v => sum += v; nn += 1 }
        recs += AlbRec(status, sentV)
        if (status >= 500) { whereRows += 1; whereSum += sentV.getOrElse(0L) }
      } finally w.close()
      Part(Obj(f, n, f.length, d.planted), whereRows, sum, nn, whereSum, Nil, recs.result())
    }

    // CloudTrail: gzip JSON documents, records nested under `Records`
    val names = Seq("GetObject", "PutObject", "AssumeRole", "DescribeInstances", "ListBuckets")
    def trail(o: Int, f: File, n: Int): Part = {
      val r = rnd(3, o)
      var planted, whereRows, nn = 0L
      var sum, whereSum = 0.0
      val w = gzipWriter(f)
      try {
        w.write("{\"Records\":[")
        (0 until n).foreach { i =>
          if (i > 0) w.write(',')
          val (ver, verV) =
            if (r.nextDouble() >= shape.dirtyShare) ("1.08", Some(1.08f.toDouble))
            else {
              planted += 1
              r.nextInt(3) match {
                case 0 => ("-", None)
                case 1 => ("NULL", None)
                case _ => ("1.08beta", Some(1.08f.toDouble))
              }
            }
          val denied = r.nextInt(25) == 0
          val err = if (denied) "\"errorCode\":\"AccessDenied\",\"errorMessage\":\"not authorized\","
                    else if (r.nextInt(40) == 0) "\"errorCode\":\"ThrottlingException\","
                    else ""
          w.write(s"""{"eventVersion":"$ver","userIdentity":{"type":"IAMUser","principalId":"AID${z200.next(r)}","arn":"arn:aws:iam::123456789012:user/u${z200.next(r)}"},""" +
            f""""eventTime":"2024-01-0${1 + i % 4}T${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02dZ",""" +
            s""""eventSource":"s3.amazonaws.com","eventName":"${names(z200.next(r) % names.size)}","awsRegion":"${regions(r.nextInt(3))}",""" +
            s""""sourceIPAddress":"${ip(r, z200)}","userAgent":"aws-cli/2.15",$err""" +
            s""""requestParameters":{"bucketName":"b${z200.next(r)}","key":"k/${r.nextInt(100000)}"},"responseElements":null,""" +
            s""""requestID":"${java.lang.Long.toHexString(r.nextLong())}","eventID":"${java.util.UUID.nameUUIDFromBytes(Array.fill(8)(r.nextInt(256).toByte))}",""" +
            s""""eventType":"AwsApiCall","recipientAccountId":"123456789012","readOnly":${r.nextBoolean()},""" +
            s""""resources":[{"type":"AWS::S3::Object","ARN":"arn:aws:s3:::b/k"}]}""")
          verV.foreach { v => sum += v; nn += 1 }
          if (denied) { whereRows += 1; whereSum += verV.getOrElse(0.0) }
        }
        w.write("]}\n")
      } finally w.close()
      Part(Obj(f, n, f.length, planted), whereRows, sum, nn, whereSum, Nil, Nil)
    }

    // single-entry zip CSV: VPC flow shape, headerless
    def zip(o: Int, f: File, n: Int): Part = {
      val r = rnd(4, o)
      val d = new Dirt(r, shape.dirtyShare)
      var whereRows, nn = 0L
      var sum, whereSum = 0.0
      f.getParentFile.mkdirs()
      val zos = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(f), 1 << 16))
      try {
        val entry = new ZipEntry(f.getName.stripSuffix(".zip") + ".log")
        entry.setTime(1704153600000L) // fixed, else the bytes carry the generation time
        zos.putNextEntry(entry)
        val w = new OutputStreamWriter(zos, UTF_8)
        (0 until n).foreach { _ =>
          val (fs, _, _, actProto, byV) = vpcRow(r, d, z400, 1704153600L)
          w.write(fs.mkString(" ")); w.write('\n')
          byV.foreach { v => sum += v; nn += 1 }
          if (actProto == "REJECT/17") { whereRows += 1; whereSum += byV.getOrElse(0L) }
        }
        w.flush()
        zos.closeEntry()
      } finally zos.close()
      Part(Obj(f, n, f.length, d.planted), whereRows, sum, nn, whereSum, Nil, Nil)
    }

    val kinds: Seq[(String, (Int, Int, Int, Int), String, (Int, File, Int) => Part)] = Seq(
      ("vpcflow", shape.vpc, "log.gz", vpc), ("alb", shape.alb, "log.gz", alb),
      ("cloudtrail", shape.trail, "json.gz", trail), ("zip", shape.zip, "zip", zip))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(4, Runtime.getRuntime.availableProcessors)))
    val parts = try {
      val futures = kinds.map { case (kind, spec, ext, gen) =>
        kind -> layout(kind, spec, ext).zipWithIndex.map { case ((f, n), i) =>
          f.getParentFile.mkdirs()
          pool.submit(() => gen(i, f, n))
        }
      }
      futures.map { case (kind, fs) => kind -> fs.map(_.get()) }.toMap
    } finally pool.shutdown()
    Lake(root,
      parts.map { case (k, ps) => k -> ps.map(_.obj) },
      parts.map { case (k, ps) =>
        k -> Truth(ps.map(_.obj.rows.toLong).sum, ps.map(_.obj.dirty).sum, ps.map(_.whereRows).sum,
          Map(SumCol(k) -> ps.map(_.sum).sum), Map(SumCol(k) -> ps.map(_.nonNull).sum), ps.map(_.whereSum).sum)
      },
      parts("vpcflow").flatMap(_.vpc).toIndexedSeq, parts("alb").flatMap(_.alb).toIndexedSeq)
  }
}
