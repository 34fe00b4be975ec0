package graft

import java.nio.file.Files

import graft.jobs.CollectMain
import graft.schema.SchemaRegistry
import org.scalatest.funsuite.AnyFunSuite

class CollectMainSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def vpcCsv(rows: Int): String = {
    val dir = Files.createTempDirectory("graft_collect_main")
    val header = SchemaRegistry.vpcFlow.fields.map(_.name).mkString(" ")
    val lines = (1 to rows).map { i =>
      s"5 123456789012 eni-$i 52.95.128.179 10.0.0.$i 80 34210 6 14 " +
        s"${1000 + i} 1616729292 1616729349 ACCEPT OK vpc-1 subnet-1 i-$i " +
        "19 IPv4 52.95.128.179 10.0.0.71 ap-southeast-2 apse2-az3 - - S3 - " +
        "ingress -"
    }
    Files.writeString(dir.resolve("vpc.log"),
      (header +: lines).mkString("\n"))
    dir.toString
  }

  /** saveAsTable into the default warehouse: a dir orphaned by a previous
    * JVM (in-memory catalog, on-disk location) blocks CREATE — clear it. */
  private def dropManagedTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val loc = new java.io.File(s"spark-warehouse/$name")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(loc)
    }
  }

  test("job document runs end-to-end: builtin schema, filter, table sink") {
    dropManagedTable("vpc_main_test")
    val dir = vpcCsv(10)
    val job = s"""{
      |  "DataType": "VPCFlow",
      |  "S3Folders": ["$dir"],
      |  "DatasetName": "vpc_main_test",
      |  "QueryString": "SELECT * FROM S3Object[*] s WHERE s.bytes > 1003"
      |}""".stripMargin
    val n = CollectMain.run(spark, job)
    assert(n == 7) // bytes are 1001..1010, filter keeps 1004..1010
    assert(spark.table("vpc_main_test").count() == 7)
  }

  test("job document with JDBC sink lands rows in Derby") {
    val dir = vpcCsv(5)
    val job = s"""{
      |  "DataType": "VPCFlow",
      |  "S3Folders": ["$dir"],
      |  "DatasetName": "vpc_main_jdbc",
      |  "Sink": {"Type": "jdbc",
      |    "Url": "jdbc:derby:memory:collectmain;create=true",
      |    "Driver": "org.apache.derby.jdbc.EmbeddedDriver",
      |    "Engine": "postgres", "InstanceMemoryMb": 8000}
      |}""".stripMargin
    assert(CollectMain.run(spark, job) == 5)
  }

  test("parquet sink reports the rows it wrote") {
    val dir = vpcCsv(10)
    val out = Files.createTempDirectory("graft_collect_parquet")
      .resolve("out").toString
    val job = s"""{
      |  "DataType": "VPCFlow",
      |  "S3Folders": ["$dir"],
      |  "DatasetName": "vpc_main_parquet",
      |  "QueryString": "SELECT * FROM S3Object[*] s WHERE s.bytes > 1003",
      |  "Sink": {"Type": "parquet", "Path": "$out"}
      |}""".stripMargin
    assert(CollectMain.run(spark, job) == 7)
    assert(spark.read.parquet(out).count() == 7)
    // overwrite: a second run reports its own rows, not the sum
    assert(CollectMain.run(spark, job) == 7)
    assert(spark.read.parquet(out).count() == 7)
    assert(CollectMain.run(spark, job.replace("1003", "9999")) == 0)
    assert(spark.read.parquet(out).count() == 0)
  }

  test("unknown builtin and unknown sink fail loudly") {
    intercept[IllegalArgumentException] {
      CollectMain.run(spark,
        """{"DataType": "NoSuch", "S3Folders": [], "DatasetName": "x"}""")
    }
    val dir = vpcCsv(1)
    intercept[IllegalArgumentException] {
      CollectMain.run(spark, s"""{"DataType": "VPCFlow",
        |"S3Folders": ["$dir"], "DatasetName": "x",
        |"Sink": {"Type": "carrier-pigeon"}}""".stripMargin)
    }
  }
}
