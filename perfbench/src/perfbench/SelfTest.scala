package perfbench

import java.io.File
import java.security.MessageDigest

import org.apache.spark.sql.functions._

/** Self-test of the benchmark's own machinery (not of the program):
  *  - the same seed generates byte-identical inputs, two seeds different ones;
  *  - a seeded wrong answer makes the batch-collect checker fail;
  *  - a changed row makes the continuous-collect fingerprint differ.
  * Prints one line per case and exits non-zero if any case fails. */
object SelfTest {
  private def digest(dir: File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    Util.filesUnder(dir).filter(_.isFile).foreach { f =>
      md.update(dir.toPath.relativize(f.toPath).toString.getBytes("UTF-8"))
      md.update(java.nio.file.Files.readAllBytes(f.toPath))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val dir = new File(args(0)).getAbsoluteFile
    dir.mkdirs()
    val spark = Main.session(dir, 2)
    spark.sparkContext.setLogLevel("ERROR")
    var failures = 0
    def expect(what: String, ok: Boolean): Unit = {
      println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += 1
    }
    val shape = Gen.LakeShape((1, 300, 2, 50), (1, 300, 2, 50), (1, 50, 2, 10), (1, 300, 2, 50), 0.05)
    val a = digest(Gen.lake(1, new File(dir, "a"), shape).root)
    val a2 = digest(Gen.lake(1, new File(dir, "a2"), shape).root)
    val b = digest(Gen.lake(2, new File(dir, "b"), shape).root)
    expect("same seed, same lake bytes", a == a2)
    expect("two seeds, different lakes", a != b)
    def tablesDigest(seed: Long): Long = {
      val d = new File(dir, s"tables-$seed")
      Gen.boardTables(spark, seed, d)
      Seq("lineitem", "documents", "embeddings").map { t =>
        spark.read.parquet(new File(d, s"$t.parquet").getPath)
          .agg(sum(xxhash64(col("*")).cast("decimal(38,0)"))).head().getDecimal(0).longValue
      }.sum
    }
    expect("two seeds, different board tables", tablesDigest(1) != tablesDigest(2))

    // seeded wrong answers against the batch-collect checker
    val ctx = new Ctx(spark, 3, new File(dir, "batch"))
    val w = new BatchCollect(mini = true)
    w.generate(ctx)
    val rows = w.job(ctx, "zip", where = false)
    expect("batch checker accepts the true output", w.check(ctx, "zip", false, rows).isEmpty)
    val out = w.out(ctx, "zip", where = false)
    val good = spark.read.parquet(out).localCheckpoint()
    good.limit(good.count().toInt - 1).write.mode("overwrite").parquet(out)
    expect("batch checker rejects a dropped row", w.check(ctx, "zip", false, rows - 1).nonEmpty)
    good.withColumn("bytes", col("bytes") + 1).write.mode("overwrite").parquet(out)
    expect("batch checker rejects wrong values", w.check(ctx, "zip", false, rows).nonEmpty)

    // the continuous-collect fingerprint sees one changed cell
    val cc = new ContinuousCollect(mini = true)
    val f1 = cc.fingerprint(good, good.columns.toSeq)
    val f2 = cc.fingerprint(good.withColumn("action",
      when(monotonically_increasing_id() === 0, lit("X")).otherwise(col("action"))), good.columns.toSeq)
    expect("continuous-collect fingerprint sees a changed cell", f1._1 == f2._1 && f1._2 != f2._2)
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
