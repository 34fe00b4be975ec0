package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** Registry board: SparkEntry queries over the generated sf0.01 tables,
  * one at a time, each fully materialized through a `noop` sink (not
  * `count()`, which lets the optimizer skip work). The seed sets the
  * tables and the query order; queries are self-contained by contract.
  *
  * The timed pass counts its output rows with an observed metric. The
  * warm-up pass writes every result to parquet; after the run those are
  * compared with each query's DuckDB oracle (`SparkEntry.oracleSql`)
  * outside the timed region, and the timed row counts with the warm ones. */
final class RegistryBoard(mini: Boolean) extends Workload {
  val name = "registry_board"

  /** The board subset: every 36th query of the registry in name order
    * (9 of 309), so operator families are sampled without choosing by
    * speed or by result. */
  private def subset: Seq[String] = {
    val all = graft.SparkEntry.queries.keys.toSeq.sorted
    if (mini) Seq("q05_broadcast_dims", all(all.size / 2))
    else all.indices.filter(_ % 36 == 0).map(all)
  }

  private var order: Seq[String] = Nil
  private val warmRows = scala.collection.mutable.Map.empty[String, Long]
  private def tables(ctx: Ctx) = new File(ctx.dir, "tables").getAbsolutePath

  def generate(ctx: Ctx): Unit = {
    Gen.boardTables(ctx.spark, ctx.seed, new File(ctx.dir, "tables"))
    order = new scala.util.Random(ctx.seed).shuffle(subset)
  }

  def inputs: Map[String, Any] = Map(
    "loop" -> "closed, 1 client", "scale" -> "sf0.01 (lineitem 60000 rows)",
    "queries" -> order.size, "order" -> "seeded shuffle",
    "materialization" -> "noop sink, row count observed")

  private def fn(q: String) = graft.SparkEntry.queries(q)

  /** Warm-up: one pass writing each result for the oracle check. Builds the
    * queries' on-disk fixtures, so no timed query pays a build. */
  def prepare(ctx: Ctx): Unit = {
    val out = ctx.sub("board_results")
    order.foreach { q =>
      try {
        val path = new File(out, q).getAbsolutePath
        Util.withDeadline(ctx.spark, q, 120000) {
          fn(q)(ctx.spark, tables(ctx)).coalesce(1).write.mode("overwrite").parquet(path)
        }
        warmRows(q) = ctx.spark.read.parquet(path).count()
      } catch { case e: Throwable => warmRows(q) = -1L }
      ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    val oracle = graft.SparkEntry.oracleSql
    val w = new java.io.PrintWriter(new File(out, "oracle_sql.json"), "UTF-8")
    try w.print(Util.json(order.flatMap(q => oracle.get(q).map(q -> _)).toMap))
    finally w.close()
    // a second, untimed pass the way the loop runs: JIT and caches settle
    if (!mini) { loop(ctx, 0, new Ledger); runs.clear() }
  }

  private def materialize(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }

  def loop(ctx: Ctx, seconds: Double, l: Ledger): Unit = {
    lastLedger = l
    Util.cycles(seconds, 4) { // a pass: about 4 s on 4 cores
      order.foreach { q =>
        runs(q) = runs.getOrElse(q, 0) + 1
        l.run[Long]("query", _ => 1.0, q)(Trace.request("SparkEntry") {
          Util.withDeadline(ctx.spark, q, 120000) {
            val df = Trace.span("board.build")(fn(q)(ctx.spark, tables(ctx)))
            if (Trace.enabled) Trace.span("board.plan")(df.queryExecution.executedPlan)
            Trace.span("board.exec")(materialize(df))
          }
        }) { rows =>
          val warm = warmRows.getOrElse(q, -1L)
          if (warm < 0) Some(s"$q failed in the warm-up pass")
          else if (rows != warm) Some(s"$q: timed pass $rows rows, warm pass $warm")
          else None
        }
        ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
    }
    // the oracle check after the run fails each timed execution of a wrong query
    val w = new java.io.PrintWriter(new File(ctx.sub("board_results"), "runs.json"), "UTF-8")
    try w.print(Util.json(runs.toMap)) finally w.close()
  }
  /** Timed executions per query, over every ledger of the run. */
  private val runs = scala.collection.mutable.Map.empty[String, Int]

  def opKinds: Seq[String] = Seq("query")

  override def extra: Map[String, Any] = Map(
    "query_ms" -> order.map(q => q -> Util.median(lastLedger.all.filter(_.tag == q).map(_.ms))).toMap)
  private var lastLedger = new Ledger

  def named(l: Ledger): Seq[(String, Double, String)] = {
    val ms = l.ms("query")
    val passes = math.max(1.0, ms.size.toDouble / math.max(1, order.size))
    Seq(("board_s", ms.sum / 1e3 / passes, "s"), ("board_geomean_ms", Util.geomean(ms), "ms"))
  }

  def layers(ctx: Ctx, l: Ledger): Map[String, Double] = {
    if (!Trace.enabled) return Map.empty
    if (mini) loop(ctx, 0, l)
    Map("board.build_s" -> Trace.total("board.build") / 1e3,
      "board.plan_s" -> Trace.total("board.plan") / 1e3,
      "board.exec_s" -> Trace.total("board.exec") / 1e3)
  }
}
