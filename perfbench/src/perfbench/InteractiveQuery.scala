package perfbench

import java.io.File
import java.util.SplittableRandom
import java.util.concurrent.locks.ReentrantReadWriteLock

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.auth.{IamPolicy, Identities, TableAcl}
import graft.operators.{FindDsl, NoSqlDsl}
import graft.registry.{QueryRegistry, RegistryStore}

/** Interactive query: C <= nproc client threads in a closed loop over the
  * tables and query registry that set-up collected, sending a seeded
  * request mix with Zipf-distributed users and keys:
  *  - guarded SQL: `Identities.decide`, `TableAcl.allowedTables`, then
  *    `ReadOnlyGuard.query`;
  *  - `FindDsl.findAll`;
  *  - `NoSqlDsl.run` over `visibilityFilter` of the replayed registry;
  *  - registry writes: `QueryRegistry.record` + `RegistryStore.append`;
  *  - planted requests that must be refused (non-SELECT statements, a
  *    table outside the caller's grants, a caller without IAM policy).
  * Every answer is compared with an independent computation over the
  * generator's own records, and the registry with a model kept beside it. */
final class InteractiveQuery(mini: Boolean) extends Workload {
  val name = "interactive_query"

  private val shape =
    if (mini) Gen.LakeShape((1, 2000, 2, 200), (1, 2000, 2, 200), (1, 200, 1, 50), (0, 0, 0, 0), 0.03)
    else Gen.LakeShape((1, 20000, 10, 500), (1, 15000, 10, 500), (1, 2000, 4, 200), (0, 0, 0, 0), 0.03)
  private val mix = Seq("sql" -> 0.45, "find" -> 0.2, "nosql" -> 0.25, "write" -> 0.04, "refused" -> 0.06)
  private val zipfS = 1.1
  private val initialEntries = 200

  private var lake: Gen.Lake = _
  private var identities: DataFrame = _
  private val lock = new ReentrantReadWriteLock()
  private var model = Vector.empty[QueryRegistry.Entry] // the registry's expected state
  private var seq = 0L

  private val users = (0 until 8).map(i => s"u$i")
  private val security = Set("u0", "u1") // grantees of the cloudtrail table
  private val acl: Map[String, TableAcl.TableGrants] = Map(
    "vpcflow" -> TableAcl.TableGrants(Set("u0"), Set("analysts")),
    "alb" -> TableAcl.TableGrants(Set("u0"), Set("analysts")),
    "cloudtrail" -> TableAcl.TableGrants(Set("u0"), Set("u1")))
  private val dataTypes = Seq("VPCFlow", "ApplicationLB", "CloudTrail")

  private def identity(u: String) = TableAcl.Identity(u, Set("analysts"))
  private def entry(u: String): Identities.Entry =
    if (u == "guest") Identities.Entry("guest", "UserAWS", IAM = true, Nil, Nil, Nil, Nil, Nil, None)
    else Identities.addUser(u, "UserAWS", iamGroups = Seq("analysts"))

  private def registryPath(ctx: Ctx) = new File(ctx.dir, "registry").getAbsolutePath

  def generate(ctx: Ctx): Unit = {
    Util.rm(new File(ctx.dir, "lake"))
    lake = Gen.lake(ctx.seed + 2000003L, new File(ctx.dir, "lake"), shape)
  }

  def inputs: Map[String, Any] = Map(
    "loop" -> s"closed, ${clients} client threads", "mix" -> mix.toMap,
    "zipf_exponent" -> zipfS, "refusal_share" -> mix.toMap.apply("refused"),
    "write_share" -> mix.toMap.apply("write"),
    "tables_rows" -> Map("vpcflow" -> lake.rows("vpcflow"), "alb" -> lake.rows("alb"),
      "cloudtrail" -> lake.rows("cloudtrail")),
    "registry_initial_entries" -> initialEntries)

  private def clients = if (mini) 2 else math.min(4, Runtime.getRuntime.availableProcessors)

  private def newEntry(r: SplittableRandom, n: Long, owner: String): QueryRegistry.Entry = {
    val dt = dataTypes(r.nextInt(dataTypes.size))
    QueryRegistry.Entry(s"SELECT * FROM t$n", 1700000000L + n, "logs", s"t${r.nextInt(40)}", dt,
      f"q$n%06d", if (r.nextBoolean()) "C" else "A", owner,
      users.filter(_ => r.nextInt(4) == 0).mkString(","), Active = true, Archive = r.nextInt(10) == 0)
  }

  /** `QueryRegistry.record` semantics on the model: the new entry is active,
    * earlier actives on the same table are not. */
  private def modelRecord(e: QueryRegistry.Entry): Unit =
    model = model.map(x => if (x.DatabaseName == e.DatabaseName && x.TableName == e.TableName)
      x.copy(Active = false) else x) :+ e

  def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    Seq("vpcflow" -> "VPCFlow", "alb" -> "ApplicationLB", "cloudtrail" -> "CloudTrail").foreach {
      case (t, dt) =>
        val paths = graft.sources.FolderWalk.walk(spark, Seq(new File(lake.root, t).getAbsolutePath), 2)
        graft.jobs.CollectMain.run(spark,
          s"""{"DataType":"$dt","S3Folders":${Util.json(paths)},"DatasetName":"$t"}""")
    }
    val group = Identities.Entry("analysts", "GroupAWS", IAM = true, Nil, Nil,
      Seq("{'Statement':[{'Effect':'Allow','Action':['logverz:Query'],'Resource':['*']}]}"),
      Nil, Nil, None)
    identities = Identities.toDF(spark, group +: (users :+ "guest").map(entry)).localCheckpoint()
    // the registry log, seeded with initial entries through the model
    val r = new SplittableRandom(ctx.seed * 17 + 5)
    model = Vector.empty
    (0 until initialEntries).foreach(i => modelRecord(newEntry(r, i, users(r.nextInt(users.size)))))
    seq = 0
    Util.rm(new File(registryPath(ctx)))
    import spark.implicits._
    RegistryStore.append(model.toDF(), registryPath(ctx), seq)
    // warm-up: the request mix for a few seconds
    if (!mini) loop(ctx, 3, new Ledger)
  }

  private val keyCols = Seq("QueryName")

  private final class Client(ctx: Ctx, id: Int, l: Ledger) {
    private val r = new SplittableRandom(ctx.seed * 1000 + id)
    private val userZ = new Gen.Zipf(users.size, zipfS)
    private val portZ = new Gen.Zipf(8, zipfS)
    private val ports = Seq(22, 443, 80, 3306, 5432, 8080, 53, 123)
    private val statuses = Seq(200, 404, 301, 500, 502, 503, 501)
    private val statusZ = new Gen.Zipf(statuses.size, zipfS)
    private lazy val srcRank: IndexedSeq[String] =
      lake.vpcRecs.groupBy(_.srcaddr).toSeq.sortBy(p => (-p._2.size, p._1)).map(_._1).toIndexedSeq
    private lazy val srcZ = new Gen.Zipf(math.min(200, srcRank.size), zipfS)
    private val spark = ctx.spark

    private def pick(): String = {
      val u = r.nextDouble()
      mix.scanLeft(("", 0.0)) { case ((_, acc), (k, p)) => (k, acc + p) }.tail
        .find(_._2 > u).map(_._1).getOrElse("sql")
    }

    /** Authorization then the guarded run; throws SecurityException when refused. */
    private def guarded(user: String, table: String, sql: String): Array[Row] = {
      val decision = Trace.span("auth.Identities") {
        Identities.decide(identities, entry(user), "logverz:Query", s"table/$table")
      }
      if (decision != IamPolicy.Allowed) {
        Trace.count("guard.refused", 1)
        throw new SecurityException(s"$user: $decision")
      }
      val allowed = Trace.span("auth.TableAcl") {
        TableAcl.allowedTables(identity(user), acl, TableAcl.Query)
      }
      try Trace.span("plans.ReadOnlyGuard")(graft.plans.ReadOnlyGuard.query(spark, sql, Some(allowed)).collect())
      catch { case e: SecurityException => Trace.count("guard.refused", 1); throw e }
    }

    def step(kind: String = pick()): Unit = kind match {
      case "sql" =>
        val user = users(userZ.next(r))
        r.nextInt(3) match {
          case 0 =>
            val port = ports(portZ.next(r))
            l.run[Array[Row]]("sql", tag = "sql_port")(Trace.request("interactive.sql") {
              guarded(user, "vpcflow",
                s"SELECT action, count(*) AS n, sum(packets) AS p FROM vpcflow WHERE dstport = $port GROUP BY action")
            }) { rows =>
              val want = lake.vpcRecs.filter(_.dstport.contains(port.toLong)).groupBy(_.action)
                .map { case (a, xs) => a -> (xs.size.toLong, xs.flatMap(_.packets).sum) }
              val got = rows.map(x => x.getString(0) -> (x.getLong(1), if (x.isNullAt(2)) 0L else x.getLong(2))).toMap
              if (got != want) Some(s"port $port: $got, want $want") else None
            }
          case 1 =>
            val status = statuses(statusZ.next(r))
            l.run[Array[Row]]("sql", tag = "sql_status")(Trace.request("interactive.sql") {
              guarded(user, "alb",
                s"SELECT count(*) AS n, sum(sent_bytes) AS b FROM alb WHERE elb_status_code = $status")
            }) { rows =>
              val xs = lake.albRecs.filter(_.status == status)
              val want = (xs.size.toLong, xs.flatMap(_.sent).sum)
              val got = (rows(0).getLong(0), if (rows(0).isNullAt(1)) 0L else rows(0).getLong(1))
              if (got != want) Some(s"status $status: $got, want $want") else None
            }
          case _ =>
            val ip = srcRank(srcZ.next(r))
            l.run[Array[Row]]("sql", tag = "sql_src")(Trace.request("interactive.sql") {
              guarded(user, "vpcflow",
                s"SELECT srcaddr, count(*) AS n FROM vpcflow WHERE srcaddr = '$ip' GROUP BY srcaddr")
            }) { rows =>
              val want = lake.vpcRecs.count(_.srcaddr == ip).toLong
              if (rows.length != 1 || rows(0).getLong(1) != want) Some(s"src $ip: ${rows.toSeq}, want $want")
              else None
            }
        }
      case "find" =>
        val status = statuses(statusZ.next(r))
        val min = r.nextInt(60000)
        val json = s"""{"<and>":[{"elb_status_code":$status},{"sent_bytes":{"<gt>":$min}}]}"""
        l.run[Array[Row]]("find")(Trace.request("interactive.find") {
          val df = Trace.span("operators.FindDsl")(FindDsl.findAll(spark.table("alb"), json))
          df.select("sent_bytes").collect()
        }) { rows =>
          val want = lake.albRecs.filter(a => a.status == status && a.sent.exists(_ > min)).flatMap(_.sent)
          val got = rows.map(_.getLong(0)).toSeq
          if (got.size != want.size || got.sum != want.sum) Some(s"find $json: ${got.size} rows, want ${want.size}")
          else None
        }
      case "nosql" =>
        val user = users(userZ.next(r))
        val admin = user == "u0"
        val dt = dataTypes(r.nextInt(dataTypes.size))
        lock.readLock().lock()
        try {
          val snapshot = model
          l.run[Array[Row]]("nosql")(Trace.request("interactive.nosql") {
            val reg = Trace.span("registry.replay")(RegistryStore.replay(spark, registryPath(ctx), keyCols))
            val df = Trace.span("operators.NoSqlDsl") {
              NoSqlDsl.run(NoSqlDsl.visibilityFilter(reg, user, admin),
                NoSqlDsl.Query(keyConditions = Seq(NoSqlDsl.Eq("DataType", dt)),
                  filters = Seq(NoSqlDsl.Eq("Active", true)),
                  orderBy = Some(("UnixTime", false)), limit = Some(20), dropArchived = true))
            }
            df.select("QueryName").collect()
          }) { rows =>
            val want = snapshot.filter(e => e.DataType == dt && e.Active && !e.Archive &&
              (admin || e.Owners.split(",").contains(user) || e.Access.split(",").contains(user)))
              .sortBy(-_.UnixTime).take(20).map(_.QueryName)
            val got = rows.map(_.getString(0)).toSeq
            if (got != want) Some(s"nosql $user/$dt: ${got.take(3)}..., want ${want.take(3)}...") else None
          }
        } finally lock.readLock().unlock()
      case "write" =>
        val user = users(userZ.next(r))
        lock.writeLock().lock()
        try {
          seq += 1
          val e = newEntry(r, initialEntries + seq * 1000 + id, user)
          l.run[Unit]("write")(Trace.request("interactive.write") {
            val reg = RegistryStore.replay(spark, registryPath(ctx), keyCols)
            val changed = QueryRegistry.record(reg, e)
              .where(col("DatabaseName") === e.DatabaseName && col("TableName") === e.TableName)
            Trace.span("registry.append")(RegistryStore.append(changed, registryPath(ctx), seq))
          })(_ => None)
          modelRecord(e)
        } finally lock.writeLock().unlock()
      case _ =>
        val user = users(userZ.next(r))
        val (who, table, sql) = r.nextInt(3) match {
          case 0 => (user, "vpcflow", Seq("DROP TABLE vpcflow", "INSERT INTO alb SELECT * FROM alb",
            "CREATE TABLE x AS SELECT 1 AS a")(r.nextInt(3)))
          case 1 => val u = users.filterNot(security)(r.nextInt(users.size - security.size))
            (u, "cloudtrail", "SELECT eventName, count(*) FROM cloudtrail GROUP BY eventName")
          case _ => ("guest", "alb", "SELECT count(*) FROM alb")
        }
        l.run[Boolean]("refused")(Trace.request("interactive.refused") {
          try { guarded(who, table, sql); false } catch { case _: SecurityException => true }
        })(ok => if (ok) None else Some(s"not refused: $who: $sql"))
    }
  }

  def loop(ctx: Ctx, seconds: Double, l: Ledger): Unit = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map { i =>
      val c = new Client(ctx, i, l)
      val t = new Thread(() => {
        do c.step() while (System.nanoTime() < deadline)
      }, s"perfbench-client-$i")
      t.start(); t
    }
    threads.foreach(_.join(120000))
    if (threads.exists(_.isAlive)) throw new Util.DeadlineExceeded("interactive loop", 120000)
    l.wallS = (System.nanoTime() - t0) / 1e9
  }

  def opKinds: Seq[String] = Seq("sql", "find", "nosql", "write")

  /** Completed requests, refusals included, over the clients' wall time. */
  override def opsPerS(l: Ledger): Double = l.all.size / l.wallS

  def named(l: Ledger): Seq[(String, Double, String)] = Seq(
    ("sql_ms_p50", Util.median(l.ms("sql")), "ms"),
    ("sql_ms_p90", Util.quantile(l.ms("sql"), 0.9), "ms"),
    ("find_ms_p50", Util.median(l.ms("find")), "ms"),
    ("nosql_ms_p50", Util.median(l.ms("nosql")), "ms"),
    ("queries_per_s", opsPerS(l), "1/s"))

  def layers(ctx: Ctx, l: Ledger): Map[String, Double] = {
    // every request kind, traced and checked, whatever the seeded mix drew
    val c = new Client(ctx, 99, l)
    for (_ <- 1 to 3; (k, _) <- mix) c.step(k)
    def medUs(f: => Any, n: Int = 200): Double =
      Util.median((1 to n).map(_ => Util.timed(f)._2 * 1e3))
    val sql = "SELECT action, count(*) AS n FROM vpcflow WHERE dstport = 22 GROUP BY action"
    val json = """{"<and>":[{"elb_status_code":500},{"sent_bytes":{"<gt>":100}}]}"""
    val reg = RegistryStore.replay(ctx.spark, registryPath(ctx), keyCols).localCheckpoint()
    val files = Util.filesUnder(new File(registryPath(ctx))).count(_.getName.endsWith(".parquet"))
    Map(
      "guard.validate_us" -> medUs(graft.plans.ReadOnlyGuard.validate(ctx.spark, sql)),
      "guard.refused" -> Trace.counter("guard.refused"),
      "authz.decide_ms" -> Util.median(Trace.durations("auth.Identities")),
      "authz.acl_us" -> medUs(TableAcl.allowedTables(identity("u3"), acl, TableAcl.Query), 2000),
      "find.compile_us" -> medUs(FindDsl.compile(json), 2000),
      "nosql.build_us" -> medUs(NoSqlDsl.run(NoSqlDsl.visibilityFilter(reg, "u3", isAdmin = false),
        NoSqlDsl.Query(keyConditions = Seq(NoSqlDsl.Eq("DataType", "VPCFlow")),
          orderBy = Some(("UnixTime", false)), limit = Some(20)))),
      "registry.append_ms" -> Util.median(Trace.durations("registry.append")),
      "registry.replay_ms" -> Util.median(Trace.durations("registry.replay")),
      "registry.log_files" -> files.toDouble)
  }
}
