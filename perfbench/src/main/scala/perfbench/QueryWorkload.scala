package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

/** `analytics` and `statements`: one client runs a fixed panel of
  * `SparkEntry.queries` in a session that a small generic job has warmed
  * (as `graft.Bench` warms its session).
  *
  * The timed operation is each query's first call: from the call
  * (statements do their writes and stage their fixtures there) through
  * full materialization of every output row, the way `graft.Bench` does
  * it, with persisted state released after each query. First calls are
  * what a batch job pays, and their sum is steady from run to run where
  * warm repeats of sub-second queries are not. Warm rounds follow while
  * the run's `--seconds` last; their medians are diagnostics only, so
  * their host-dependent count moves no metric.
  *
  * Afterwards every panel query writes its output under `<work>/check`
  * next to its oracle SQL, for the DuckDB comparison the runner makes. */
final class QueryWorkload(ctx: Ctx, panel: Seq[String], kind: String) extends Workload {
  import ctx.spark

  private val fns = graft.SparkEntry.queries
  private val failures = mutable.LinkedHashMap[String, String]()
  private var attempted = 0

  private def attempt(name: String)(body: => Unit): Option[Double] = {
    attempted += 1
    Log(name)
    val t0 = System.nanoTime()
    try { body; Some((System.nanoTime() - t0) / 1e9) }
    catch {
      case e: Throwable =>
        failures.getOrElseUpdate(name,
          s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    } finally Session.release(spark)
  }

  private def materialize(df: DataFrame): Unit = {
    df.queryExecution.toRdd.foreach(_ => ())
    ctx.tracer.foreach(_.recordPlanning(df.queryExecution))
  }

  /** A generic warm-up of scans, a join, an aggregate, a window and a
    * parquet write, so the first timed query does not carry the session's
    * own JIT warm-up. */
  def prepare(): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"${ctx.data}/lineitem.parquet")
    val o = spark.read.parquet(s"${ctx.data}/orders.parquet")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority", "l_returnflag").agg(sum("l_extendedprice").as("v"))
      .withColumn("r", rank().over(Window.partitionBy("o_orderpriority").orderBy(col("v").desc)))
      .write.mode("overwrite").parquet(s"${ctx.work}/warmup")
  }

  def measure(): Outcome = {
    val walk = ctx.tracer.map(_ => new WarehouseWalk(Seq(System.getProperty("java.io.tmpdir"))))
    val roots = mutable.ArrayBuffer.empty[Span]
    // first calls in panel order, so each query follows the same queries
    // (and inherits the same JIT state) in every run; warm rounds in a
    // seed-shuffled order
    def pass(round: Int): Seq[(String, Double)] =
      (if (round == 0) panel else new scala.util.Random(ctx.seed * 1000003L + round)
        .shuffle(panel)).flatMap { q =>
        val w = walk.filter(_ => round == 0)
        w.foreach(_.before())
        val t = ctx.span(s"query:$q") {
          if (round == 0) ctx.tracer.foreach(t => roots += t.current)
          attempt(q)(materialize(fns(q)(spark, ctx.data)))
        }
        w.foreach(_.after())
        t.map(q -> _)
      }
    val t0 = System.nanoTime()
    val first = pass(0)
    var warmRounds = 0
    val warmRuns = mutable.ArrayBuffer.empty[(String, Double)]
    while (!ctx.smoke && (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      warmRounds += 1
      warmRuns ++= pass(warmRounds)
    }
    val warm = warmRuns.toSeq.groupMap(_._1)(_._2)
    check()
    val firstS = first.toMap
    val modules = first.groupBy { case (q, _) => QueryMap.byName(q)._2 }
      .map { case (m, xs) => s"$kind.module_s.$m" -> xs.map(_._2).sum }
    val warmMedians = warm.map { case (q, xs) => q -> Stats.median(xs) }
    Outcome(
      ops = first,
      attempted = attempted,
      failures = failures.values.toSeq,
      passSpans = roots.toSeq.map(_ -> 1.0),
      layers = modules ++ walk.fold(Map.empty[String, Double])(_.perPass(1)),
      diagnostics = Map("panel" -> panel.size, "warm_rounds" -> warmRounds) ++
        (if (warmMedians.isEmpty) Map.empty else Map(
          "warm_total_s" -> warmMedians.values.sum,
          "warm_geomean_s" -> Stats.geomean(warmMedians.values.toSeq))),
      artifact = panel.map { q =>
        Map("query" -> q, "module" -> QueryMap.byName(q)._2,
          "first_s" -> firstS.getOrElse(q, Double.NaN), "warm_s" -> warm.getOrElse(q, Nil))
      })
  }

  /** Each panel query's output, with its oracle SQL. */
  private def check(): Unit = {
    val dir = Paths.get(ctx.work, "check")
    Files.createDirectories(dir)
    panel.foreach { q =>
      attempt(q) {
        fns(q)(spark, ctx.data).coalesce(1).write.mode("overwrite")
          .parquet(dir.resolve(q).toString)
      }
    }
    val sql = graft.SparkEntry.oracleSql.filter { case (k, _) => panel.contains(k) }
    Files.writeString(dir.resolve("oracle_sql.json"), Json.value(sql))
  }
}

/** Commit-path figures from outside: the files under some directories
  * before and after each operation, summed over the run. */
final class WarehouseWalk(roots: Seq[String]) {
  private var snap = Map.empty[String, Long]
  private var bytes, files, rootVersions = 0L

  def bytesWritten: Long = bytes

  private def scan(): Map[String, Long] = roots.map(Paths.get(_)).filter(Files.exists(_))
    .flatMap { p =>
      import scala.jdk.CollectionConverters._
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
        .map(f => f.toString -> scala.util.Try(Files.size(f)).getOrElse(0L))
      finally s.close()
    }.toMap

  def before(): Unit = snap = scan()

  def after(): Unit = {
    val now = scan()
    val fresh = now.filter { case (f, n) => !snap.get(f).contains(n) }
    bytes += fresh.values.sum
    files += fresh.size
    rootVersions += (WarehouseWalk.rootVersionDirs(fresh.keys) --
      WarehouseWalk.rootVersionDirs(snap.keys)).size
  }

  def perPass(passes: Int): Map[String, Double] = {
    val rounds = math.max(1, passes).toDouble
    Map(
    "commit.bytes_written" -> bytes.toDouble / rounds,
    "commit.files_written" -> files.toDouble / rounds,
    "commit.root_versions" -> rootVersions.toDouble / rounds)
  }
}

object WarehouseWalk {
  /** `<table>/_root/_versions/<v>` directories holding the given files. */
  def rootVersionDirs(files: Iterable[String]): Set[String] =
    files.flatMap { f =>
      val i = f.indexOf("/_root/_versions/")
      if (i < 0) None
      else {
        val rest = f.substring(i + "/_root/_versions/".length)
        Some(f.substring(0, i) + "/" + rest.takeWhile(_ != '/'))
      }
    }.toSet
}
