package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload run hands back to [[Main]]. `ops` holds each operation
  * type's median seconds; `passSpans` the root spans of one pass over the
  * workload, each with the weight that turns the run's spans into one
  * pass (1/rounds for repeated queries, 1/n for n daily increments). */
final case class Outcome(
    ops: Seq[(String, Double)],
    attempted: Int,
    failures: Seq[String],
    passSpans: Seq[(Span, Double)] = Nil,
    layers: Map[String, Double] = Map.empty,
    diagnostics: Map[String, Any] = Map.empty,
    artifact: Seq[Map[String, Any]] = Nil)

final case class Ctx(spark: SparkSession, tracer: Option[Tracer], seed: Long,
                     seconds: Double, data: String, work: String, smoke: Boolean) {
  def span[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))
}

trait Workload {
  /** Staging and warm-up; counted in `setup_s`. */
  def prepare(): Unit
  /** The timed closed loop, for about `ctx.seconds`. */
  def measure(): Outcome
}

/** Runs one workload and writes its result as one JSON object.
  *
  * Usage: perfbench.Main --workload <pipeline|analytics|statements>
  *   --seed <n> --seconds <s> --trace <0|1> --data <tablesDir>
  *   --work <scratchDir> --out <result.json> [--smoke] */
object Main {
  val Workloads = Seq("pipeline", "analytics", "statements")

  def main(argv: Array[String]): Unit = {
    def parse(xs: List[String]): Map[String, String] = xs match {
      case "--smoke" :: rest => parse(rest) + ("--smoke" -> "1")
      case k :: v :: rest => parse(rest) + (k -> v)
      case _ => Map.empty
    }
    val args = parse(argv.toList)
    val workload = args("--workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val trace = args.getOrElse("--trace", "0") == "1"
    val work = args("--work")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val host = new HostSampler
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = Session.build(cpus, work, trace)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = Ctx(spark, tracer, args("--seed").toLong, args("--seconds").toDouble,
      args("--data"), work, args.contains("--smoke"))
    val w: Workload = workload match {
      case "pipeline" => new PipelineWorkload(ctx)
      case "analytics" => new QueryWorkload(ctx, QueryMap.analyticsPanel, "analytics")
      case "statements" => new QueryWorkload(ctx, QueryMap.statementsPanel, "statements")
    }
    Log(s"session ready; preparing $workload")
    w.prepare()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    Log(s"setup done after $setupS s; measuring")
    val out = w.measure()
    Log("measured")
    require(out.ops.nonEmpty, "no operation completed")
    tracer.foreach(_.drain())
    val calib1 = HostSampler.calibrate(1)
    val hostDiag = host.stop()
    val secs = out.ops.map(_._2)
    val metrics = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "total_s" -> (secs.sum, "s"),
      "geomean_s" -> (Stats.geomean(secs), "s"),
      "peak_rss_mb" -> (HostSampler.peakRssMb(), "MB"))
    val layers = tracer.fold(Map.empty[String, Double])(t =>
      sparkLayers(t, out.passSpans) ++ out.layers)
    tracer.foreach { t =>
      t.writeJsonl(Paths.get(work, "spans.jsonl"))
      t.close()
    }
    val json = Json.obj(
      "workload" -> workload,
      "attempted" -> out.attempted,
      "failures" -> out.failures,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "layers" -> layers,
      "ops" -> out.ops.map { case (k, v) => Map("op" -> k, "seconds" -> v) },
      "diagnostics" -> (out.diagnostics ++ hostDiag ++ Map(
        "cpus" -> cpus, "cpu_calib_1t" -> calib1, "trace" -> trace)),
      "artifact" -> out.artifact)
    Files.writeString(Paths.get(args("--out")), json + "\n")
    spark.stop()
  }

  /** Spark planning, scheduler and executor figures for one pass. */
  def sparkLayers(t: Tracer, pass: Seq[(Span, Double)]): Map[String, Double] = {
    val acc = mutable.Map[String, Double]().withDefaultValue(0.0)
    pass.foreach { case (s, w) =>
      val c = t.subtree(s)
      val busy = Tracer.unionMs(c.jobIntervals.toSeq).toDouble
      Seq("spark.plan_ms" -> c.planMs.toDouble,
        "spark.query_executions" -> c.queryExecutions.toDouble,
        "spark.jobs" -> c.jobs.toDouble, "spark.tasks" -> c.tasks.toDouble,
        "spark.job_busy_ms" -> busy,
        "spark.driver_gap_ms" -> math.max(0.0, s.seconds * 1e3 - busy),
        "spark.executor_run_ms" -> c.runMs.toDouble,
        "spark.executor_cpu_ms" -> c.cpuMs.toDouble, "spark.gc_ms" -> c.gcMs.toDouble,
        "spark.shuffle_read_bytes" -> c.shuffleRead.toDouble,
        "spark.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
        "spark.spill_bytes" -> c.spill.toDouble,
        "fs.list_ops" -> c.listOps.toDouble
      ).foreach { case (k, v) => acc(k) += w * v }
    }
    acc.toMap
  }
}
