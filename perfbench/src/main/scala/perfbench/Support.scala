package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the result file and the span log. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def obj(kv: (String, Any)*): String = value(kv.toMap)
}

/** Host-noise diagnostics: load average sampled once a second, the
  * xorshift CPU calibration of `graft.Bench`, and the JVM's peak RSS. */
final class HostSampler {
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running) {
      HostSampler.loadavg().foreach(samples.add)
      try Thread.sleep(1000) catch { case _: InterruptedException => () }
    }
  }, "perfbench-loadavg")
  thread.setDaemon(true)
  thread.start()

  def stop(): Map[String, Double] = {
    running = false
    thread.interrupt()
    thread.join()
    import scala.jdk.CollectionConverters._
    val xs = samples.asScala.toSeq
    if (xs.isEmpty) Map.empty
    else Map("loadavg_min" -> xs.min, "loadavg_mean" -> xs.sum / xs.size,
      "loadavg_max" -> xs.max)
  }
}

object HostSampler {
  def loadavg(): Option[Double] =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .split(" ")(0).toDouble).toOption

  /** Seconds for 400M xorshift steps on each of `threads` threads — the
    * same arithmetic `graft.Bench` reports as `cpu_calib_*`. */
  def calibrate(threads: Int): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { i =>
      val t = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + i; var n = 0L
        while (n < 400000000L) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; n += 1 }
        sink.addAndGet(x)
      })
      t.start(); t
    }
    ts.foreach(_.join())
    if (sink.get() == 42L) println("calibration checksum collision")
    (System.nanoTime() - t0) / 1e9
  }

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(Double.NaN)
}

object Session {
  /** The session every workload runs in: `local[cpus]`, the settings
    * `graft.Bench` uses, and every scratch location under `work`. */
  def build(cpus: Int, work: String, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Drop persisted RDDs and cached tables between queries, as
    * `graft.Bench` does. */
  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
  }
}

/** Progress lines on stderr (the runner keeps them in the run's log). */
object Log {
  private val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - t0) / 1e3}%8.2f s] $msg")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}
