package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters the Spark listeners attribute to one span. */
final class Counters {
  var jobs, tasks, runMs, cpuMs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  var queryExecutions, planMs, listOps = 0L
  var streamBatches, addBatchMs, streamPlanMs, walCommitMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def +=(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuMs += o.cpuMs
    gcMs += o.gcMs; shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; queryExecutions += o.queryExecutions; planMs += o.planMs
    listOps += o.listOps; streamBatches += o.streamBatches
    addBatchMs += o.addBatchMs; streamPlanMs += o.streamPlanMs
    walCommitMs += o.walCommitMs; jobIntervals ++= o.jobIntervals
  }
}

/** One timed call into a layer. `trace` is the id of the root span the
  * call belongs to: one query, the full load, or one daily increment. */
final case class Span(id: Int, name: String, parent: Int, trace: Int,
                      startMs: Long, startNs: Long) {
  var endNs: Long = -1L
  val counters = new Counters
  def seconds: Double = (endNs - startNs) / 1e9
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
}

/** A `file:` filesystem that counts directory listings, so the traced run
  * can see how often the engine lists the warehouse. Registered through
  * `spark.hadoop.fs.file.impl` in the traced run only. */
class CountingLocalFs extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingLocalFs.lists.incrementAndGet()
    super.listStatus(f)
  }
}
object CountingLocalFs {
  val lists = new AtomicLong()
}

/** Spans kept in memory plus the Spark counters attributed to them.
  *
  * Jobs are attributed through the thread-local property [[SpanKey]]
  * (separate from the job group, which `MetricsRegistry.timed` saves and
  * restores); a streaming query's jobs inherit it from the thread that
  * started the query. Query executions are attributed to the innermost
  * span whose interval holds the execution's first planning phase.
  * Directory listings are read from [[CountingLocalFs]] around each span. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, (Span, Long)]()
  private val pendingQes = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  sc.addSparkListener(this)
  spark.listenerManager.register(this)
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val s = innermostAt(java.time.Instant.parse(p.timestamp).toEpochMilli)
      s.foreach { s =>
        s.synchronized {
          s.counters.streamBatches += 1
          s.counters.addBatchMs += d.getOrElse("addBatch", 0L)
          s.counters.streamPlanMs += d.getOrElse("queryPlanning", 0L)
          s.counters.walCommitMs += d.getOrElse("walCommit", 0L)
        }
      }
    }
  }
  spark.streams.addListener(streamListener)

  /** Run `body` as a span named `name`, nested in the current one. */
  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption
    val s = Span(spans.size, name, parent.fold(-1)(_.id),
      parent.fold(spans.size)(_.trace), System.currentTimeMillis(), System.nanoTime())
    spans.synchronized(spans += s)
    stack = s :: stack
    val saved = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    val lists0 = CountingLocalFs.lists.get()
    try body
    finally {
      s.endNs = System.nanoTime()
      s.counters.listOps += CountingLocalFs.lists.get() - lists0
      sc.setLocalProperty(SpanKey, saved)
      stack = stack.tail
    }
  }

  /** The innermost open span. */
  def current: Span = stack.head

  /** Planning time of a query execution the harness drives itself
    * (`toRdd` does not go through the execution listeners). */
  def recordPlanning(qe: QueryExecution): Unit =
    pendingQes.add(phaseStart(qe) -> planningMs(qe))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
    id.flatMap(i => spans.synchronized(spans.lift(i.toInt))).foreach { s =>
      jobSpan.put(e.jobId, s -> e.time)
      e.stageIds.foreach(stageSpan.put(_, s))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (s, t0) =>
      s.synchronized {
        s.counters.jobs += 1
        s.counters.jobIntervals += (t0 -> e.time)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (s != null && m != null) s.synchronized {
      val c = s.counters
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuMs += m.executorCpuTime / 1000000L
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    pendingQes.add(phaseStart(qe) -> planningMs(qe))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    pendingQes.add(phaseStart(qe) -> planningMs(qe))

  private def innermostAt(ms: Long): Option[Span] = spans.synchronized {
    spans.filter(s => s.startMs <= ms && (s.endNs < 0 || ms <= s.endMs))
      .maxByOption(_.startNs)
  }

  /** Deliver every queued listener event and attribute the query
    * executions; call before reading counters. */
  def drain(): Unit = {
    org.apache.spark.graft.SparkInternals.flushListenerBus(sc)
    var e = pendingQes.poll()
    while (e != null) {
      innermostAt(e._1).foreach { s =>
        s.synchronized { s.counters.queryExecutions += 1; s.counters.planMs += e._2 }
      }
      e = pendingQes.poll()
    }
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Counters of `s` and every span below it. */
  def subtree(s: Span): Counters = {
    val kids = all.groupBy(_.parent)
    val total = new Counters
    def go(x: Span): Unit = { total += x.counters; kids.getOrElse(x.id, Nil).foreach(go) }
    go(s)
    total
  }

  /** Span duration minus the part its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = all.filter(_.parent == s.id)
    s.seconds - unionMs(kids.map(k => (k.startNs / 1000000L, k.endNs / 1000000L))) / 1e3
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      val c = s.counters
      Json.obj(
        "span" -> s.id, "name" -> s.name, "parent" -> s.parent, "trace" -> s.trace,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
        "self_seconds" -> selfSeconds(s), "jobs" -> c.jobs, "tasks" -> c.tasks,
        "job_busy_ms" -> unionMs(c.jobIntervals.toSeq), "executor_run_ms" -> c.runMs,
        "executor_cpu_ms" -> c.cpuMs, "gc_ms" -> c.gcMs,
        "shuffle_read_bytes" -> c.shuffleRead, "shuffle_write_bytes" -> c.shuffleWrite,
        "spill_bytes" -> c.spill, "query_executions" -> c.queryExecutions,
        "plan_ms" -> c.planMs, "list_ops" -> c.listOps,
        "stream_batches" -> c.streamBatches)
    }
    java.nio.file.Files.write(path, lines.asJava)
  }

  def close(): Unit = {
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streamListener)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  def planningMs(qe: QueryExecution): Long =
    qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum

  private def phaseStart(qe: QueryExecution): Long = {
    val ps = qe.tracker.phases.values
    if (ps.isEmpty) System.currentTimeMillis() else ps.map(_.startTimeMs).min
  }

  /** Total length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }
}
