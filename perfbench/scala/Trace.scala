package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters fed by the listeners the traced run attaches to the session.
  * Every field only grows; an op's share is the difference of two
  * snapshots taken around it, after the listener bus has drained. */
final class Counters {
  val jobs, stages, tasks = new AtomicLong
  val runMs, cpuNs = new AtomicLong
  val scanBytes, scanRows = new AtomicLong
  val shuffleBytes, spillBytes = new AtomicLong
  val planMs = new AtomicLong
  val batches = new AtomicLong
  val addBatchMs, planningMs, walMs, latestOffsetMs = new AtomicLong
  /** Start and end times (ms, the events' own clock) of every job that
    * has ended, and the start times of the jobs still running. */
  val jobSpans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
  val jobStarts = scala.collection.mutable.Map.empty[Int, Long]

  def snapshot(): Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
    "tasks" -> tasks.get.toDouble, "run_ms" -> runMs.get.toDouble,
    "cpu_ms" -> cpuNs.get / 1e6, "scan_bytes" -> scanBytes.get.toDouble,
    "scan_rows" -> scanRows.get.toDouble,
    "shuffle_bytes" -> shuffleBytes.get.toDouble,
    "spill_bytes" -> spillBytes.get.toDouble, "plan_ms" -> planMs.get.toDouble,
    "stream_batches" -> batches.get.toDouble,
    "add_batch_ms" -> addBatchMs.get.toDouble,
    "query_planning_ms" -> planningMs.get.toDouble,
    "wal_commit_ms" -> walMs.get.toDouble,
    "latest_offset_ms" -> latestOffsetMs.get.toDouble,
    "gc_ms" -> Trace.gcMs().toDouble)
}

/** The benchmark's own view into the session: a SparkListener for jobs,
  * stages, tasks, executor time, scan, shuffle and spill; a
  * QueryExecutionListener for the tracker's analysis, optimization and
  * planning phases; a StreamingQueryListener for micro-batch phases.
  * Untraced runs attach nothing and only read the JVM's GC counters. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  val c = new Counters

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        c.jobs.incrementAndGet()
        c.synchronized { c.jobStarts(e.jobId) = e.time }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = c.synchronized {
        c.jobStarts.remove(e.jobId).foreach(t => c.jobSpans += (t -> e.time))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        c.stages.incrementAndGet()
        c.tasks.addAndGet(e.stageInfo.numTasks.toLong); ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          c.runMs.addAndGet(m.executorRunTime)
          c.cpuNs.addAndGet(m.executorCpuTime)
          c.scanBytes.addAndGet(m.inputMetrics.bytesRead)
          c.scanRows.addAndGet(m.inputMetrics.recordsRead)
          c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val ph = qe.tracker.phases
        val ms = Seq("analysis", "optimization", "planning")
          .flatMap(ph.get).map(_.durationMs).sum
        c.planMs.addAndGet(ms); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val d = e.progress.durationMs.asScala
        def add(k: String, into: AtomicLong): Unit =
          d.get(k).foreach(v => into.addAndGet(v.longValue))
        if (d.contains("addBatch")) c.batches.incrementAndGet()
        add("addBatch", c.addBatchMs)
        add("queryPlanning", c.planningMs)
        add("walCommit", c.walMs)
        add("latestOffset", c.latestOffsetMs)
      }
    })
  }

  /** Wall time (ms) within [from, to] (System.currentTimeMillis) during
    * which at least one Spark job ran: the union of the job spans, each
    * clipped to the window. 0 when the run is not traced. */
  def jobMsWithin(from: Long, to: Long): Double = if (!enabled) 0.0 else {
    org.apache.spark.perfbench.SparkBus.drain(spark.sparkContext)
    val spans = c.synchronized {
      (c.jobSpans.toSeq ++ c.jobStarts.values.map(_ -> to))
        .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
    }
    var total = 0L
    var (curA, curB) = (-1L, -1L)
    spans.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total += curB - curA
    total.toDouble
  }

  /** Counter values now, after every posted event has been delivered. */
  def snap(): Map[String, Double] = {
    if (enabled) org.apache.spark.perfbench.SparkBus.drain(spark.sparkContext)
    c.snapshot()
  }
}

object Trace {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap still in use after full collections: the smallest reading over
    * several collections, so that blocks Spark's cleaner releases
    * between them are not counted. */
  def liveHeapMb(): Double =
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
}

/** Sums per-layer samples that the workloads record by name. */
final class Samples {
  private val m = scala.collection.mutable.LinkedHashMap
    .empty[String, scala.collection.mutable.ArrayBuffer[Double]]
  def add(k: String, v: Double): Unit =
    m.getOrElseUpdate(k, scala.collection.mutable.ArrayBuffer.empty) += v
  def toMap: Map[String, Seq[Double]] = m.map { case (k, v) => k -> v.toSeq }.toMap
}

object Timer {
  /** Runs `body` and returns its result with its wall time in ms. */
  def ms[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}
