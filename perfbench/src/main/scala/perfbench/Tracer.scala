package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. `exec` is the query execution the span belongs
  * to; `parent` is the span that caused it. Times are epoch milliseconds
  * on the driver clock, which is also the clock Spark stamps events with. */
final case class Span(id: String, parent: String, kind: String, name: String,
    exec: String, startMs: Long, endMs: Long)

/** Counters of one traced query execution, filled from Spark's public
  * listener hooks. Event-carried counters are attributed by job group
  * (set per execution by the driver); block and streaming events carry
  * no group and go to the execution running when they arrive. */
final class ExecCounters {
  var jobs, stages, tasks = 0L
  var taskMs, cpuNs, gcMs = 0L
  var shuffleWriteB, shuffleReadB, fetchWaitMs, spillB = 0L
  var inputRows, scanB, outputB, outputRows = 0L
  var blockUpdates = 0L
  var peakStorageB = 0L
  var actions = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  val planHashes = mutable.ArrayBuffer[String]()
  var batches = 0L
  val batchMs = mutable.ArrayBuffer[Long]()
  var stateRows, stateB = 0L
  // stream run id -> (start, last batch end or termination, summed batch ms)
  val streams = mutable.LinkedHashMap[String, Array[Long]]()
}

/** The traced run's recorder: a SparkListener (jobs, stages, tasks,
  * blocks, SQL executions), a QueryExecutionListener (planning phases and
  * optimized-plan fingerprints) and a StreamingQueryListener (batches and
  * state). Only executions whose id is registered with [[begin]] are
  * recorded; during untraced executions the listeners are detached.
  * Spans and counters stay in memory until the run ends. */
final class Tracer(spark: SparkSession) {
  private val counters = new ConcurrentHashMap[String, ExecCounters]()
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  @volatile private var current: String = null
  private val events = new AtomicLong()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobParent = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Integer]()
  private val sqlGroup = new ConcurrentHashMap[Long, String]()
  private val sqlStart = new ConcurrentHashMap[Long, java.lang.Long]()
  private val rddBlocks = new ConcurrentHashMap[String, java.lang.Long]()
  private val storedB = new AtomicLong()
  private val streamExec = new ConcurrentHashMap[String, String]()

  private def traced(group: String): ExecCounters =
    if (group == null) null else counters.get(group)

  def begin(exec: String): Unit = {
    counters.put(exec, new ExecCounters)
    current = exec
  }
  def end(): Unit = current = null
  def counter(exec: String): ExecCounters = counters.get(exec)
  def span(s: Span): Unit = spans.add(s)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val c = traced(g)
      if (c != null) c.synchronized {
        c.jobs += 1
        jobGroup.put(e.jobId, g)
        jobStart.put(e.jobId, e.time)
        val sqlId = e.properties.getProperty("spark.sql.execution.id")
        jobParent.put(e.jobId, if (sqlId == null) g else s"a$sqlId")
        e.stageIds.foreach(s => stageJob.putIfAbsent(s, Integer.valueOf(e.jobId)))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet()
      val g = jobGroup.get(e.jobId)
      if (g != null) spans.add(Span(s"j${e.jobId}", jobParent.get(e.jobId), "job",
        s"job ${e.jobId}", g, jobStart.get(e.jobId), e.time))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      events.incrementAndGet()
      val si = e.stageInfo
      val job = stageJob.get(si.stageId)
      val g = if (job == null) null else jobGroup.get(job.intValue)
      val c = traced(g)
      if (c != null) {
        c.synchronized {
          c.stages += 1
          c.tasks += si.numTasks
          val m = si.taskMetrics
          if (m != null) {
            c.taskMs += m.executorRunTime
            c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
            c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
            c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            c.spillB += m.diskBytesSpilled
            c.inputRows += m.inputMetrics.recordsRead
            c.outputB += m.outputMetrics.bytesWritten
            c.outputRows += m.outputMetrics.recordsWritten
          }
        }
        for (s <- si.submissionTime; f <- si.completionTime)
          spans.add(Span(s"s${si.stageId}.${si.attemptNumber()}", s"j$job", "stage",
            s"stage ${si.stageId}", g, s, f))
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      events.incrementAndGet()
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val size = info.memSize
        val old = Option(if (size > 0) rddBlocks.put(info.blockId.name, size)
          else rddBlocks.remove(info.blockId.name)).map(_.longValue).getOrElse(0L)
        val now = storedB.addAndGet(size - old)
        val c = traced(current)
        if (c != null) c.synchronized {
          c.blockUpdates += 1
          c.peakStorageB = math.max(c.peakStorageB, now)
        }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        events.incrementAndGet()
        s.jobGroupId.filter(counters.containsKey).foreach { g =>
          sqlGroup.put(s.executionId, g)
          sqlStart.put(s.executionId, s.time)
        }
      case s: SparkListenerSQLExecutionEnd =>
        events.incrementAndGet()
        // The QueryExecutionListener ran for this same event just before
        // (same listener queue, registered first); pair it up here, where
        // the execution id and so the job group are known.
        val qe = lastQe
        lastQe = null
        val g = sqlGroup.get(s.executionId)
        val c = traced(g)
        if (c != null) {
          spans.add(Span(s"a${s.executionId}", g, "action",
            s"action ${s.executionId}", g, sqlStart.get(s.executionId), s.time))
          if (qe != null) {
            val phases = qe.tracker.phases
            def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
            val fp = PlanFingerprint(qe.optimizedPlan.treeString)
            val scanned = ScanBytes(qe)
            c.synchronized {
              c.actions += 1
              c.scanB += scanned
              c.analysisMs += ms("analysis")
              c.optimizationMs += ms("optimization")
              c.planningMs += ms("planning")
              c.planHashes += fp
            }
          }
        }
      case _ =>
    }
  }

  @volatile private var lastQe: QueryExecution = null

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lastQe = qe
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      lastQe = qe
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      events.incrementAndGet()
      // Delivered synchronously on the thread that starts the stream, so
      // `current` is the execution that owns it.
      val exec = current
      val c = traced(exec)
      if (c != null) {
        streamExec.put(e.runId.toString, exec)
        val start = java.time.Instant.parse(e.timestamp).toEpochMilli
        c.synchronized { c.streams(e.runId.toString) = Array(start, start, 0L) }
      }
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      events.incrementAndGet()
      val exec = streamExec.get(e.progress.runId.toString)
      val c = traced(exec)
      if (c != null) {
        val p = e.progress
        val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val rows = p.stateOperators.map(_.numRowsTotal).sum
        val mem = p.stateOperators.map(_.memoryUsedBytes).sum
        c.synchronized {
          c.batches += 1
          c.batchMs += dur
          c.stateRows = math.max(c.stateRows, rows)
          c.stateB = math.max(c.stateB, mem)
          val s = c.streams.getOrElseUpdate(p.runId.toString, Array(start, start + dur, 0L))
          s(0) = math.min(s(0), start)
          s(1) = math.max(s(1), start + dur)
          s(2) += dur
        }
        spans.add(Span(s"b${p.runId}.${p.batchId}", exec, "batch",
          s"${Option(p.name).getOrElse("stream")} batch ${p.batchId}", exec, start, start + dur))
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      events.incrementAndGet()
      val now = System.currentTimeMillis()
      val c = traced(streamExec.get(e.runId.toString))
      if (c != null) c.synchronized {
        c.streams.get(e.runId.toString).foreach(s => s(1) = math.max(s(1), now))
      }
    }
  }

  private var attached = false

  /** Registers the listeners. Order matters: the QueryExecutionListener's
    * bus must sit before the SparkListener on the shared queue (see
    * SparkListenerSQLExecutionEnd); that bus stays on the queue once
    * created, so re-registering keeps the order. */
  def attach(): Unit = if (!attached) {
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Removes the listeners once the traced executions' events are
    * delivered, so untraced executions pay no tracing at all. */
  def detach(): Unit = if (attached) {
    drain()
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  attach()

  /** Waits until the asynchronous listener buses have delivered every
    * event: no new event for half a second (bounded at 20 s). */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 20_000_000_000L
    var last = -1L
    while (events.get != last && System.nanoTime() < deadline) {
      last = events.get
      Thread.sleep(500)
    }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq
}

/** Hash of optimized logical plans with the per-run parts removed
  * (expression and plan ids, temporary path suffixes, object hashes), so
  * the same plan run twice gets the same fingerprint. */
object PlanFingerprint {
  private val volatileParts = Seq(
    "#\\d+L?" -> "#",
    "plan_id=\\d+" -> "plan_id=",
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}" -> "<uuid>",
    "[0-9a-f]{16,}" -> "<hex>",
    "@[0-9a-f]{4,}" -> "@",
    "\\d{6,}" -> "<n>",
  ).map { case (re, to) => re.r -> to }

  def apply(tree: String): String = {
    val norm = volatileParts.foldLeft(tree) { case (s, (re, to)) => re.replaceAllIn(s, to) }
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.digest(norm.getBytes("UTF-8")).take(6).map(b => f"${b & 0xff}%02x").mkString
  }
}

/** Bytes of the files an executed plan's file scans selected (Spark's
  * "size of files read" scan metric). Task input metrics miss them: the
  * parquet reader reads on its own I/O threads. */
object ScanBytes extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  def apply(qe: QueryExecution): Long = collectWithSubqueries(qe.executedPlan) {
    case s: org.apache.spark.sql.execution.FileSourceScanLike =>
      s.metrics.get("filesSize").map(_.value).getOrElse(0L)
  }.sum
}

/** In-process gauges read around each execution. */
object Gauges {
  private val mx = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq

  def codeCacheMb: Double =
    mx.filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum / 1048576.0
  def metaspaceMb: Double =
    mx.filter(_.getName == "Metaspace").map(_.getUsage.getUsed).sum / 1048576.0
  def jitMs: Long =
    Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L)

  /** File-system work: (write syscalls, bytes written through Hadoop
    * FileSystems, read syscalls). Hadoop's local file system counts bytes
    * but not operations, so operations come from /proc/self/io. */
  @annotation.nowarn("cat=deprecation")
  def fs: (Long, Long, Long) = {
    val io = {
      val src = scala.io.Source.fromFile("/proc/self/io")
      try src.getLines().map(_.split(":\\s*")).collect { case Array(k, v) => k -> v.trim.toLong }.toMap
      finally src.close()
    }
    val hadoop = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    (io.getOrElse("syscw", 0L), hadoop.map(_.getBytesWritten).sum, io.getOrElse("syscr", 0L))
  }

  /** Codegen: compiles so far and their summed compile time (ns). */
  def codegen: (Long, Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val b = org.apache.spark.metrics.source.CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE
    (h.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
      b.getCount * b.getSnapshot.getMean)
  }

  /** Memory lines of /proc/self/status in MiB (VmHWM is the resident
    * high-water mark), plus the committed heap. */
  def memoryMb: Map[String, Double] = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    val status = try src.getLines().toList finally src.close()
    status.map(_.split(":\\s+")).collect {
      case Array(k, v) if k.startsWith("Vm") || k.startsWith("Rss") =>
        k -> v.split("\\s+")(0).toDouble / 1024.0
    }.toMap + ("HeapCommitted" ->
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0)
  }
}
