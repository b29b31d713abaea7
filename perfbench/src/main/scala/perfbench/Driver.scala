package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.etl.TaxiEtl

/** The benchmark's JVM side. `run.py` writes a plan (Java properties),
  * launches this main once per plan, and reads back one JSON result.
  *
  * Modes:
  *  - `setup`: build a session, run the warm-up query, exit. Used for the
  *    extra set-up samples of a run.
  *  - `run`: set up, then a closed loop with one client and one query at
  *    a time: every query's first execution, a fixed number of repeat
  *    rounds (more only while the time budget is not spent), then the
  *    untimed correctness gate.
  */
object Driver {
  /** The reference job's write path, run through `TaxiEtl.run`. */
  val Etl = "taxi_etl"

  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  final case class Plan(p: java.util.Properties) {
    def apply(k: String): String =
      Option(p.getProperty(k)).getOrElse(sys.error(s"plan is missing '$k'"))
    def list(k: String): Seq[String] = apply(k).split(",").map(_.trim).filter(_.nonEmpty).toSeq
  }

  def main(args: Array[String]): Unit = {
    val jvmS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val props = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)), UTF_8)
    try props.load(in) finally in.close()
    val plan = Plan(props)
    val result: Map[String, Any] = plan("mode") match {
      case "setup" => withSession(plan, jvmS)((_, setup) => Map("setup" -> setup))
      case "run" => withSession(plan, jvmS)(run(plan, _, _))
      case m => sys.error(s"unknown mode $m")
    }
    Files.write(Paths.get(plan("out")), json.writeValueAsBytes(result))
    // Everything is measured and written; skip Spark's orderly shutdown,
    // which costs each run seconds and measures nothing.
    Runtime.getRuntime.halt(0)
  }

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Session set-up as each reference driver pays it: session ready, then
    * one untimed warm-up query that no workload runs. Prints the ready
    * marker run.py stops its set-up clock on. */
  private def withSession(plan: Plan, jvmS: Double)(
      body: (SparkSession, Map[String, Double]) => Map[String, Any]): Map[String, Any] = {
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(plan("cores"))
      .config("spark.local.dir", plan("localDir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secsSince(t0)
    val t1 = System.nanoTime()
    noop(SparkEntry.queries(plan("warmup"))(spark, plan("data")))
    val setup = Map("jvm_s" -> jvmS, "session_s" -> sessionS, "warmup_s" -> secsSince(t1))
    println("PERFBENCH_READY")
    System.out.flush()
    body(spark, setup)
  }

  private def run(plan: Plan, spark: SparkSession, setup: Map[String, Double]): Map[String, Any] = {
    val sc = spark.sparkContext
    val data = plan("data")
    val work = plan("work")
    val known = SparkEntry.queries
    val names = plan.list("queries")
    val unknown = names.filterNot(n => n == Etl || known.contains(n))
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(",")}")
    def body(name: String, out: String): () => DataFrame =
      if (name == Etl) () => { TaxiEtl.run(spark, data, out); null }
      else () => known(name)(spark, data)

    val tracer = if (plan("trace") == "1") Some(new Tracer(spark)) else None
    val execs = mutable.ArrayBuffer[Map[String, Any]]()
    var seq = 0

    /** One timed execution. `build` is the time inside the query's own
      * code (`spec.run`, where eager helpers run jobs); `action` is the
      * noop-sink write that consumes every row. The ETL leg is all
      * action. Persisted RDDs the query leaves behind are counted before
      * they are released, so a leak shows instead of being hidden. */
    def execute(name: String, round: Int, traced: Boolean): Unit = {
      seq += 1
      val id = f"${if (traced) "T" else "U"}$seq%05d"
      tracer.foreach(tr => if (traced) { tr.attach(); tr.begin(id) } else tr.detach())
      val cg0 = Gauges.codegen
      val jit0 = Gauges.jitMs
      val fs0 = Gauges.fs
      sc.setJobGroup(id, s"$name round $round", interruptOnCancel = false)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var tb = t0
      val err =
        try {
          val df = body(name, s"$work/etl_out")()
          tb = System.nanoTime()
          if (df != null) noop(df) else tb = t0
          None
        } catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val wall = secsSince(t0)
      val endMs = System.currentTimeMillis()
      sc.clearJobGroup()
      val leaked = sc.getPersistentRDDs.size
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val rec = mutable.LinkedHashMap[String, Any](
        "id" -> id, "q" -> name, "round" -> round, "traced" -> traced,
        "wall" -> wall, "build_s" -> (tb - t0) / 1e9, "action_s" -> (System.nanoTime() - tb) / 1e9,
        "ok" -> err.isEmpty, "error" -> err)
      tracer.filter(_ => traced).foreach { tr =>
        tr.end()
        val cg1 = Gauges.codegen
        val fs1 = Gauges.fs
        rec ++= Seq("leaked_rdds" -> leaked,
          "compiles" -> (cg1._1 - cg0._1), "compile_ms" -> (cg1._2 - cg0._2) / 1e6,
          "bytecode_kb" -> math.max(0.0, cg1._3 - cg0._3) / 1024.0,
          "jit_ms" -> (Gauges.jitMs - jit0),
          "codecache_mb" -> Gauges.codeCacheMb, "metaspace_mb" -> Gauges.metaspaceMb,
          "fs_write_ops" -> (fs1._1 - fs0._1), "fs_write_b" -> (fs1._2 - fs0._2),
          "fs_read_ops" -> (fs1._3 - fs0._3))
        tr.span(Span(id, "workload", "query", name, id, startMs, endMs))
      }
      execs += rec.toMap
    }

    val runStartMs = System.currentTimeMillis()
    val budget = plan("seconds").toDouble
    // A traced run runs every repeat round twice, traced and untraced
    // (listeners detached), so the tracing overhead is measured inside one
    // process over the same number of rounds. The order is traced,
    // untraced, untraced, traced: early rounds run slower while the JIT
    // warms up, and this order cancels that drift.
    val traceRuns = tracer.isDefined
    val rounds = plan("repeatRounds").toInt * (if (traceRuns) 2 else 1)
    def tracedRound(r: Int): Boolean = traceRuns && (r == 0 || r % 4 == 1 || r % 4 == 0)
    // Repeat until both the fixed rounds and the time budget are spent,
    // and never stop a traced run between a traced round and its pair.
    def more(r: Int, t0: Long, budget: Double): Boolean =
      r <= rounds || secsSince(t0) < budget || (traceRuns && r % 2 == 0)
    plan("order") match {
      case "pass" =>
        names.foreach(execute(_, 0, tracedRound(0)))
        val t0 = System.nanoTime()
        var r = 1
        while (more(r, t0, budget)) {
          names.foreach(execute(_, r, tracedRound(r)))
          r += 1
        }
      case "query" =>
        names.foreach { n =>
          execute(n, 0, tracedRound(0))
          val t0 = System.nanoTime()
          var r = 1
          while (more(r, t0, budget / names.size)) {
            execute(n, r, tracedRound(r))
            r += 1
          }
        }
      case o => sys.error(s"unknown order $o")
    }
    val runEndMs = System.currentTimeMillis()
    val memory = Gauges.memoryMb

    val trace = tracer.map { tr =>
      tr.detach()
      tr.span(Span("workload", null, "workload", plan("workload"), null, runStartMs, runEndMs))
      val spansOut = Paths.get(plan("spans"))
      Files.write(spansOut, tr.allSpans.map(json.writeValueAsString).mkString("\n").getBytes(UTF_8))
      execs.filter(_("traced") == true).map { e =>
        val c = tr.counter(e("id").toString)
        val streams = c.streams.values.map(s => s(1) - s(0) - s(2)).sum
        e("id").toString -> Map(
          "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "task_ms" -> c.taskMs, "cpu_ns" -> c.cpuNs, "gc_ms" -> c.gcMs,
          "shuffle_write_b" -> c.shuffleWriteB, "shuffle_read_b" -> c.shuffleReadB,
          "fetch_wait_ms" -> c.fetchWaitMs, "spill_b" -> c.spillB,
          "input_rows" -> c.inputRows, "scan_b" -> c.scanB,
          "output_b" -> c.outputB, "output_rows" -> c.outputRows,
          "block_updates" -> c.blockUpdates, "peak_storage_b" -> c.peakStorageB,
          "actions" -> c.actions, "analysis_ms" -> c.analysisMs,
          "optimization_ms" -> c.optimizationMs, "planning_ms" -> c.planningMs,
          "plan_fp" -> PlanFingerprint(c.planHashes.mkString(",")),
          "batches" -> c.batches, "batch_ms" -> c.batchMs.toSeq,
          "stream_idle_ms" -> streams, "state_rows" -> c.stateRows, "state_b" -> c.stateB)
      }.toMap
    }

    Map("setup" -> setup, "execs" -> execs.toSeq, "memory_mb" -> memory,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version, "cores" -> sc.defaultParallelism,
      "trace" -> trace, "gate" -> gate(plan, spark, names.distinct, body),
      "oracle_sql" -> SparkEntry.oracleSql.filter(kv => names.contains(kv._1)))
  }

  /** Untimed correctness gate, once per run: each query's result goes to
    * parquet for run.py's DuckDB compare, and the parquet/file input rows
    * each query reads are counted from stage input metrics. */
  private def gate(plan: Plan, spark: SparkSession, names: Seq[String],
      body: (String, String) => () => DataFrame): Map[String, Any] = {
    val dir = plan("gateDir")
    val rows = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val jobGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => e.stageIds.foreach(jobGroup.put(_, g)))
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        Option(jobGroup.get(e.stageInfo.stageId)).foreach { g =>
          rows.merge(g, e.stageInfo.taskMetrics.inputMetrics.recordsRead, (a, b) => a + b)
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(counter)
    val errors = mutable.LinkedHashMap[String, String]()
    names.foreach { n =>
      sc.setJobGroup(s"gate:$n", s"$n gate", interruptOnCancel = false)
      try {
        val df = body(n, s"$dir/$n")()
        if (df != null) df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$n")
      } catch { case NonFatal(e) => errors(n) = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      sc.clearJobGroup()
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    // Stage events arrive asynchronously; wait until every gate query's
    // count has stopped moving.
    var last = ""
    var now = rows.toString
    var waits = 0
    while (now != last && waits < 40) { Thread.sleep(250); last = now; now = rows.toString; waits += 1 }
    sc.removeSparkListener(counter)
    Map("errors" -> errors, "input_rows" -> names.map(n =>
      n -> Option(rows.get(s"gate:$n")).map(_.longValue).getOrElse(0L)).toMap)
  }
}
