package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSql
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.SparkEntry
import graft.core.{GraftSession, Materialize}

/** One benchmark run of one workload in a fresh JVM.
  *
  * The run sets up a session and the workload's inputs, runs one cold
  * pass, one warm-up pass that also writes every query's result for the
  * oracle compare, then timed passes that fill `seconds`. Each
  * timed query is called the way the catalog's consumers call it: the
  * catalog function, `stripTrailingSort`, a noop sink, then
  * `Materialize.releaseScratch`. Afterwards it sets up at least four more
  * times, so set-up time is a median. Everything measured lands in
  * `<out>/result.json`; with trace = 1 the timed passes alternate
  * untraced and traced, and the traced ones also record a span tree in
  * `<out>/spans.jsonl`.
  *
  * Usage: PerfBench <workload> <seed> <baseDir> <outDir> <seconds>
  *          <trace 0|1> <cores> <spawnEpochMs>
  */
object PerfBench {

  /** Fewest timed passes of each kind (untraced, traced) in a run. */
  val MinPasses = 3

  /** Largest share of the machine's CPU ticks stolen by the hypervisor
    * in a timed pass that still counts. Passes on a quiet host show
    * 0-0.4%; under other guests' load 1-14%, and 20-40% longer walls. */
  val MaxSteal = 0.01

  /** Local property that tags every Spark job with its pass and query. */
  val TagKey = "perfbench.query"

  /** Workload name -> catalog rows; WORKLOADS.md says why each was chosen. */
  val workloads: Map[String, Seq[String]] = Map(
    "query" -> Seq("a1_pricing_summary", "a18_grouping_sets", "j1_star_revenue",
      "q3_shipping_priority", "q5_local_supplier_volume",
      "w1_rank_top_order_per_cust", "d_ngram_jaccard", "s_embed_neardup"),
    "pipeline" -> Seq("e_pagerank", "pl_rag_index", "io_partitioned_sink",
      "st_stream_etl"))

  private def now(): Long = System.nanoTime()
  private def secs(from: Long, to: Long): Double = (to - from) / 1e9

  // ---------------------------------------------------------------- inputs

  private val KeyOffset = 1000000000L
  private val NearDupCopies = 3

  /** Land the workload's inputs in `dir`: a private copy of the base
    * tables, and for `query` a ×3 corpus of seeded near-duplicate
    * documents and embeddings (copy 0 is the base row; copies 1 and 2 are
    * perturbed by `ScaleSmoke`'s mutators on a seed-dependent stream). */
  def landInputs(spark: SparkSession, workload: String, seed: Long,
                 base: String, dir: String): Unit = {
    new File(dir).mkdirs()
    Option(new File(base).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        Files.copy(f.toPath, Paths.get(dir, f.getName))
      }
    if (workload == "query") {
      val stream = seed * NearDupCopies
      val mutText = udf((t: String, c: Int) => graft.ScaleSmoke.mutateText(t, c))
      val mutVec = udf((v: Seq[Float], c: Int) => graft.ScaleSmoke.mutateVec(v, c))
      def copies(table: String, key: String)(mutate: (DataFrame, Column) => DataFrame)
          : Unit = {
        val src = spark.read.parquet(s"$base/$table.parquet")
        val all = (0 until NearDupCopies).map { i =>
          val shifted = src.withColumn(key, col(key) + lit(i * KeyOffset))
          if (i == 0) shifted else mutate(shifted, lit((stream + i).toInt))
        }.reduce(_ unionAll _)
        new File(s"$dir/$table.parquet").delete()
        all.write.parquet(s"$dir/$table.parquet")
      }
      copies("documents", "doc_id") { (df, c) =>
        df.withColumn("text", mutText(col("text"), c))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
      copies("embeddings", "vec_id") { (df, c) =>
        df.withColumn("embedding", mutVec(col("embedding"), c))
      }
    }
  }

  // ---------------------------------------------------------------- tracer

  final case class JobRec(id: Int, tag: String, startMs: Long, var endMs: Long,
                          stageIds: Seq[Int])
  final case class StageRec(id: Int, attempt: Int, submittedMs: Long,
                            completedMs: Long, tasks: Int, runMs: Long,
                            cpuNs: Long, gcMs: Long, shuffleRead: Long,
                            shuffleWrite: Long, spill: Long, input: Long)
  final case class PlanRec(analysisMs: Long, optimizationMs: Long,
                           planningMs: Long, commitMs: Long, files: Long,
                           outBytes: Long)

  /** One listener for every layer the trace reports: jobs and stages from
    * the scheduler, planning phases and write-command metrics from each
    * finished query execution. Records accumulate until [[take]]. */
  final class Tracer extends SparkListener with QueryExecutionListener {
    private val jobs = mutable.ArrayBuffer[JobRec]()
    private val stages = mutable.ArrayBuffer[StageRec]()
    private val plans = mutable.ArrayBuffer[PlanRec]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey)))
      jobs += JobRec(e.jobId, tag.getOrElse(""), e.time, e.time, e.stageIds)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = e.stageInfo
      val m = s.taskMetrics
      val sub = s.submissionTime.getOrElse(0L)
      def metric(f: org.apache.spark.executor.TaskMetrics => Long): Long =
        if (m == null) 0L else f(m)
      stages += StageRec(s.stageId, s.attemptNumber(), sub,
        s.completionTime.getOrElse(sub), s.numTasks,
        metric(_.executorRunTime), metric(_.executorCpuTime), metric(_.jvmGCTime),
        metric(_.shuffleReadMetrics.totalBytesRead),
        metric(_.shuffleWriteMetrics.bytesWritten),
        metric(_.diskBytesSpilled), metric(_.inputMetrics.bytesRead))
    }

    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      def phase(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      val writes = writeMetrics(qe.executedPlan)
      def sum(k: String): Long = writes.flatMap(_.get(k)).map(_.value).sum
      val rec = PlanRec(phase("analysis"), phase("optimization"),
        phase("planning"), sum("taskCommitTime") + sum("jobCommitTime"),
        sum("numFiles"), sum("numOutputBytes"))
      synchronized { plans += rec }
    }

    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()

    private def writeMetrics(p: SparkPlan)
        : Seq[Map[String, org.apache.spark.sql.execution.metric.SQLMetric]] =
      p match {
        case w: DataWritingCommandExec => Seq(w.cmd.metrics)
        case c: CommandResultExec => writeMetrics(c.commandPhysicalPlan)
        case a: AdaptiveSparkPlanExec => writeMetrics(a.executedPlan)
        case other => other.children.flatMap(writeMetrics)
      }

    /** Everything recorded since the last call. */
    def take(): (Seq[JobRec], Seq[StageRec], Seq[PlanRec]) = synchronized {
      val r = (jobs.toList, stages.toList, plans.toList)
      jobs.clear(); stages.clear(); plans.clear()
      r
    }
  }

  // ------------------------------------------------------------ query runs

  final case class QueryRun(name: String, startMs: Long, buildEndMs: Long,
                            endMs: Long, buildS: Double, sinkS: Double,
                            releaseS: Double, failure: Option[String],
                            rowsOut: Long, jobs: Seq[JobRec],
                            stages: Seq[StageRec], plans: Seq[PlanRec],
                            codegenCompiles: Long) {
    def wallS: Double = buildS + sinkS + releaseS
  }

  final case class PassRun(index: Int, kind: String, traced: Boolean,
                           startMs: Long, endMs: Long, queries: Seq[QueryRun],
                           cpuS: Double, stealShare: Double, jitS: Double,
                           gcS: Double, codegenCompiles: Long, classesLoaded: Long) {
    def wallS: Double = queries.map(_.wallS).sum
  }

  final class Runner(spark: SparkSession, inputDir: String, names: Seq[String],
                     seed: Long) {
    private val sc = spark.sparkContext
    private val catalog = SparkEntry.queries
    private val oracle = SparkEntry.oracleSql
    val tracer = new Tracer

    /** Query order of every pass, drawn from the seed. One order for all
      * passes, so that every pass does the same work in the same
      * sequence (see WORKLOADS.md). */
    val order: Seq[String] = new scala.util.Random(seed * 1000003L).shuffle(names)

    def query(name: String, pass: Int, traced: Boolean,
              resultsDir: Option[String]): QueryRun = {
      sc.setLocalProperty(TagKey, s"$pass/$name")
      val cg0 = codegenCompiles()
      val startMs = System.currentTimeMillis()
      val t0 = now()
      var t1 = t0
      var buildEndMs = startMs
      var failure: Option[String] = None
      var rows = -1L
      try {
        val df = catalog(name)(spark, inputDir)
        t1 = now(); buildEndMs = System.currentTimeMillis()
        resultsDir match {
          case Some(dir) =>
            // the result for the oracle compare, written the way the
            // correctness dump writes it; a row without an oracle is
            // written twice so the two fingerprints can be compared
            val copies = if (oracle.contains(name)) Seq(name) else Seq(name, s"$name~2")
            copies.foreach(leaf =>
              df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$leaf"))
          case None =>
            val stripped = GraftSql.stripTrailingSort(df)
            val obs = if (traced) Some(Observation(s"perfbench_rows_${pass}_$name")) else None
            val sink = obs.fold(stripped)(o => stripped.observe(o, count(lit(1)).as("rows")))
            sink.write.format("noop").mode("overwrite").save()
            obs.foreach(o => rows = o.get("rows").asInstanceOf[Long])
        }
      } catch {
        case e: Throwable =>
          if (t1 == t0) { t1 = now(); buildEndMs = System.currentTimeMillis() }
          failure = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
      val t2 = now()
      Materialize.releaseScratch(spark)
      val t3 = now()
      val endMs = System.currentTimeMillis()
      sc.setLocalProperty(TagKey, null)
      val (jobs, stages, plans) =
        if (traced) { org.apache.spark.perfbench.Bus.drain(sc); tracer.take() }
        else (Nil, Nil, Nil)
      QueryRun(name, startMs, buildEndMs, endMs, secs(t0, t1), secs(t1, t2),
        secs(t2, t3), failure, rows, jobs, stages, plans, codegenCompiles() - cg0)
    }

    def pass(index: Int, kind: String, traced: Boolean = false,
             resultsDir: Option[String] = None): PassRun = {
      if (traced) {
        sc.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      }
      val startMs = System.currentTimeMillis()
      val (cpu0, stat0, jit0, gc0) = (processCpuNs(), cpuTicks(), jitMs(), gcMs())
      val (cg0, cl0) = (codegenCompiles(), classesLoaded())
      val qs = order.map(query(_, index, traced, resultsDir))
      val (cpu1, stat1, jit1, gc1) = (processCpuNs(), cpuTicks(), jitMs(), gcMs())
      val (cg1, cl1) = (codegenCompiles(), classesLoaded())
      val endMs = System.currentTimeMillis()
      System.err.println(f"perfbench: pass $index%d ($kind%s${if (traced) ", traced" else ""}%s) " +
        f"${qs.map(_.wallS).sum}%.3f s")
      if (traced) {
        org.apache.spark.perfbench.Bus.drain(sc)
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
        tracer.take()
      }
      PassRun(index, kind, traced, startMs, endMs, qs, secs(cpu0, cpu1),
        stealShare(stat0, stat1), (jit1 - jit0) / 1e3, (gc1 - gc0) / 1e3,
        cg1 - cg0, cl1 - cl0)
    }
  }

  // ------------------------------------------------------------ host state

  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def classesLoaded(): Long =
    ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** The machine's aggregate CPU tick counters (the `cpu` line of
    * /proc/stat), or empty where unreadable. */
  private def cpuTicks(): Array[Long] =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).map(_.toLong)
    catch { case _: Throwable => Array.empty }

  /** Share of the machine's CPU ticks between two samples that the
    * hypervisor gave to someone else (steal): how contended the host was. */
  private def stealShare(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) 0.0
    else {
      val total = (0 until 8).map(i => b(i) - a(i)).sum
      if (total <= 0) 0.0 else (b(7) - a(7)).toDouble / total
    }

  private def loadAvg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3)
      .mkString(",")
    catch { case _: Throwable => "" }

  /** Fixed trivial job (plan + schedule + one-stage aggregate + noop
    * sink), min of three after one warm-up: the per-job floor of the
    * host at the time of the run. */
  private def floorProbe(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = now()
      spark.range(1000000L).selectExpr("sum(id) AS s")
        .write.format("noop").mode("overwrite").save()
      secs(t0, now())
    }
    once()
    (1 to 3).map(_ => once()).min
  }

  /** Heap left in use after full collections, in MB. Each collection
    * lets Spark's cleaner release the blocks of broadcasts, shuffles and
    * checkpoints the pass dropped, which a later one then frees; the
    * cleaner polls every 100 ms and removes blocks asynchronously, so
    * collect until two rounds in a row free less than 1 MB. */
  private def liveHeapMb(): Double = {
    def collected(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var cur = collected()
    var steady = 0
    var rounds = 0
    while (steady < 2 && rounds < 10) {
      Thread.sleep(250)
      val next = collected()
      steady = if (cur - next > (1L << 20)) 0 else steady + 1
      cur = math.min(cur, next)
      rounds += 1
    }
    cur / (1024.0 * 1024.0)
  }

  // ------------------------------------------------------------ reporting

  private def j(d: Double): JValue = JDouble(d)
  private def j(l: Long): JValue = JLong(l)
  private def j(s: String): JValue = JString(s)

  private def queryJson(q: QueryRun): JValue = JObject(
    "name" -> j(q.name), "wall_s" -> j(q.wallS), "build_s" -> j(q.buildS),
    "sink_s" -> j(q.sinkS), "release_s" -> j(q.releaseS),
    "codegen_compiles" -> j(q.codegenCompiles),
    "failure" -> q.failure.map(j).getOrElse(JNull))

  /** Layer totals of one traced pass (see WORKLOADS.md for each name). */
  def layers(p: PassRun): Seq[(String, Double)] = {
    val qs = p.queries
    val stages = qs.flatMap(_.stages)
    val plans = qs.flatMap(_.plans)
    val jobs = qs.map(_.jobs.size).sum
    def sumS(f: QueryRun => Double) = qs.map(f).sum
    // union of the intervals in which some stage was running
    val busyMs = stages.map(s => (s.submittedMs, s.completedMs)).sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, end), (a, b)) =>
        if (b <= end) (acc, end)
        else (acc + (b - math.max(a, end)), b)
      }._1
    val wall = p.wallS
    val planS = plans.map(r => r.analysisMs + r.optimizationMs + r.planningMs).sum / 1e3
    val runS = stages.map(_.runMs).sum / 1e3
    val cpuS = stages.map(_.cpuNs).sum / 1e9
    val mb = 1024.0 * 1024.0
    val gap = wall - busyMs / 1e3
    val release = sumS(_.releaseS)
    def family(prefix: String) =
      qs.filter(_.name.startsWith(prefix)).map(_.wallS).sum
    Seq(
      "core.release_s" -> release,
      "queries.build_s" -> sumS(_.buildS),
      "queries.sink_s" -> sumS(_.sinkS),
      "queries.rows_out" -> qs.map(_.rowsOut.max(0L)).sum.toDouble,
      "plans.analysis_s" -> plans.map(_.analysisMs).sum / 1e3,
      "plans.optimization_s" -> plans.map(_.optimizationMs).sum / 1e3,
      "plans.planning_s" -> plans.map(_.planningMs).sum / 1e3,
      "scheduler.jobs" -> jobs.toDouble,
      "scheduler.stages" -> stages.size.toDouble,
      "scheduler.tasks" -> stages.map(_.tasks).sum.toDouble,
      "scheduler.tasks_per_stage" ->
        (if (stages.isEmpty) 0.0 else stages.map(_.tasks).sum.toDouble / stages.size),
      "scheduler.busy_s" -> busyMs / 1e3,
      "scheduler.driver_gap_s" -> gap,
      "scheduler.gap_per_job_ms" -> (if (jobs == 0) 0.0 else gap * 1e3 / jobs),
      "operators.task_run_s" -> runS,
      "operators.task_cpu_s" -> cpuS,
      "operators.cpu_share" -> (if (runS == 0) 0.0 else cpuS / runS),
      "operators.shuffle_read_mb" -> stages.map(_.shuffleRead).sum / mb,
      "operators.shuffle_write_mb" -> stages.map(_.shuffleWrite).sum / mb,
      "operators.spill_mb" -> stages.map(_.spill).sum / mb,
      "operators.gc_s" -> stages.map(_.gcMs).sum / 1e3,
      "sources.input_mb" -> stages.map(_.input).sum / mb,
      "sources.output_mb" -> plans.map(_.outBytes).sum / mb,
      "sources.files_written" -> plans.map(_.files).sum.toDouble,
      "sources.commit_s" -> plans.map(_.commitMs).sum / 1e3,
      "streaming.query_s" -> family("st_"),
      "pipelines.query_s" -> family("pl_"),
      "trace.residual_s" -> (wall - planS - busyMs / 1e3 - release))
  }

  /** Span tree of one traced pass: pass -> query -> build/sink -> job ->
    * stage, one JSON object per line. */
  private def spans(p: PassRun, runId: String, out: mutable.ArrayBuffer[String]): Unit = {
    def emit(fields: (String, JValue)*): Unit = out += compact(render(JObject(fields: _*)))
    val passId = s"$runId/p${p.index}"
    emit("span" -> j("pass"), "id" -> j(passId), "parent" -> j(runId),
      "index" -> j(p.index.toLong), "start_ms" -> j(p.startMs), "end_ms" -> j(p.endMs),
      "wall_s" -> j(p.wallS))
    p.queries.foreach { q =>
      val qid = s"$passId/${q.name}"
      emit("span" -> j("query"), "id" -> j(qid), "parent" -> j(passId),
        "name" -> j(q.name), "start_ms" -> j(q.startMs), "end_ms" -> j(q.endMs),
        "wall_s" -> j(q.wallS), "release_s" -> j(q.releaseS),
        "rows_out" -> j(q.rowsOut),
        "analysis_ms" -> j(q.plans.map(_.analysisMs).sum),
        "optimization_ms" -> j(q.plans.map(_.optimizationMs).sum),
        "planning_ms" -> j(q.plans.map(_.planningMs).sum),
        "commit_ms" -> j(q.plans.map(_.commitMs).sum),
        "failure" -> q.failure.map(j).getOrElse(JNull))
      emit("span" -> j("build"), "id" -> j(s"$qid/build"), "parent" -> j(qid),
        "start_ms" -> j(q.startMs), "end_ms" -> j(q.buildEndMs), "wall_s" -> j(q.buildS))
      emit("span" -> j("sink"), "id" -> j(s"$qid/sink"), "parent" -> j(qid),
        "start_ms" -> j(q.buildEndMs), "end_ms" -> j(q.endMs), "wall_s" -> j(q.sinkS))
      val stageById = q.stages.groupBy(_.id)
      q.jobs.foreach { jb =>
        val parent = if (jb.startMs < q.buildEndMs) s"$qid/build" else s"$qid/sink"
        val jid = s"$passId/job${jb.id}"
        emit("span" -> j("job"), "id" -> j(jid), "parent" -> j(parent),
          "job_id" -> j(jb.id.toLong), "tag" -> j(jb.tag),
          "start_ms" -> j(jb.startMs), "end_ms" -> j(jb.endMs))
        jb.stageIds.flatMap(stageById.getOrElse(_, Nil)).foreach { s =>
          emit("span" -> j("stage"), "id" -> j(s"$jid/stage${s.id}.${s.attempt}"),
            "parent" -> j(jid), "stage_id" -> j(s.id.toLong),
            "start_ms" -> j(s.submittedMs), "end_ms" -> j(s.completedMs),
            "tasks" -> j(s.tasks.toLong), "run_ms" -> j(s.runMs),
            "cpu_ms" -> j(s.cpuNs / 1000000L), "gc_ms" -> j(s.gcMs),
            "shuffle_read_bytes" -> j(s.shuffleRead),
            "shuffle_write_bytes" -> j(s.shuffleWrite),
            "spill_bytes" -> j(s.spill), "input_bytes" -> j(s.input))
        }
      }
    }
  }

  // ------------------------------------------------------------------ main

  def main(args: Array[String]): Unit = {
    val Array(wl, seedS, base, outDir, secondsS, traceS, coresS, spawnS) = args
    val (seed, seconds, trace, cores, spawnMs) =
      (seedS.toLong, secondsS.toDouble, traceS == "1", coresS.toInt, spawnS.toLong)
    val names = workloads.getOrElse(wl,
      throw new IllegalArgumentException(s"unknown workload '$wl'"))
    val loadPre = loadAvg()
    val scratch = System.getProperty("java.io.tmpdir")

    /** Session plus inputs; returns (session, session_s, input_gen_s). */
    def setUp(k: Int): (SparkSession, Double, Double) = {
      val t0 = now()
      val spark = GraftSession.local(cores, s"perfbench-$wl")
      val t1 = now()
      landInputs(spark, wl, seed, base, s"$scratch/inputs$k")
      (spark, secs(t0, t1), secs(t1, now()))
    }
    val (spark, session0, gen0) = setUp(0)
    val setup0 = (System.currentTimeMillis() - spawnMs) / 1e3
    val runner = new Runner(spark, s"$scratch/inputs0", names, seed)

    val passes = mutable.ArrayBuffer[PassRun]()
    // a full collection after each pass, so no pass pays for the last
    // one's garbage. The live heap is measured after the warm-up and after
    // the last timed pass, so that no timed pass follows the measurement's
    // repeated collections
    val liveHeap = mutable.ArrayBuffer[Double]()
    def between(): Unit = if (passes.size == 2) liveHeap += liveHeapMb() else System.gc()
    val resultsDir = s"$outDir/results"
    passes += runner.pass(0, "cold")
    between()
    passes += runner.pass(1, "warmup", resultsDir = Some(resultsDir))
    between()
    val timedStart = now()
    var i = 2
    def timedCount(traced: Boolean, clean: Boolean) = passes.count(p =>
      p.kind == "timed" && p.traced == traced && (!clean || p.stealShare <= MaxSteal))
    // timed passes fill `seconds`: the next one starts only if a pass as
    // long as the last still ends inside it. At least three untraced
    // passes for the medians; a traced run alternates untraced and traced
    // passes, at least three of each
    val (minPlain, minTraced) = if (trace) (MinPasses, MinPasses) else (MinPasses, 0)
    def enough(clean: Boolean) =
      timedCount(false, clean) >= minPlain && timedCount(true, clean) >= minTraced
    var lastS = 0.0
    while (!enough(clean = false) || secs(timedStart, now()) + lastS <= seconds) {
      val t0 = now()
      passes += runner.pass(i, "timed", traced = trace && i % 2 == 0)
      between()
      lastS = secs(t0, now())
      i += 1
    }
    // A pass during which the hypervisor ran other guests on this
    // machine's CPUs for more than MaxSteal of its ticks timed the host,
    // not the engine: the medians use the clean passes, or every timed
    // pass if fewer than the minimum are clean
    val counted: PassRun => Boolean =
      if (enough(clean = true)) p => p.kind == "timed" && p.stealShare <= MaxSteal
      else _.kind == "timed"
    val timedS = secs(timedStart, now())
    liveHeap += liveHeapMb()
    val floor = floorProbe(spark)

    val oracleJson = JObject(names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> j(_))): _*)
    Files.writeString(Paths.get(s"$resultsDir/oracle_sql.json"), compact(render(oracleJson)))
    spark.stop()

    // set up again in the warm JVM, at least four times and for at least
    // two seconds (at most eight times); setup_s reports the median
    val resetupStart = now()
    val resetups = mutable.ArrayBuffer[(Double, Double, Double)]()
    while (resetups.size < 4 || (secs(resetupStart, now()) < 2.0 && resetups.size < 8)) {
      val t0 = now()
      val (s, sess, gen) = setUp(resetups.size + 1)
      val total = secs(t0, now())
      s.stop()
      resetups += ((total, sess, gen))
    }
    val setups = (setup0, session0, gen0) +: resetups.toSeq

    val runId = s"$wl/seed$seed"
    val timed = passes.filter(_.kind == "timed")
    val spanLines = mutable.ArrayBuffer[String]()
    if (trace) {
      spanLines += compact(render(JObject("span" -> j("run"), "id" -> j(runId),
        "workload" -> j(wl), "seed" -> j(seed), "start_ms" -> j(spawnMs),
        "end_ms" -> j(System.currentTimeMillis()))))
      timed.filter(_.traced).foreach(spans(_, runId, spanLines))
      Files.writeString(Paths.get(s"$outDir/spans.jsonl"), spanLines.mkString("", "\n", "\n"))
    }

    val rt = Runtime.getRuntime
    val result = JObject(
      "workload" -> j(wl), "seed" -> j(seed), "trace" -> JBool(trace),
      "queries" -> JArray(names.map(j).toList),
      "setups" -> JArray(setups.map { case (t, s, g) =>
        JObject("setup_s" -> j(t), "session_s" -> j(s), "input_gen_s" -> j(g)) }.toList),
      "passes" -> JArray(passes.map { p =>
        JObject("index" -> j(p.index.toLong), "kind" -> j(p.kind),
          "traced" -> JBool(p.traced), "counted" -> JBool(counted(p)),
          "wall_s" -> j(p.wallS),
          "cpu_s" -> j(p.cpuS), "steal_share" -> j(p.stealShare),
          "jit_s" -> j(p.jitS), "gc_s" -> j(p.gcS),
          "codegen_compiles" -> j(p.codegenCompiles), "classes_loaded" -> j(p.classesLoaded),
          "queries" -> JArray(p.queries.map(queryJson).toList),
          "layers" -> (if (p.traced) JObject(layers(p).map { case (k, v) => k -> j(v) }: _*)
                       else JNull))
      }.toList),
      "timed_region_s" -> j(timedS),
      "live_heap_mb" -> JArray(liveHeap.map(j).toList),
      "peak_heap_mb" -> j(liveHeap.max),
      "host" -> JObject(
        "nproc" -> j(rt.availableProcessors().toLong), "cores" -> j(cores.toLong),
        "max_heap_mb" -> j(rt.maxMemory() / (1024.0 * 1024.0)),
        "loadavg_pre" -> j(loadPre), "loadavg_post" -> j(loadAvg()),
        "floor_probe_s" -> j(floor),
        "java" -> j(System.getProperty("java.version"))))
    Files.writeString(Paths.get(s"$outDir/result.json"), compact(render(result)))
  }
}
