package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

/** Traced runs only: spans and per-layer counts, recorded from the
  * harness's side of each layer boundary.
  *
  * Span hierarchy, all spans of one query sharing its id (`pass/key`):
  * `query` → `build` (the operator's `QueryDef.build`) and `execute`
  * (plan + run + hash) → `catalyst.*` phases from the query's
  * `QueryExecution.tracker`, placed under whichever of the two contains
  * them → `job` (tied to the query by its job group, and to `build` or
  * `execute` by a local property) → `stage`. Spans stay in memory and are
  * written out once, when the run ends.
  *
  * Counts are summed per pass. Task-level counts reach the pass through
  * stage → job → job group, so no listener-bus timing is involved.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val perPass = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private val recorder = new Recorder
  sc.addSparkListener(recorder)

  private def add(pass: Int, name: String, v: Double): Unit = {
    val m = perPass.getOrElseUpdate(pass, mutable.Map.empty)
    m(name) = m.getOrElse(name, 0.0) + v
  }
  private def max(pass: Int, name: String, v: Double): Unit = {
    val m = perPass.getOrElseUpdate(pass, mutable.Map.empty)
    m(name) = math.max(m.getOrElse(name, 0.0), v)
  }
  private def newSpan(parent: Int, qid: String, kind: String, start: Double,
                      end: Double): Int = {
    spans += Span(spans.size, parent, qid, kind, start, end)
    spans.size - 1
  }

  private var passStart = JvmCounters.zero
  def beginPass(pass: Int): Unit = passStart = JvmCounters.read()
  def endPass(pass: Int): Unit = {
    val d = JvmCounters.read().minus(passStart)
    add(pass, "jvm.gc_ms", d.gcMs)
    add(pass, "jvm.gc_count", d.gcCount)
    add(pass, "jit.compile_ms", d.jitMs)
    add(pass, "codegen.compiles", d.codegenCount)
    add(pass, "codegen.compile_ms", d.codegenMs)
  }

  /** Runs one query under tracing: `build` then `exec`, each in its span. */
  def query(pass: Int, key: String)(build: => DataFrame)
           (exec: DataFrame => Harness.Outcome): Harness.Outcome = {
    val qid = s"$pass/$key"
    val persistedBefore = sc.getPersistentRDDs.keys.maxOption.getOrElse(-1)
    sc.setJobGroup(qid, key, interruptOnCancel = false)
    val q = newSpan(-1, qid, "query", nowMs, Double.NaN)
    var df: DataFrame = null
    try {
      sc.setLocalProperty(PhaseProperty, "build")
      val b0 = nowMs
      try df = build
      finally {
        val b = newSpan(q, qid, "build", b0, nowMs)
        add(pass, "operators.build_ms", spans(b).end - b0)
      }
      sc.setLocalProperty(PhaseProperty, "execute")
      val e0 = nowMs
      try exec(df)
      finally newSpan(q, qid, "execute", e0, nowMs)
    } finally {
      sc.setLocalProperty(PhaseProperty, null)
      sc.clearJobGroup()
      spans(q) = spans(q).copy(end = nowMs)
      if (df != null) afterQuery(pass, q, qid, df, persistedBefore)
    }
  }

  private def afterQuery(pass: Int, q: Int, qid: String, df: DataFrame,
                         persistedBefore: Int): Unit = {
    val qe = df.queryExecution
    qe.tracker.phases.foreach { case (phase, s) =>
      val name = CatalystNames.getOrElse(phase, phase)
      add(pass, s"catalyst.${name}_ms", s.durationMs.toDouble)
      val (start, end) = (s.startTimeMs.toDouble, s.endTimeMs.toDouble)
      val parent = spans.indices.reverseIterator
        .find(i => spans(i).qid == qid && spans(i).kind != "query" &&
          spans(i).start <= start && end <= spans(i).end + 1)
        .getOrElse(q)
      newSpan(parent, qid, s"catalyst.$name", start, end)
    }
    val nodes = planNodes(qe.executedPlan)
    add(pass, "exchange.shuffles", nodes.count(_.isInstanceOf[ShuffleExchangeLike]))
    add(pass, "exchange.broadcasts", nodes.count(_.isInstanceOf[BroadcastExchangeLike]))
    add(pass, "cache.scans", nodes.count(_.isInstanceOf[InMemoryTableScanExec]))
    // Blocks cached while this query ran: HotCache slots and
    // Checkpoints.cut fills, read back from the block manager.
    sc.getRDDStorageInfo.filter(_.id > persistedBefore).foreach { r =>
      add(pass, "cache.blocks", r.numCachedPartitions)
      add(pass, "cache.mem_bytes", r.memSize.toDouble)
      add(pass, "cache.disk_bytes", r.diskSize.toDouble)
    }
  }

  /** Call after the SparkContext has stopped (the listener bus is then
    * drained). Writes the spans, when asked, and returns the per-layer
    * metrics as a JSON object: codegen and JIT from the first pass, where
    * compilation happens; everything else the median over the warm passes
    * (those from `Harness.WarmupPasses` on, as for the untraced metrics),
    * then `passTimes`: the run's pass times, measured as untraced runs
    * measure them, so that the two give the tracing overhead.
    */
  def finish(spansPath: Option[String], passTimes: Seq[(String, Double)]): String = {
    recorder.fold(this)
    val byPass = perPass.toSeq.sortBy(_._1).map(_._2)
    val warm = byPass.drop(Harness.WarmupPasses)
    val names = LayerMetrics.filterNot(FirstPassOnly.contains)
    val values = names.map { n =>
      n -> Harness.median(warm.map(_.getOrElse(n, 0.0)))
    } ++ FirstPassOnly.map(n => n -> byPass.head.getOrElse(n, 0.0)) ++ passTimes
    spansPath.foreach { p =>
      val lines = spans.iterator.map(s =>
        s"""{"id":${s.id},"parent":${s.parent},"qid":${Harness.jsonStr(s.qid)},""" +
          s""""kind":"${s.kind}","start_ms":${Harness.num(s.start)},""" +
          s""""end_ms":${Harness.num(s.end)},"self_ms":${Harness.num(selfMs(s.id))}}""")
      Files.write(Paths.get(p), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    values.map { case (k, v) => Harness.jsonStr(k) + ":" + Harness.num(v) }
      .mkString("{", ",", "}")
  }

  private lazy val children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** A span's duration minus the part of it that its children cover. */
  private def selfMs(id: Int): Double = {
    val s = spans(id)
    val iv = children.getOrElse(id, Nil)
      .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var (curA, curB) = (Double.NaN, Double.NaN)
    iv.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) covered += curB - curA
    (s.end - s.start) - covered
  }

  /** Listener side. Its state is written on the listener-bus thread and
    * read only after the context has stopped.
    */
  private final class Recorder extends SparkListener {
    private val jobs = mutable.Map.empty[Int, Job]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val stageSpans = mutable.ArrayBuffer.empty[(Int, Double, Double)]
    // per stage: (shuffle-read bytes summed, largest task, task count)
    private val stageReads = mutable.Map.empty[Int, (Long, Long, Int)]
    private val taskAdds = mutable.ArrayBuffer.empty[(Int, String, Double)]
    private val taskMaxes = mutable.ArrayBuffer.empty[(Int, String, Double)]

    private def passOf(stageId: Int): Option[Int] =
      stageJob.get(stageId).flatMap(jobs.get).flatMap(j => passOfQid(j.qid))

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val qid = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
      val phase = props.flatMap(p => Option(p.getProperty(PhaseProperty))).orNull
      jobs(e.jobId) = Job(qid, phase, e.time.toDouble, Double.NaN)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stageSpans += ((i.stageId, s.toDouble, c.toDouble))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = passOf(e.stageId).foreach { p =>
      def add(n: String, v: Double): Unit = taskAdds += ((p, n, v))
      add("scheduler.tasks", 1)
      if (e.reason != Success) add("scheduler.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("scheduler.task_overhead_ms", e.taskInfo.duration - m.executorRunTime)
        add("exec.run_ms", m.executorRunTime.toDouble)
        add("exec.cpu_ms", m.executorCpuTime / 1e6)
        add("exec.gc_ms", m.jvmGCTime.toDouble)
        add("exec.wait_ms", m.executorRunTime - m.executorCpuTime / 1e6)
        add("scan.bytes", m.inputMetrics.bytesRead.toDouble)
        add("scan.records", m.inputMetrics.recordsRead.toDouble)
        add("exchange.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("exchange.write_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
        add("exchange.write_ms", m.shuffleWriteMetrics.writeTime / 1e6)
        add("exchange.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add("memory.spill_bytes", m.diskBytesSpilled.toDouble)
        taskMaxes += ((p, "memory.peak_task_mb", m.peakExecutionMemory / 1048576.0))
        val rd = m.shuffleReadMetrics.totalBytesRead
        val (sum, mx, n) = stageReads.getOrElse(e.stageId, (0L, 0L, 0))
        stageReads(e.stageId) = (sum + rd, math.max(mx, rd), n + 1)
      }
    }

    /** Moves everything recorded into the tracer's per-pass counts and
      * spans.
      */
    def fold(t: Tracer): Unit = {
      taskAdds.foreach { case (p, n, v) => t.add(p, n, v) }
      taskMaxes.foreach { case (p, n, v) => t.max(p, n, v) }
      stageReads.foreach { case (stage, (sum, mx, n)) =>
        if (n > 1 && sum > 0) passOf(stage).foreach(p =>
          t.max(p, "exchange.read_skew", mx / (sum.toDouble / n)))
      }
      val parentOf = t.spans.iterator
        .filter(s => s.kind == "build" || s.kind == "execute")
        .map(s => (s.qid, s.kind) -> s.id).toMap
      val jobSpan = mutable.Map.empty[Int, Int]
      jobs.toSeq.sortBy(_._1).foreach { case (id, j) =>
        passOfQid(j.qid).foreach { p =>
          t.add(p, "scheduler.jobs", 1)
          if (j.phase == "build") t.add(p, "operators.build_jobs", 1)
          val parent = parentOf.getOrElse((j.qid, j.phase), -1)
          jobSpan(id) = t.newSpan(parent, j.qid, "job", j.start, j.end)
        }
      }
      stageSpans.foreach { case (stage, s, c) =>
        for (job <- stageJob.get(stage); js <- jobSpan.get(job)) {
          passOf(stage).foreach(p => t.add(p, "scheduler.stages", 1))
          t.newSpan(js, t.spans(js).qid, "stage", s, c)
        }
      }
      t.spans.indices.foreach { i =>
        val s = t.spans(i)
        passOfQid(s.qid).foreach(p => t.add(p, s"self_ms.${s.kind}", t.selfMs(i)))
      }
    }
  }
}

object Tracer {
  private final case class Job(qid: String, phase: String, start: Double, var end: Double)

  final case class Span(id: Int, parent: Int, qid: String, kind: String,
                        start: Double, end: Double)

  val PhaseProperty = "perfbench.phase"
  private val CatalystNames =
    Map("analysis" -> "analysis", "optimization" -> "optimizer", "planning" -> "planning")

  private def passOfQid(qid: String): Option[Int] =
    Option(qid).flatMap(_.takeWhile(_ != '/').toIntOption)

  /** Compilation happens in the first pass; later passes hit the caches. */
  val FirstPassOnly: Seq[String] = Seq("codegen.compiles", "codegen.compile_ms", "jit.compile_ms")

  /** Every per-layer metric a traced run reports (see BENCHMARK.json). */
  val LayerMetrics: Seq[String] = Seq(
    "operators.build_ms", "operators.build_jobs",
    "catalyst.analysis_ms", "catalyst.optimizer_ms", "catalyst.planning_ms",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "scheduler.task_overhead_ms", "scheduler.failed_tasks",
    "scan.bytes", "scan.records",
    "exchange.shuffles", "exchange.broadcasts", "exchange.write_bytes",
    "exchange.write_records", "exchange.write_ms", "exchange.fetch_wait_ms",
    "exchange.read_skew",
    "memory.spill_bytes", "memory.peak_task_mb",
    "cache.blocks", "cache.mem_bytes", "cache.disk_bytes", "cache.scans",
    "jvm.gc_ms", "jvm.gc_count", "exec.cpu_ms", "exec.run_ms", "exec.gc_ms",
    "exec.wait_ms",
    "self_ms.query", "self_ms.build", "self_ms.execute",
    "self_ms.catalyst.analysis", "self_ms.catalyst.optimizer",
    "self_ms.catalyst.planning", "self_ms.job", "self_ms.stage",
  ) ++ FirstPassOnly

  /** Nodes of a final (post-AQE) physical plan, subqueries included.
    * A reused exchange is counted once, where it was built.
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case _: ReusedExchangeExec => Nil
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  /** Process-wide JVM counters read over JMX and Spark's codegen metrics. */
  final case class JvmCounters(gcMs: Double, gcCount: Double, jitMs: Double,
                               codegenCount: Double, codegenMs: Double) {
    def minus(o: JvmCounters): JvmCounters = JvmCounters(gcMs - o.gcMs,
      gcCount - o.gcCount, jitMs - o.jitMs, codegenCount - o.codegenCount,
      codegenMs - o.codegenMs)
  }
  object JvmCounters {
    val zero: JvmCounters = JvmCounters(0, 0, 0, 0, 0)
    def read(): JvmCounters = {
      val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      val compile = CodegenMetrics.METRIC_COMPILATION_TIME
      // The histogram keeps every sample until its reservoir (1028) is
      // full; past that the sum is estimated from the mean.
      val snap = compile.getSnapshot
      val codegenMs =
        if (compile.getCount <= snap.size) snap.getValues.sum.toDouble
        else snap.getMean * compile.getCount
      JvmCounters(
        gcs.map(_.getCollectionTime.toDouble).sum,
        gcs.map(_.getCollectionCount.toDouble).sum,
        ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
        compile.getCount.toDouble, codegenMs)
    }
  }
}
