package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval, in epoch milliseconds. Ops have parent -1; the
  * benchmark's calls into a layer are children of their op; jobs are
  * children of the call they started in, stages children of their job. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      start: Double, end: Double) {
  def dur: Double = end - start
}

/** The traced run's recorder: a SparkListener and QueryExecutionListener
  * owned by the benchmark, attached only while a traced op runs, plus the
  * spans the benchmark opens around its own calls. Everything stays in
  * memory until [[layers]] and [[spansJson]] are read at the end. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis().toDouble
  def now: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  // written by the listener-bus thread, read after drain()
  private val jobs = mutable.ArrayBuffer[Job]()
  private val stages = mutable.ArrayBuffer[Stage]()
  private val tasks = mutable.ArrayBuffer[Task]()
  private val execs = mutable.ArrayBuffer[Exec]()
  // written by the op thread
  private val spans = mutable.ArrayBuffer[Span]()
  private val ops = mutable.ArrayBuffer[Op]()
  private var storeRoot = ""
  private var open: Option[(Span, String, Long, Long)] = None
  private var cachedPeak = 0L

  /** Attach for one traced op tagged with job group `group`. */
  def begin(label: String, group: String, store: String): Unit = {
    storeRoot = store
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    cachedPeak = 0L
    val s = Span(spans.size, -1, "op", label, now, 0)
    spans += s
    open = Some((s, group, WholeStageCodegenExec.codeGenTime,
                 CodegenMetrics.METRIC_COMPILATION_TIME.getCount))
  }

  /** Time `body` as a child span of the open op, if any. */
  def call[T](name: String)(body: => T): T = open match {
    case None => body
    case Some((op, _, _, _)) =>
      val t0 = now
      try body finally spans += Span(spans.size, op.id, "call", name, t0, now)
  }

  /** Record the parse and analysis a frame went through while it was built
    * (the executed command's own phases arrive through the listener). */
  def built(df: org.apache.spark.sql.DataFrame): Unit = if (open.isDefined) {
    val phases = df.queryExecution.tracker.phases
    if (phases.nonEmpty) synchronized {
      execs += Exec(phases.values.map(_.startTimeMs).min,
        phases.map { case (k, v) => k -> v.durationMs }, 0L, 0L)
    }
  }

  /** Sample the bytes the block manager holds (before a caller unpersists). */
  def sampleCache(): Unit = if (open.isDefined)
    cachedPeak = math.max(cachedPeak,
      sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum)

  /** Close the open op, wait for its events and detach. */
  def end(rowsOut: Long): Unit = open.foreach { case (s, group, cg0, n0) =>
    val t1 = now
    spans(s.id) = s.copy(end = t1)
    sampleCache()
    ops += Op(group, s.start, t1,
      WholeStageCodegenExec.codeGenTime - cg0,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0,
      cachedPeak, sc.getPersistentRDDs.size, rowsOut)
    open = None
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId,
      Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
        .flatMap(Option(_)).getOrElse(""),
      e.time, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stages += Stage(i.stageId, s, c)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) {
      val dur = i.finishTime - i.launchTime
      tasks += Task(e.stageId, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime,
        math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - i.gettingResultTime),
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.shuffleReadMetrics.fetchWaitTime, m.inputMetrics.recordsRead,
        m.outputMetrics.recordsWritten)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) {
      val scans = collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s
      }
      def metric(s: SparkPlan, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
      val store = scans.filter(_.relation.location.rootPaths
        .exists(_.toString.contains(storeRoot)))
      synchronized {
        execs += Exec(phases.values.map(_.startTimeMs).min,
          phases.map { case (k, v) => k -> v.durationMs },
          scans.map(metric(_, "numFiles")).sum,
          store.map(metric(_, "filesSize")).sum)
      }
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Per-op means (and a few peaks) over every traced op. */
  def layers(): Map[String, Double] = synchronized {
    val n = math.max(ops.size, 1).toDouble
    val byOp = ops.map { op =>
      def inOp(t: Long) = t >= math.floor(op.start) && t <= math.ceil(op.end)
      // the tracer is attached to one op at a time, so the op's window also
      // claims jobs from pool threads that carry no tag or a stale one
      val opJobs = jobs.filter(j => j.group == op.group || inOp(j.start))
      val stageIds = opJobs.flatMap(_.stages).toSet
      val opStages = stages.filter(s => stageIds(s.id))
      val opTasks = tasks.filter(t => stageIds(t.stage))
      val opExecs = execs.filter(x => inOp(x.start))
      val calls = spans.filter(s => s.kind == "call" && s.start >= op.start &&
        s.end <= op.end)
      (op, opJobs.toSeq, opStages.toSeq, opTasks.toSeq, opExecs.toSeq, calls.toSeq)
    }
    def total(f: ((Op, Seq[Job], Seq[Stage], Seq[Task], Seq[Exec], Seq[Span])) => Double) =
      byOp.map(f).sum / n
    def callTime(name: String) = total(_._6.filter(_.name == name).map(_.dur).sum / 1000)
    def phase(p: String) = total(_._5.map(_.phases.getOrElse(p, 0L)).sum / 1000.0)
    val rowsRead = byOp.map(_._4.map(_.recRead).sum).sum.toDouble
    // an op that returns no rows to the caller (a write) reports -1: its
    // rows out are the rows its tasks wrote
    val rowsOut = byOp.map { t =>
      if (t._1.rowsOut >= 0) t._1.rowsOut else t._4.map(_.recWritten).sum
    }.sum.toDouble
    Map(
      "queries.build_s" -> callTime("build"),
      "queries.build_jobs" -> total { case (_, js, _, _, _, cs) =>
        js.count(j => cs.exists(c => c.name == "build" &&
          j.start >= math.floor(c.start) && j.start <= math.ceil(c.end))).toDouble },
      "catalyst.parse_s" -> phase("parsing"),
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "codegen.compile_s" -> total(_._1.codegenNs / 1e9),
      "codegen.compiles" -> total(_._1.compiles.toDouble),
      "sched.jobs" -> total(_._2.size.toDouble),
      "sched.stages" -> total(_._3.size.toDouble),
      "sched.tasks" -> total(_._4.size.toDouble),
      "sched.delay_s" -> total(_._4.map(_.delay).sum / 1000.0),
      "sched.job_overlap" -> total { case (op, js, _, _, _, _) =>
        js.map(j => j.end - j.start).sum / math.max(op.end - op.start, 1e-3) },
      "exec.run_s" -> total(_._4.map(_.run).sum / 1000.0),
      "exec.cpu_s" -> total(_._4.map(_.cpuNs).sum / 1e9),
      "exec.gc_s" -> total(_._4.map(_.gc).sum / 1000.0),
      "exec.task_skew" -> total { t =>
        val d = t._4.map(_.run.toDouble).sorted
        if (d.isEmpty) 1.0 else d.last / math.max(d(d.size / 2), 1.0) },
      "shuffle.write_bytes" -> total(_._4.map(_.shWrite).sum.toDouble),
      "shuffle.read_bytes" -> total(_._4.map(_.shRead).sum.toDouble),
      "shuffle.spill_bytes" -> total(_._4.map(_.spill).sum.toDouble),
      "shuffle.fetch_wait_s" -> total(_._4.map(_.fetchWait).sum / 1000.0),
      "io.rows_read_per_row_returned" -> rowsRead / math.max(rowsOut, 1.0),
      "io.files_opened" -> total(_._5.map(_.files).sum.toDouble),
      "mat.cached_peak_bytes" -> ops.map(_.cachedBytes).maxOption.getOrElse(0L).toDouble,
      "mat.rdds_left_persisted" -> ops.map(_.leftPersisted).sum.toDouble,
      "sources.land_s" -> callTime("land"),
      "sources.decode_s" -> callTime("decode"),
      "etl.transform_s" -> callTime("transform"),
      "sinks.append_s" -> callTime("append"),
      "sinks.store_scan_bytes" -> total(_._5.map(_.storeBytes).sum.toDouble),
      "self.op_s" -> total { case (op, _, _, _, _, cs) =>
        (op.end - op.start - covered(op.start, op.end,
          cs.map(c => (c.start, c.end)))) / 1000 },
      "self.call_s" -> total { case (_, js, _, _, _, cs) =>
        val kids = js.map(j => (j.start.toDouble, j.end.toDouble))
        cs.map(c => c.dur - covered(c.start, c.end, kids)).sum / 1000 },
      "self.job_s" -> total { case (_, js, ss, _, _, _) =>
        val kids = ss.map(s => (s.start.toDouble, s.end.toDouble))
        js.map(j => j.end - j.start - covered(j.start, j.end, kids)).sum / 1000 },
      "self.stage_s" -> total(_._3.map(s => s.end - s.start).sum / 1000.0),
      "trace.ops" -> ops.size.toDouble)
  }

  /** Milliseconds of [lo, hi] covered by the union of `kids`. */
  private def covered(lo: Double, hi: Double, kids: Seq[(Double, Double)]): Double = {
    var at = lo
    var sum = 0.0
    kids.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > at) { sum += b - math.max(a, at); at = b }
      }
    sum
  }

  /** Every span (ops, calls, jobs and stages) as JSON lines. */
  def spansJson(): Seq[String] = synchronized {
    val out = mutable.ArrayBuffer[Span]() ++ spans
    for (op <- ops; opSpan = spans.find(s => s.kind == "op" && s.start == op.start);
         j <- jobs if j.start >= math.floor(op.start) && j.start <= math.ceil(op.end)) {
      val parent = spans.find(c => c.kind == "call" && j.start >= math.floor(c.start) &&
        j.start <= math.ceil(c.end)).orElse(opSpan).map(_.id).getOrElse(-1)
      val s = Span(out.size, parent, "job", s"job ${j.id} ${j.group}", j.start, j.end)
      out += s
      j.stages.flatMap(id => stages.filter(_.id == id)).foreach { st =>
        out += Span(out.size, s.id, "stage", s"stage ${st.id}", st.start, st.end)
      }
    }
    out.toSeq.map(s => Json.obj(Seq("id" -> s.id, "parent" -> s.parent,
      "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end)))
  }
}

object Tracer {
  final case class Job(id: Int, group: String, start: Long,
                               var end: Long, stages: Seq[Int])
  final case class Stage(id: Int, start: Long, end: Long)
  final case class Task(stage: Int, run: Long, cpuNs: Long,
                                gc: Long, delay: Long, shWrite: Long,
                                shRead: Long, spill: Long, fetchWait: Long,
                                recRead: Long, recWritten: Long)
  final case class Exec(start: Long, phases: Map[String, Long],
                                files: Long, storeBytes: Long)
  /** What the benchmark knows about one op. */
  final case class Op(group: String, start: Double,
                      end: Double, codegenNs: Long, compiles: Long,
                      cachedBytes: Long, leftPersisted: Int, rowsOut: Long)
}
