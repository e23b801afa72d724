package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** Spans and Spark events of a traced run, kept in memory and written
  * out at the end.
  *
  *  - Op spans wrap each traced op; layer spans wrap the benchmark's own
  *    calls into engine modules (children of the innermost open span).
  *    Probe spans time extra layer calls made right after a traced op,
  *    outside its latency window (children of that op's span).
  *  - Spark jobs come from a [[SparkListener]] (job start/end, per-task
  *    metrics) and are attributed to the op or probe span whose window
  *    holds the job's start: the benchmark is one client, so at most one
  *    op or probe runs at a time.
  *  - Query planning time and files scanned come from a
  *    [[QueryExecutionListener]] (planning-phase tracker, scan-node
  *    SQLMetrics), attributed the same way.
  *
  * Self time of a span = its duration minus the union of its children.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  // wall clock (Spark event times, ms) ↔ monotonic clock (spans, ns)
  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  private def msToNs(ms: Long): Long = ns0 + (ms - ms0) * 1000000L

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var lastOp: Option[Span] = None
  private var opGcMs0 = 0L
  private val gcMs = scala.collection.mutable.Map.empty[Int, Long]
  private val commits = ArrayBuffer.empty[(Int, Option[graft.store.UpsertReport], Long)]
  private val candidates = scala.collection.mutable.Map.empty[Int, Long]

  private val lock = new Object
  private val jobs = ArrayBuffer.empty[JobEv]
  private val stages = scala.collection.mutable.Map.empty[Int, StageEv]
  private val queries = ArrayBuffer.empty[QueryEv]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobs += JobEv(e.jobId, e.time, -1L, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      lock.synchronized {
        stage(e.stageInfo.stageId).submitMs =
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val s = stage(e.stageId)
      s.tasks += 1
      s.launchMsSum += e.taskInfo.launchTime
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.inBytes += m.inputMetrics.bytesRead
        s.outBytes += m.outputMetrics.bytesWritten
        s.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        s.resultBytes += m.resultSize
      }
    }
  }

  private val qListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values.toSeq
      if (phases.nonEmpty) {
        val planMs = qe.tracker.phases.collect {
          case (p, s) if p != "parsing" => s.durationMs
        }.sum
        val files = scans(qe.executedPlan)
          .flatMap(_.metrics.get("numFiles")).map(_.value)
        lock.synchronized {
          queries += QueryEv(phases.map(_.startTimeMs).min, planMs,
            files.sum, files.nonEmpty)
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private def stage(id: Int): StageEv = stages.getOrElseUpdate(id, new StageEv)

  private var listening = false

  /** Attach the listeners for a traced op (and the probes after it), or
    * detach them for an untraced one. Pending events are delivered
    * first, so the listeners see all of a traced op's events and none of
    * an untraced op's. */
  def listen(on: Boolean): Unit = if (on != listening) {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    if (on) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(qListener)
    } else {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qListener)
    }
    listening = on
  }

  def stop(): Unit = listen(false)

  private def open(name: String, parent: Option[Span], op: Int): Span = {
    val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1), op,
      System.nanoTime(), -1L)
    spans += s
    s
  }

  def beginOp(id: Int, kind: String, traced: Boolean, t: Long): Unit =
    if (traced) {
      val s = Span(spans.size, s"op.$kind", -1, id, t, -1L)
      spans += s
      stack = List(s)
      opGcMs0 = gcTotalMs()
    }

  def endOp(t: Long): Unit = stack.lastOption.foreach { s =>
    s.endNs = t
    gcMs(s.op) = gcTotalMs() - opGcMs0
    lastOp = Some(s)
    stack = Nil
  }

  def span[A](name: String)(body: => A): A = {
    val s = open(name, stack.headOption, stack.headOption.map(_.op).getOrElse(-1))
    stack = s :: stack
    try body finally { s.endNs = System.nanoTime(); stack = stack.tail }
  }

  /** A layer call made after the last traced op, outside its window. */
  def probe(name: String)(body: => Unit): Unit = lastOp match {
    case Some(op) if stack.isEmpty =>
      val s = open(name, Some(op), op.op)
      try body finally s.endNs = System.nanoTime()
    case _ => body
  }

  /** A commit made by the current traced op (report when the engine
    * returns one) and the user rows it carried. */
  def commit(report: Option[graft.store.UpsertReport], batchRows: Long): Unit =
    stack.lastOption.foreach(op => commits += ((op.op, report, batchRows)))

  /** Rows written per batch row of each traced commit with a report,
    * in commit order: shows whether write amplification has levelled. */
  def rowsWrittenPerBatchRow: Seq[Double] = commits.toSeq.collect {
    case (_, Some(r), batch) if batch > 0 => r.rowsWritten.toDouble / batch
  }

  /** Files the current traced op's read could have scanned. */
  def candidateFiles(n: Long): Unit =
    stack.lastOption.foreach(op => candidates(op.op) = n)

  private def gcTotalMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Spark jobs, stages and queries attributed to each top-level span
    * (traced op or probe), by start time. */
  private lazy val attributed: Map[Int, (Seq[JobEv], Seq[QueryEv])] =
    lock.synchronized {
      val roots = spans.filter(s => s.endNs > 0 && (s.parent == -1 || isProbe(s)))
      def owner(tNs: Long): Option[Span] =
        roots.find(s => tNs >= s.startNs - 1000000L && tNs <= s.endNs + 1000000L)
      val js = jobs.toSeq.flatMap(j => owner(msToNs(j.startMs)).map(_.id -> j))
      val qs = queries.toSeq.flatMap(q => owner(msToNs(q.startMs)).map(_.id -> q))
      roots.map { r =>
        r.id -> (js.collect { case (id, j) if id == r.id => j },
          qs.collect { case (id, q) if id == r.id => q })
      }.toMap
    }

  private def isProbe(s: Span): Boolean =
    s.parent >= 0 && spans(s.parent).parent == -1 &&
      (s.startNs >= spans(s.parent).endNs)

  private def opSpans: Seq[Span] = spans.toSeq.filter(s => s.parent == -1 && s.endNs > 0)

  private def jobIntervals(js: Seq[JobEv], lo: Long, hi: Long): Seq[(Long, Long)] =
    js.map { j =>
      val e = if (j.endMs < 0) hi else msToNs(j.endMs)
      (math.max(lo, msToNs(j.startMs)), math.min(hi, e))
    }

  /** Wall time of a span covered by its Spark jobs. */
  def jobsNs(s: Span): Long = {
    val (js, _) = attributed.getOrElse(s.id, (Nil, Nil))
    Stats.unionLength(jobIntervals(js, s.startNs, s.endNs))
  }

  def jobsOf(s: Span): Seq[JobEv] = attributed.getOrElse(s.id, (Nil, Nil))._1
  def queriesOf(s: Span): Seq[QueryEv] = attributed.getOrElse(s.id, (Nil, Nil))._2

  def spansNamed(name: String): Seq[Span] =
    spans.toSeq.filter(s => s.name == name && s.endNs > 0)

  def opSpansOf(kind: String): Seq[Span] = opSpans.filter(_.name == s"op.$kind")

  /** Mean duration (s) of the named spans; 0 when none ran. */
  def meanSeconds(name: String): Double =
    Stats.mean(spansNamed(name).map(_.seconds))

  private def stageSum(js: Seq[JobEv])(f: StageEv => Double): Double =
    lock.synchronized {
      js.flatMap(_.stageIds).distinct.flatMap(stages.get).map(f).sum
    }

  def stagesRun(js: Seq[JobEv]): Int = lock.synchronized {
    js.flatMap(_.stageIds).distinct.count(id => stages.get(id).exists(_.tasks > 0))
  }

  /** Per-layer metrics every workload produces: per traced op, averaged
    * over traced ops. */
  def layerMetrics(w: Workload): Seq[(String, Double, String)] = {
    val traced = opSpans
    val n = math.max(1, traced.size).toDouble
    def perOp(f: Span => Double): Double = traced.map(f).sum / n
    def sparkSum(f: StageEv => Double): Double =
      perOp(s => stageSum(jobsOf(s))(f))
    val tracedIds = traced.map(_.op).toSet
    val cs = commits.toSeq.filter(c => tracedIds.contains(c._1))
    val reports = cs.flatMap(_._2)
    val nRep = math.max(1, reports.size).toDouble
    val jobsTotal = traced.map(s => jobsOf(s).size).sum.toDouble
    val qs = traced.flatMap(queriesOf)
    val scanQs = qs.filter(_.hasScan)
    val withCand = traced.filter(s => candidates.contains(s.op))
    val candTotal = withCand.map(s => candidates(s.op)).sum.toDouble
    val readOfCand = withCand.flatMap(queriesOf).map(_.filesRead).sum.toDouble
    val st = w.storeStats
    Seq(
      ("store.op_driver_s", perOp(s => (s.durNs - jobsNs(s)) / 1e9), "s"),
      ("store.op_jobs_s", perOp(s => jobsNs(s) / 1e9), "s"),
      ("store.sidecar_read_s", meanSeconds("store.meta"), "s"),
      ("store.jobs_per_commit",
        if (cs.isEmpty) 0.0 else jobsTotal / cs.size, "count"),
      ("store.files_rewritten_per_commit",
        reports.map(_.filesRewritten).sum / nRep, "count"),
      ("store.files_kept_per_commit", reports.map(_.filesKept).sum / nRep, "count"),
      ("store.files_added_per_commit", reports.map(_.filesAdded).sum / nRep, "count"),
      ("store.rows_written_per_batch_row", {
        val batchRows = cs.filter(_._2.isDefined).map(_._3).sum
        if (batchRows == 0) 0.0 else reports.map(_.rowsWritten).sum.toDouble / batchRows
      }, "ratio"),
      ("store.live_files", st.liveFiles.toDouble, "count"),
      ("store.retained_generations", st.retainedGenerations.toDouble, "count"),
      ("store.disk_bytes_per_live_byte",
        if (st.liveBytes == 0) 0.0 else st.diskBytes.toDouble / st.liveBytes, "ratio"),
      ("sources.plan_s", perOp(s => queriesOf(s).map(_.planMs).sum / 1e3), "s"),
      ("sources.files_read_per_query",
        if (scanQs.isEmpty) 0.0 else scanQs.map(_.filesRead).sum.toDouble / scanQs.size,
        "count"),
      ("sources.files_pruned_frac",
        if (candTotal == 0) 0.0 else 1.0 - readOfCand / candTotal, "fraction"),
      ("spark.jobs_per_op", jobsTotal / n, "count"),
      ("spark.stages_per_op", perOp(s => stagesRun(jobsOf(s)).toDouble), "count"),
      ("spark.tasks_per_op", sparkSum(_.tasks.toDouble), "count"),
      ("spark.task_wait_s_per_op",
        sparkSum(s => if (s.submitMs < 0) 0.0
          else (s.launchMsSum - s.tasks * s.submitMs) / 1e3), "s"),
      ("spark.executor_run_s_per_op", sparkSum(_.runMs / 1e3), "s"),
      ("spark.executor_cpu_s_per_op", sparkSum(_.cpuNs / 1e9), "s"),
      ("spark.gc_s_per_op", perOp(s => gcMs.getOrElse(s.op, 0L) / 1e3), "s"),
      ("spark.input_bytes_per_op", sparkSum(_.inBytes.toDouble), "bytes"),
      ("spark.output_bytes_per_op", sparkSum(_.outBytes.toDouble), "bytes"),
      ("spark.shuffle_read_bytes_per_op", sparkSum(_.shReadBytes.toDouble), "bytes"),
      ("spark.shuffle_write_bytes_per_op", sparkSum(_.shWriteBytes.toDouble), "bytes"),
      ("spark.spill_bytes_per_op", sparkSum(_.spillBytes.toDouble), "bytes"),
      ("spark.result_bytes_per_op", sparkSum(_.resultBytes.toDouble), "bytes"))
  }

  /** One JSON object per span, then one per Spark job (a child of the
    * innermost span open at its start, within the op or probe it was
    * attributed to). `self_s` = duration minus the union of children,
    * jobs included. */
  def writeSpans(path: String): Unit = {
    val all = spans.toSeq.filter(_.endNs > 0)
    val jobsUnder: Seq[(Span, JobEv)] = attributed.toSeq.flatMap { case (sid, (js, _)) =>
      val root = spans(sid)
      js.map { j =>
        val t = msToNs(j.startMs)
        val inner = all.filter(s => s.op == root.op && s.startNs >= root.startNs &&
          s.startNs <= t && t <= s.endNs)
        (if (inner.isEmpty) root else inner.maxBy(_.startNs), j)
      }
    }
    val kids = all.groupBy(_.parent).map { case (p, ss) => p -> ss.map(c => (c.startNs, c.endNs)) }
    val jobKids = jobsUnder.groupBy(_._1.id).map { case (p, pj) =>
      p -> jobIntervals(pj.map(_._2), Long.MinValue, Long.MaxValue) }
    def rel(ns: Long) = (ns - ns0) / 1e9
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      all.foreach { s =>
        val iv = (kids.getOrElse(s.id, Nil) ++ jobKids.getOrElse(s.id, Nil))
          .map { case (a, b) => (math.max(a, s.startNs), math.min(b, s.endNs)) }
        w.println(Json.render(Json.obj("span" -> s.id, "name" -> s.name,
          "parent" -> (if (s.parent < 0) null else s.parent), "op" -> s.op,
          "start_s" -> rel(s.startNs), "end_s" -> rel(s.endNs),
          "self_s" -> (s.durNs - Stats.unionLength(iv)) / 1e9)))
      }
      jobsUnder.foreach { case (p, j) =>
        val end = if (j.endMs < 0) p.endNs else msToNs(j.endMs)
        w.println(Json.render(Json.obj("span" -> s"job${j.id}", "name" -> "spark.job",
          "parent" -> p.id, "op" -> p.op, "start_s" -> rel(msToNs(j.startMs)),
          "end_s" -> rel(end), "stages" -> j.stageIds,
          "tasks" -> lock.synchronized(j.stageIds.flatMap(stages.get).map(_.tasks).sum))))
      }
    } finally w.close()
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, op: Int,
      startNs: Long, var endNs: Long) {
    def durNs: Long = endNs - startNs
    def seconds: Double = durNs / 1e9
  }
  final case class JobEv(id: Int, startMs: Long, var endMs: Long, stageIds: Seq[Int])
  final class StageEv {
    var submitMs = -1L
    var tasks = 0
    var launchMsSum = 0L
    var runMs = 0L
    var cpuNs = 0L
    var inBytes = 0L
    var outBytes = 0L
    var shReadBytes = 0L
    var shWriteBytes = 0L
    var spillBytes = 0L
    var resultBytes = 0L
  }
  final case class QueryEv(startMs: Long, planMs: Long, filesRead: Long,
      hasScan: Boolean)

  /** File-scan nodes of an executed plan, through adaptive wrappers. */
  def scans(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s if s.metrics.contains("numFiles") => Seq(s)
    case other => (other.children ++ other.subqueries).flatMap(scans)
  }
}
