package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** One benchmark run: set up a workload, time its operations in a closed
  * loop (one client, the next op starts when the previous one returns)
  * for `--seconds`, check the outputs, print one JSON result line.
  *
  * With `--trace 0` the result carries the end-to-end metrics; with
  * `--trace 1` it carries the per-layer metrics (see [[Tracer]]). Every
  * run also writes its full record (and, traced, its spans) under
  * `--records`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, cpus: Int, work: String, records: String,
      startMs: Long)

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toInt,
      get("--trace") == "1", get("--cpus").toInt, get("--work"),
      get("--records"), get("--start-ms").toLong)
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.work}/hadoop")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val heap = new HeapWatch
    val spark = session(a)
    try {
      val tSession = (System.currentTimeMillis() - a.startMs) / 1e3
      val result = run(spark, a, tSession, heap)
      println(result)
    } finally spark.stop()
  }

  def run(spark: SparkSession, a: Args, tSession: Double,
      heap: HeapWatch): String = {
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val w = Workload(a.workload, spark, a.seed, a.cpus)

    // set-up: build the fixture from scratch, then warm every op kind up;
    // set-up time runs from process start to the first timed op
    val tb0 = System.nanoTime()
    w.build(s"${a.work}/fixture")
    val tBuild = (System.nanoTime() - tb0) / 1e9
    val rec = new Recorder(tracer)
    w.warmup(rec.untimed)
    val tWarm = (System.nanoTime() - tb0) / 1e9 - tBuild
    val setupS = (System.currentTimeMillis() - a.startMs) / 1e3

    heap.reset()
    val t0 = System.nanoTime()
    w.runTimed(rec, t0 + a.seconds * 1000000000L)
    val wall = (rec.lastEndNs - t0) / 1e9
    tracer.foreach(_.stop())
    val heapPeakMb = heap.peakMb
    val heapLiveMb = heap.liveAfterFullGcMb

    val tc0 = System.nanoTime()
    val checks = w.finalChecks()
    val tChecks = (System.nanoTime() - tc0) / 1e9

    val ops = rec.ops.toSeq
    val okOps = ops.filter(_.ok)
    val failedOps = ops.count(!_.ok)
    val failedChecks = checks.count(!_._2)
    val attempted = ops.size + checks.size
    val failed = failedOps + failedChecks

    // latencies per op group, from untraced ops only
    val timed = okOps.filter(!_.traced)
    val groupStats = w.groups.flatMap { case (g, ks) =>
      val lat = timed.filter(o => ks.contains(o.kind)).map(_.seconds).sorted
      if (lat.isEmpty) None else Some((g, lat.size, Stats.median(lat), Stats.tail(lat)))
    }
    val named: Map[String, Double] = groupStats.flatMap { case (g, _, m, t) =>
      Seq(s"${g}_p50_s" -> m) ++ t.map(x => s"${g}_tail_s" -> x.value)
    }.toMap
    val rows = okOps.map(_.rows).sum

    // gated metrics (BENCHMARK.json): lat1_s..lat3_s are the workload's
    // three gated latencies, under the names printed beside them
    val latencies = w.gated.zipWithIndex.map { case (n, i) =>
      (s"lat${i + 1}_s", named.getOrElse(n,
        throw new IllegalStateException(s"no samples for $n")), "s", n)
    }
    val endToEnd: Seq[(String, Double, String)] =
      ("setup_s", setupS, "s") +: latencies.map(l => (l._1, l._2, l._3)) :+
        (("rows_per_s", rows / wall, "rows/s")) :+
        (("stored_bytes_per_row", w.storedBytesPerRow, "bytes/row"))

    val layers: Seq[(String, Double, String)] = tracer match {
      case Some(t) => t.layerMetrics(w) :+
        (("bench.trace_overhead_frac", traceOverhead(okOps, w.kinds),
          "fraction"))
      case None => Nil
    }

    // full record: every latency by its group name, the checks, and the
    // run's stamp
    val record = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "cpus" -> a.cpus,
      "seconds" -> a.seconds, "trace" -> a.trace,
      "sizes" -> Json.obj(w.sizes: _*),
      "setup" -> Json.obj("session_s" -> tSession,
        "build_s" -> tBuild, "build_steps_s" -> Json.obj(w.buildSteps.toSeq: _*),
        "warmup_s" -> tWarm),
      "checks_s" -> tChecks,
      "ops" -> ops.size, "failed_ops_frac" -> failed.toDouble / attempted,
      "timed_wall_s" -> wall,
      "latency" -> Json.obj(groupStats.map { case (g, n, m, t) =>
        g -> Json.obj("n" -> n, "p50_s" -> m, "tail_s" -> t.map(_.value),
          "tail_percentile" -> t.map(_.percentile))
      }: _*),
      "gated" -> Json.obj(latencies.map(l => l._1 -> l._4): _*),
      "checks" -> Json.obj(checks.map { case (n, ok) => n -> ok }: _*),
      "op_failures" -> ops.filter(!_.ok).take(5).map(_.note),
      "op_latencies_s" -> ops.map(o => Seq(o.kind, o.seconds, o.traced)),
      "metrics" -> Json.obj((if (a.trace) layers else endToEnd)
        .map { case (n, v, _) => n -> v } ++
        (if (a.trace) w.traceExtras(tracer.get)
         else w.recordExtras ++ Seq("heap_after_gc_peak_mb" -> heapPeakMb,
           "heap_live_mb" -> heapLiveMb)): _*))
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    Json.write(s"${a.records}/$tag.json", record)
    tracer.foreach(_.writeSpans(s"${a.records}/$tag.spans.jsonl"))

    // human-readable lines (every latency by name), then the result line
    val shown = if (a.trace) layers else endToEnd
    shown.foreach { case (n, v, u) => println(f"$n%-40s $v%14.6f $u") }
    if (!a.trace) {
      latencies.foreach { case (slot, _, _, n) => println(s"$slot = $n") }
      named.toSeq.sorted.foreach { case (n, v) => println(f"$n%-40s $v%14.6f s") }
    }
    checks.foreach { case (n, ok) =>
      println(s"check $n: ${if (ok) "ok" else "FAILED"}") }
    Json.render(Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.obj(shown.map { case (n, v, u) =>
        n -> Json.obj("value" -> v, "unit" -> u) }: _*)))
  }

  /** Traced vs untraced ops of the same run (see [[Recorder]]): per
    * kind, the ratio of median latencies minus one, combined by
    * geometric mean. */
  private def traceOverhead(ops: Seq[OpRec], kinds: Seq[String]): Double = {
    val ratios = kinds.flatMap { k =>
      val (tr, un) = ops.filter(_.kind == k).partition(_.traced)
      if (tr.isEmpty || un.isEmpty) None
      else Some(Stats.median(tr.map(_.seconds)) /
        Stats.median(un.map(_.seconds)))
    }
    if (ratios.isEmpty) 0.0 else Stats.geomean(ratios) - 1.0
  }
}

/** One timed operation. */
final case class OpRec(id: Int, kind: String, startNs: Long, endNs: Long,
    rows: Long, ok: Boolean, traced: Boolean, note: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Runs and records a workload's ops. In a traced run, every other op
  * of each kind is traced, and the tracer's listeners are attached only
  * while a traced op and its probes run, so the untraced ops between
  * them run as in an untraced run and the same run yields both sides of
  * the tracing overhead. A warm-up recorder keeps nothing and fails
  * fast. */
final class Recorder(val tracer: Option[Tracer], warmup: Boolean = false) {
  val ops = ArrayBuffer.empty[OpRec]
  var lastEndNs: Long = 0L
  private val perKind = scala.collection.mutable.Map.empty[String, Int]
  private var cur: Option[(Int, String, Long, Boolean)] = None
  private var lastTraced = false

  lazy val untimed: Recorder = new Recorder(None, warmup = true)

  /** Whether the next op of `kind` is traced. */
  def willTrace(kind: String): Boolean =
    tracer.isDefined && perKind.getOrElse(kind, 0) % 2 == 0

  private def begin(kind: String): Unit = {
    val traced = willTrace(kind)
    perKind(kind) = perKind.getOrElse(kind, 0) + 1
    tracer.foreach(_.listen(traced))
    val id = ops.size
    val t = System.nanoTime()
    tracer.foreach(_.beginOp(id, kind, traced, t))
    cur = Some((id, kind, t, traced))
  }

  private def end(rows: Long, ok: Boolean, note: String): Unit = {
    val t = System.nanoTime()
    val (id, kind, t0, traced) = cur.getOrElse(
      throw new IllegalStateException("end without begin"))
    tracer.foreach(_.endOp(t))
    if (warmup && !ok) throw new IllegalStateException(s"warm-up op failed: $note")
    if (!warmup) ops += OpRec(id, kind, t0, t, rows, ok, traced, note)
    lastEndNs = t
    lastTraced = traced
    cur = None
  }

  /** Time one op: `body` returns (rows, failure note or ""). An
    * exception fails the op. */
  def op(kind: String)(body: => (Long, String)): Unit = {
    begin(kind)
    val (rows, note) =
      try body
      catch { case e: Exception => (0L, s"$kind threw: $e") }
    end(rows, note.isEmpty, note)
  }

  def traced: Boolean = cur.exists(_._4)

  /** A layer span around a call the benchmark makes inside the current
    * op (a plain call when the op is not traced). */
  def span[A](name: String)(body: => A): A = tracer match {
    case Some(t) if traced => t.span(name)(body)
    case _ => body
  }

  /** Extra layer measurement right after a traced op, outside its
    * latency window; skipped after untraced ops. */
  def probe(name: String)(body: => Unit): Unit = tracer match {
    case Some(t) if lastTraced && cur.isEmpty => t.probe(name)(body)
    case _ => ()
  }

  def commit(report: Option[graft.store.UpsertReport], batchRows: Long): Unit =
    if (traced) tracer.foreach(_.commit(report, batchRows))

  def candidateFiles(n: Long): Unit =
    if (traced) tracer.foreach(_.candidateFiles(n))
}

/** Driver old-generation usage after each GC, via the JVM's GC
  * notifications: `peakMb` is the largest since the last reset (it
  * includes dead objects promoted by young collections, so it varies
  * with GC timing); `liveAfterFullGcMb` forces a full collection and
  * reads what survives. */
final class HeapWatch {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter,
    NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  @volatile private var peak = 0L
  private def isOld(pool: String) =
    pool.contains("Old") || pool.contains("Tenured")

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, hb: AnyRef): Unit =
          if (n.getType ==
              GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (p, u) if isOld(p) => u.getUsed }.sum
            HeapWatch.this.synchronized { if (used > peak) peak = used }
          }
      }, null, null)
    case _ => ()
  }

  def reset(): Unit = synchronized { peak = 0L }

  private def mb(bytes: Long): Double = bytes / (1024.0 * 1024.0)

  def peakMb: Double = {
    Thread.sleep(200) // notifications are delivered asynchronously
    mb(synchronized(peak))
  }

  def liveAfterFullGcMb: Double = {
    System.gc()
    mb(ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => isOld(p.getName))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum)
  }
}
