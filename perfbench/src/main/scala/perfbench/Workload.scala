package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.store.OrderedDataset

/** Store footprint of a workload's datasets at the end of a run. */
final case class StoreStats(liveFiles: Long, liveRows: Long, liveBytes: Long,
    diskBytes: Long, retainedGenerations: Long)

object StoreStats {
  /** Live files/rows/bytes from the sidecars; disk bytes = every file
    * under the given roots (retired generations and sidecars included). */
  def of(dss: Seq[OrderedDataset], roots: Seq[String]): StoreStats = {
    val infos = dss.filter(_.exists).map(_.describe())
    StoreStats(infos.map(_.nFiles.toLong).sum, infos.map(_.totalRows).sum,
      infos.map(_.totalBytes).sum, roots.map(Disk.bytesUnder).sum,
      infos.map(_.retainedGenerations.size.toLong).sum)
  }
}

/** A benchmark workload: a fixture built from the seed, a warm-up, a
  * timed closed loop of ops, and checks of the outputs against an
  * oracle derived from the generator. */
trait Workload {
  /** Op kinds, in the order they are reported. */
  def kinds: Seq[String]

  /** Build the fixture from scratch under `dir` (a fresh directory). */
  def build(dir: String): Unit

  /** Untimed ops of every kind, enough to pay the first-op penalties. */
  def warmup(rec: Recorder): Unit

  /** Timed ops: whole cycles of the mix (see [[cycles]]). */
  def runTimed(rec: Recorder, deadlineNs: Long): Unit

  /** Output checks after the timed loop: (name, passed). */
  def finalChecks(): Seq[(String, Boolean)]

  def storeStats: StoreStats

  /** Live dataset bytes per live user row. */
  def storedBytesPerRow: Double

  /** Input sizes, stamped on the record. */
  def sizes: Seq[(String, Any)]

  /** Named groups of op kinds whose latencies are reported together:
    * every kind alone, plus any pooled group a workload adds. */
  def groups: Seq[(String, Seq[String])] = kinds.map(k => k -> Seq(k))

  /** The three latencies the benchmark gates, in the order of its
    * `lat1_s`..`lat3_s` metrics: each the `<group>_p50_s` of a group.
    * Every workload must print every gated metric, so the slots carry
    * different latencies on different workloads. */
  def gated: Seq[String]

  /** Further end-to-end figures for the record (not gated). */
  def recordExtras: Seq[(String, Any)]

  /** Layer metrics only this workload exercises (traced runs). */
  def traceExtras(t: Tracer): Seq[(String, Any)]

  /** Seconds spent in each named step of the last `build`. */
  val buildSteps = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  protected def buildStep[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally buildSteps(name) = (System.nanoTime() - t0) / 1e9
  }

  /** Run whole cycles of the mix until `deadlineNs` has passed and at
    * least [[Workload.MinCycles]] ran: every run has the same mix, and
    * every kind enough samples for a median. */
  protected def cycles(deadlineNs: Long)(cycle: => Unit): Unit = {
    var n = 0
    while (n < Workload.MinCycles || System.nanoTime() < deadlineNs) {
      cycle
      n += 1
    }
  }

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Mean op latency (s) of traced ops of one kind. */
  protected def tracedMean(t: Tracer, kind: String): Double =
    Stats.mean(t.opSpansOf(kind).map(_.seconds))
}

object Workload {
  val MinCycles = 3

  def apply(name: String, spark: SparkSession, seed: Long, cpus: Int): Workload =
    name match {
      case "ingest" => new IngestWorkload(spark, seed, cpus)
      case "scan" => new ScanWorkload(spark, seed, cpus)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

/** Seeded synthetic events. Every field of row `i` is a pure function of
  * (seed, i), computed identically by Spark (to build the inputs) and on
  * the driver (to derive expected outputs), so no reference data is
  * stored. The arithmetic stays far from Long overflow, which Spark's
  * ANSI mode rejects. Values are whole numbers, so sums of doubles are
  * exact in any order.
  */
final class Gen(seed: Long) {
  private val M = 1000003L
  private val b1 = Math.floorMod(seed, M) * 7L % M
  private val b2 = (Math.floorMod(seed, M) * 13L + 5L) % M
  /** 2024-01-01T00:00:00Z */
  val T0 = 1704067200L

  def h1(i: Long): Long = ((i % M) * 48271L + b1) % M
  def h2(i: Long): Long = (h1(i) * 16807L + b2) % M
  def value(i: Long): Double = (h2(i) % 10000L).toDouble
  def typeIx(i: Long): Int = ((h2(i) / 10000L) % 3L).toInt

  private def h1c(i: Column): Column = (i % M * 48271L + b1) % M
  private def h2c(i: Column): Column = (h1c(i) * 16807L + b2) % M

  /** Events [from, until) at `stepS` seconds apart from T0:
    * (event_id, ts, user_id, event_type, value). */
  def events(spark: SparkSession, from: Long, until: Long, stepS: Long,
      parts: Int): DataFrame =
    spark.range(from, until, 1, parts).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(T0) + col("id") * stepS).as("ts"),
      (h1c(col("id")) % 5000L).cast("int").as("user_id"),
      element_at(array(Gen.Types.map(lit): _*),
        ((h2c(col("id")) / 10000L).cast("long") % 3L + 1L).cast("int"))
        .as("event_type"),
      (h2c(col("id")) % 10000L).cast("double").as("value"))
}

object Gen {
  val Types: Seq[String] = Seq("click", "view", "purchase")
}
