package graft.store

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.BoundLiteral
import graft.SparkSpec
import graft.sources.GraftStatsAgg

/** Engine-built range reads take their bounds through [[OrdVal.bound]]:
  * a read of a shape already run compiles no class, whatever its
  * bounds, and the bounds still reach parquet pushdown and the
  * metadata-answered aggregates as plain literals do. */
class RangeBoundsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private val idx: Indexer[String] =
    Indexer.of[String](1)(k => Seq(Seq(k)))(l =>
      if (l.head.length == 1) Some(l.head.head) else None)

  private val keys = Seq("a", "b", "c")
  private val Rows = 3000L

  /** Row `id` has `ts` = 10 * id seconds. */
  private def events: DataFrame = spark.range(Rows).select(
    timestamp_seconds(col("id") * 10).as("ts"), col("id").as("v"))

  private lazy val (store, shards) = {
    val st = new Store(spark, tmpDir("rangebounds") + "/st", idx)
    keys.foreach(k =>
      st.get(k).write(events, WriteOpts("ts", NRows(500))): Unit)
    val sh = st.shardedWrite(events, WriteOpts("ts", NRows(500)),
      i => s"shard$i", targetRowsPerShard = Rows / 2)
    (st, sh)
  }

  private def us(s: Long) = OrdTs(s * 1000000L)

  /** Rows with `ts` in [lo, hi) seconds. */
  private def expected(lo: Long, hi: Long): Long =
    math.max(0L, math.min(Rows, (hi + 9) / 10) - math.min(Rows, (lo + 9) / 10))

  /** A read's rows, counted in the pass that sends them to a noop sink. */
  private def drain(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  test("after one warm read, reads with other bounds compile no class") {
    val reads: Seq[(String, Int, (Long, Long) => DataFrame)] = Seq(
      ("rangeDF", 1, (lo, hi) =>
        store.get("a").rangeDF(Some(us(lo)), Some(us(hi)))),
      ("rangeDFAcross", 1, (lo, hi) =>
        store.rangeDFAcross(shards, Some(us(lo)), Some(us(hi)))),
      ("intersectionsDF", keys.size, (lo, hi) =>
        store.intersectionsDF(keys, Some(us(lo)), Some(us(hi)), identity)))
    // inside one file, across files, across the shard boundary; the
    // warm read spans both shards, so each shard's scan has run in a task
    val windows = Seq((3000L, 3600L), (7000L, 19000L), (12000L, 18010L))
    reads.foreach { case (name, n, read) =>
      assert(drain(read(1000L, 20000L)) == n * expected(1000L, 20000L), name)
      val counts = windows.map { case (lo, hi) =>
        var rows = -1L
        val c = compiles { rows = drain(read(lo, hi)) }
        assert(rows == n * expected(lo, hi), s"$name [$lo, $hi)")
        c
      }
      assert(counts == windows.map(_ => 0L), name)
    }
  }

  /** The executed scan's pushed filters, one entry per filter. */
  private def pushed(df: DataFrame): (Set[String], Boolean) = {
    df.collect(): Unit
    val scans = collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.size == 1, df.queryExecution.executedPlan)
    val s = scans.head
    (s.metadata("PushedFilters").stripPrefix("[").stripSuffix("]")
      .split(", ").toSet,
     s.dataFilters.exists(_.exists(_.isInstanceOf[BoundLiteral])))
  }

  test("a range read pushes both bounds to parquet as plain literals " +
      "do, on long and TIMESTAMP_MICROS columns") {
    assert(spark.conf.get("spark.sql.parquet.outputTimestampType") ==
      "TIMESTAMP_MICROS")
    val cases: Seq[(String, Column, OrdVal, OrdVal, Column, Column)] = Seq(
      ("long", col("id"), OrdLong(250L), OrdLong(750L), lit(250L), lit(750L)),
      ("timestamp", timestamp_seconds(col("id")), us(250L), us(750L),
        lit(java.time.Instant.ofEpochSecond(250L)),
        lit(java.time.Instant.ofEpochSecond(750L))))
    cases.foreach { case (name, ord, lo, hi, plainLo, plainHi) =>
      val ds = new OrderedDataset(spark, tmpDir(s"pushed_$name") + "/ds")
      ds.write(spark.range(1000).select(ord.as("t"), col("id").as("v")),
        WriteOpts("t", NRows(100)))
      val range = ds.rangeDF(Some(lo), Some(hi))
      val plain = ds.df.filter(col("t") >= plainLo && col("t") < plainHi)
      val (filters, bound) = pushed(range)
      assert(bound, name)
      assert(filters == pushed(plain)._1, name)
      assert(filters.exists(_.startsWith("GreaterThanOrEqual(t,")) &&
        filters.exists(_.startsWith("LessThan(t,")), s"$name: $filters")
      assert(range.count() == 500L, name)
    }
  }

  test("metadata-only COUNT/MIN/MAX over a range read still answers " +
      "from the sidecar") {
    val ds = new OrderedDataset(spark, tmpDir("rangestats") + "/ds")
    ds.write(spark.range(1000).toDF("t"), WriteOpts("t", NRows(100)))
    GraftStatsAgg.register(spark)
    def stats(lo: Long, hi: Long): DataFrame =
      ds.rangeDF(Some(OrdLong(lo)), Some(OrdLong(hi)))
        .agg(count(lit(1)), min("t"), max("t"))
    def scanned(df: DataFrame): Seq[Int] =
      df.queryExecution.optimizedPlan.collect {
        case l: LogicalRelation =>
          l.relation.asInstanceOf[HadoopFsRelation].location.inputFiles.length
      }
    // file-aligned: no scan at all
    val aligned = stats(200L, 700L)
    assert(scanned(aligned).isEmpty &&
      aligned.queryExecution.optimizedPlan.collectFirst {
        case l: LocalRelation => l
      }.nonEmpty, aligned.queryExecution.optimizedPlan)
    assert(aligned.head().toSeq == Seq(500L, 200L, 699L))
    // mid-file bounds: only the two boundary files are read
    val hybrid = stats(250L, 750L)
    assert(scanned(hybrid) == Seq(2), hybrid.queryExecution.optimizedPlan)
    assert(hybrid.head().toSeq == Seq(500L, 250L, 749L))
  }
}
