package graft.store

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.GraftFileIndex

/** Every dataset read is a parquet relation over a [[GraftFileIndex]]
  * pinned to a captured snapshot: building one runs no Spark job at
  * any file count, the zone-map selection is the one in
  * `GraftFileIndex`, and equal reads compare equal for the cache.
  */
class ReadPathSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** 400 rows of `t` (the ordered column, built from `id` by `ord`)
    * and `v` = 2 * `id`. */
  private def source(ord: Column): DataFrame =
    spark.range(400).select(ord.as("t"), (col("id") * 2).as("v"))

  /** [[source]] written `rowsPerFile` rows to a file. */
  private def dataset(prefix: String, ord: Column, rowsPerFile: Long)
      : OrderedDataset = {
    val ds = new OrderedDataset(spark, tmpDir(prefix) + "/ds")
    ds.write(source(ord), WriteOpts("t", NRows(rowsPerFile)))
    ds
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getAs[Long]("v"))

  /** Runs the query once: its rows, and the files its scan opened
    * (a second run resets the scan's metrics without re-listing). */
  private def run(df: DataFrame): (Seq[Row], Long) = {
    val rows = sorted(df)
    (rows, collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum)
  }

  test("building df and a full-range rangeDF over 40 files runs no job") {
    val ds = dataset("readpath40", col("id"), 10L)
    val m = ds.meta
    // above the 32-path threshold where spark.read.parquet(paths)
    // runs a listing job
    assert(m.files.size == 40)
    var full: DataFrame = null
    var range: DataFrame = null
    val sites = jobSites {
      full = ds.dfOf(m)
      range = ds.rangeDFOf(m, Some(OrdLong(0L)), None)
      full.queryExecution.executedPlan
      range.queryExecution.executedPlan
    }
    assert(sites.isEmpty, sites.map(_.longForm).mkString("\n"))
    val expected = (0L until 400L).map(i => Row(i, i * 2))
    assert(sorted(full) == expected)
    assert(sorted(range) == expected)
  }

  test("rangeDF keeps its rows and its file selection on every ordered " +
      "type") {
    val types = Seq(
      "long" -> col("id"),
      "int" -> col("id").cast("int"),
      "double" -> (col("id") * 1.5),
      "timestamp" -> timestamp_seconds(col("id")),
      "timestamp_ntz" -> timestamp_seconds(col("id")).cast("timestamp_ntz"))
    types.foreach { case (name, ord) =>
      val ds = dataset(s"readpath_$name", ord, 25L)
      val m = ds.meta
      assert(m.files.size > 8, name)
      val all = source(ord).collect().toSeq
      val vals = m.files.flatMap(f => Seq(f.min, f.max)).distinct.sorted
      val cuts = Seq(
        (Some(vals(5)), Some(vals(20))), // interior, file boundaries
        (Some(vals(0)), None),           // lo only
        (None, Some(vals(9))),           // hiExcl only
        (Some(vals.last), None))         // the last value alone
      cuts.foreach { case (lo, hiExcl) =>
        val d = ds.rangeDF(lo, hiExcl)
        // the selection the sidecar states, and the source's rows
        val files = m.files.count(f =>
          lo.forall(f.max >= _) && hiExcl.forall(f.min < _))
        val rows = all.filter { r =>
          val t = OrdVal.fromAny(r.get(0))
          lo.forall(t >= _) && hiExcl.forall(t < _)
        }.sortBy(_.getAs[Long]("v"))
        assert(run(d) == ((rows, files)), s"$name [$lo, $hiExcl)")
      }
      // a zone-map miss is the empty read, with the dataset's columns
      val miss = ds.rangeDF(None, Some(vals.head))
      assert(miss.columns.toSeq == Seq("t", "v"))
      assert(run(miss) == ((Nil, 0L)), name)
    }
  }

  test("range and point selection on string bounds") {
    val words = Seq("apple", "banana", "cherry", "date", "elder", "fig",
      "grape", "kiwi", "lemon", "mango")
    val files = words.grouped(2).zipWithIndex.map { case (Seq(a, b), i) =>
      FileStat(i.toLong, s"f$i", 1L, OrdStr(a), OrdStr(b))
    }.toSeq
    val probes = (None +: (words ++ Seq("a", "dog", "zz")).map(w =>
      Some(OrdStr(w)))).toSeq
    for (lo <- probes; hi <- probes) {
      assert(files.filter(GraftFileIndex.inRange(_, lo, hi)) ==
        files.filter(f => lo.forall(f.max >= _) && hi.forall(f.min < _)))
    }
    val points = Seq("banana", "dog", "fig", "zz").map(OrdStr(_))
    assert(GraftFileIndex.covering(files, points) ==
      files.filter(f => points.exists(p => f.min <= p && p <= f.max)))
    assert(GraftFileIndex.covering(files, points).map(_.name) ==
      Seq("f0", "f2"))
  }

  test("a cached df serves a later df of the same snapshot") {
    val ds = dataset("readpath_cache", col("id"), 100L)
    val cached = ds.df.cache()
    try {
      assert(cached.count() == 400L)
      val fresh = ds.df.groupBy().count()
      assert(fresh.queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r
      }.nonEmpty, fresh.queryExecution.withCachedData.toString)
      assert(fresh.head().getLong(0) == 400L)
    } finally cached.unpersist(): Unit
  }
}
