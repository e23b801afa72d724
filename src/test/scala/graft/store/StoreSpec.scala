package graft.store

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

final case class CityKey(country: String, city: String)

class StoreSpec extends SparkSpec {
  import spark.implicits._

  implicit val cityOrd: Ordering[CityKey] = Ordering.by(k => (k.country, k.city))
  val cityIdx: Indexer[CityKey] = Indexer.of[CityKey](1)(
    k => Seq(Seq(k.country, k.city)))(
    l => l.head match {
      case Seq(co, ci) => Some(CityKey(co, ci))
      case _ => None
    })

  def tsDf(pairs: Seq[(Long, Double)]): DataFrame =
    pairs.toDF("t", "v")

  test("indexer round-trips and validates fields") {
    assert(cityIdx.toPath(CityKey("germany", "berlin")) == "germany-berlin")
    assert(cityIdx.fromPath("germany-berlin") == Some(CityKey("germany", "berlin")))
    assert(cityIdx.fromPath("nope") == None)
    intercept[IllegalArgumentException] {
      cityIdx.toPath(CityKey("a-b", "c"))
    }
  }

  test("sidecar round-trips meta") {
    val dir = tmpDir("sidecar")
    val meta = DatasetMeta("t", "long",
      Seq(FileStat(0, "f0.parquet", 10, OrdLong(1), OrdLong(9)),
          FileStat(1, "f1.parquet", 5, OrdLong(10), OrdLong(20))),
      Map("k" -> "v"), 2)
    val conf = spark.sparkContext.hadoopConfiguration
    Sidecar.write(conf, dir, meta)
    // the commit stamps its own generation (first write -> 1); all
    // caller-authored fields round-trip
    assert(Sidecar.read(conf, dir) == meta.copy(generation = 1L))
    Sidecar.write(conf, dir, meta)
    assert(Sidecar.read(conf, dir).generation == 2L)
  }

  test("bloomFilterCols writes parquet bloom filters into every file") {
    import scala.jdk.CollectionConverters._
    val dir = tmpDir("bloom")
    val ds = new OrderedDataset(spark, s"$dir/d")
    ds.write(
      spark.range(2000).toDF("seq")
        .withColumn("uid", col("seq") * 7919 % 1000),
      WriteOpts("seq", NRows(500), bloomFilterCols = Seq("uid")))
    val conf = spark.sparkContext.hadoopConfiguration
    ds.meta.files.foreach { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/d/${f.name}"), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val cols = r.getFooter.getBlocks.get(0).getColumns.asScala
        def off(n: String) = cols.find(_.getPath.toDotString == n)
          .get.getBloomFilterOffset
        assert(off("uid") >= 0, s"no bloom on uid in ${f.name}")
        assert(off("seq") < 0, s"unexpected bloom on seq in ${f.name}")
      } finally r.close()
    }
    // bloom-filtered point lookup returns the same rows as ever
    assert(ds.df.filter(col("uid") === 42).count() ==
      (0L until 2000L).count(s => s * 7919 % 1000 == 42))
    // continuity: a plain append (no bloom opts) keeps writing blooms —
    // the dataset's bloom columns are recorded in the sidecar kv
    val before = ds.meta.files.map(_.name).toSet
    ds.write(
      spark.range(2000, 2500).toDF("seq")
        .withColumn("uid", col("seq") * 7919 % 1000),
      WriteOpts("seq", NRows(500)))
    assert(ds.kv(OrderedDataset.BloomColsKey) == "uid")
    ds.meta.files.filterNot(f => before(f.name)).foreach { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/d/${f.name}"), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try assert(r.getFooter.getBlocks.get(0).getColumns.asScala
        .find(_.getPath.toDotString == "uid").get
        .getBloomFilterOffset >= 0, s"append lost bloom in ${f.name}")
      finally r.close()
    }
  }

  test("create + full scan + pruned range scan") {
    val dir = tmpDir("opd")
    val ds = new OrderedDataset(spark, s"$dir/d1")
    ds.write(tsDf((1L to 100L).map(i => (i, i * 1.0))),
      WriteOpts("t", target = NRows(30)))
    val m = ds.meta
    assert(m.files.size == 4) // ceil(100/30)
    assert(m.totalRows == 100)
    assert(ds.df.count() == 100)
    assert(ds.orderedDf.select("t").as[Long].collect().toSeq == (1L to 100L))
    // pruned range: only overlapping files are read
    val r = ds.rangeDF(Some(OrdLong(35)), Some(OrdLong(60)))
    assert(r.select("t").as[Long].collect().sorted.toSeq == (35L until 60L))
    val scanned = r.select(input_file_name()).distinct().count()
    assert(scanned < 4, s"expected pruning, scanned $scanned files")
  }

  test("sliceDF reads exactly the files at those min-order positions") {
    val dir = tmpDir("opd")
    val ds = new OrderedDataset(spark, s"$dir/d1")
    ds.write(tsDf((1L to 100L).map(i => (i, i * 1.0))),
      WriteOpts("t", target = NRows(30)))
    val files = ds.meta.files
    assert(files.size == 4)
    def check(from: Int, untilExcl: Int): Unit = {
      val sel = files.slice(from, untilExcl)
      val s = ds.sliceDF(from, untilExcl)
      assert(s.columns.toSeq == Seq("t", "v"))
      val got = s.select("t").as[Long].collect().sorted.toSeq
      val want = (1L to 100L).filter(t =>
        sel.exists(f => OrdLong(t) >= f.min && OrdLong(t) <= f.max))
      assert(got == want, s"slice($from, $untilExcl)")
      assert(got.size.toLong == sel.map(_.rows).sum)
      assert(s.select(input_file_name()).distinct().as[String].collect()
        .map(_.split("/").last).toSet == sel.map(_.name).toSet)
    }
    check(1, 3)  // interior: the 2nd and 3rd files by min
    check(0, 1)  // head file only
    check(2, 2)  // empty slice
    check(3, 10) // runs past the end: the last file only
    check(5, 7)  // entirely past the end: empty
  }

  test("append beyond tail rewrites nothing") {
    val dir = tmpDir("opd")
    val ds = new OrderedDataset(spark, s"$dir/d1")
    ds.write(tsDf((1L to 50L).map(i => (i, 1.0))), WriteOpts("t", NRows(25)))
    val before = ds.meta.files.map(_.name).toSet
    val rep = ds.write(tsDf((51L to 60L).map(i => (i, 2.0))),
      WriteOpts("t", NRows(25)))
    assert(rep.filesRewritten == 0)
    assert(before.subsetOf(ds.meta.files.map(_.name).toSet))
    assert(ds.df.count() == 60)
  }

  test("overlapping upsert with keep-last dedup") {
    val dir = tmpDir("opd")
    val ds = new OrderedDataset(spark, s"$dir/d1")
    ds.write(tsDf((1L to 20L).map(i => (i, 1.0))), WriteOpts("t", NRows(10)))
    // correction batch: overwrite t in 8..12, plus new t=21
    val rep = ds.write(tsDf((8L to 12L).map(i => (i, 99.0)) :+ (21L, 99.0)),
      WriteOpts("t", NRows(10), duplicatesOn = Some(Seq("t"))))
    assert(ds.df.count() == 21)
    val vals = ds.orderedDf.select("v").as[Double].collect()
    assert((8 to 12).forall(i => vals(i - 1) == 99.0))
    assert(vals(0) == 1.0 && vals(19) == 1.0 && vals(20) == 99.0)
    assert(rep.filesRewritten >= 1 && rep.filesKept >= 0)
  }

  test("keep-last dedup prefers later batch rows on equal keys") {
    val dir = tmpDir("opd")
    val ds = new OrderedDataset(spark, s"$dir/d1")
    // duplicate ordered values WITHIN one batch: last occurrence wins
    val batch = Seq((1L, 1.0), (2L, 1.0), (2L, 2.0), (3L, 1.0)).toDF("t", "v")
      .coalesce(1)
    ds.write(batch, WriteOpts("t", NRows(100), duplicatesOn = Some(Seq("t"))))
    assert(ds.orderedDf.select("v").as[Double].collect().toSeq ==
      Seq(1.0, 2.0, 1.0))
  }

  test("concurrent reader survives an overlapping upsert (retire grace)") {
    val dir = tmpDir("grace")
    val ds = new OrderedDataset(spark, s"$dir/d1")
    ds.write(tsDf((1L to 100L).map(i => (i, 1.0))), WriteOpts("t", NRows(30)))
    // a reader resolves its file list against the current sidecar...
    val plan = ds.rangeDF(Some(OrdLong(10)), Some(OrdLong(91)))
    // ...then an overlapping upsert commits, retiring the old files
    ds.write(tsDf((10L to 90L).map(i => (i, 2.0))),
      WriteOpts("t", NRows(30), duplicatesOn = Some(Seq("t"))))
    // the pre-upsert plan still reads its snapshot: replaced files are
    // retired for the grace window, not deleted at commit
    assert(plan.count() == 81)
    assert(plan.select("v").distinct().as[Double].collect().toSeq == Seq(1.0))
    // and the new sidecar serves the new data
    assert(ds.rangeDF(Some(OrdLong(10)), Some(OrdLong(91)))
      .select("v").distinct().as[Double].collect().toSeq == Seq(2.0))
  }

  test("retired files are reaped once the grace window passes") {
    val dir = tmpDir("reap")
    val ds = new OrderedDataset(spark, s"$dir/d1")
    def onDisk: Set[String] =
      new java.io.File(s"$dir/d1").listFiles().map(_.getName)
        .filter(n => OrderedDataset.DataFileRe.matches(n)).toSet
    ds.write(tsDf((1L to 20L).map(i => (i, 1.0))), WriteOpts("t", NRows(10)))
    ds.write(tsDf((5L to 15L).map(i => (i, 2.0))),
      WriteOpts("t", NRows(10), duplicatesOn = Some(Seq("t"))))
    // within the grace window the replaced files are still on disk
    assert(onDisk.size > ds.meta.files.size)
    val saved = OrderedDataset.retireGraceMs
    try {
      OrderedDataset.retireGraceMs = 0L
      Thread.sleep(10)
      ds.write(tsDf(Seq((30L, 1.0))), WriteOpts("t", NRows(10)))
      assert(onDisk == ds.meta.files.map(_.name).toSet)
    } finally OrderedDataset.retireGraceMs = saved
  }

  test("N small same-period appends collapse at write (lazy TimePeriod)") {
    val t0 = java.time.LocalDateTime.of(2024, 4, 1, 0, 0)
    val dir = tmpDir("lazyperiod")
    val ds = new OrderedDataset(spark, s"$dir/d1")
    val opts = WriteOpts("t", TimePeriod("day"), maxNOffTargetRgs = Some(2))
    def batch(mins: Seq[Long], v: Double) =
      mins.map(m => (t0.plusMinutes(m), v)).toDF("t", "v").coalesce(1)
    ds.write(batch(Seq(0L, 10L), 1.0), opts)
    // lazy mode: a small same-period append does NOT rewrite the period
    ds.write(batch(Seq(20L, 30L), 2.0), opts)
    assert(ds.meta.files.size == 2, s"files: ${ds.meta.files}")
    // the adjacent off-target run reaches maxN → collapses at write
    ds.write(batch(Seq(40L), 3.0), opts)
    assert(ds.meta.files.size == 1, s"files: ${ds.meta.files}")
    assert(ds.df.count() == 5)
    assert(ds.orderedDf.select("v").as[Double].collect().toSeq ==
      Seq(1.0, 1.0, 2.0, 2.0, 3.0))
  }

  test("middle insert absorbs its true period neighbors (ADVICE r2)") {
    val t0 = java.time.LocalDateTime.of(2024, 4, 1, 0, 0)
    val dir = tmpDir("midinsert")
    val ds = new OrderedDataset(spark, s"$dir/d1")
    val opts = WriteOpts("t", TimePeriod("day"))
    // 5 one-day files
    ds.write((0 until 5).flatMap(d => Seq(
        (t0.plusDays(d), 1.0), (t0.plusDays(d).plusHours(1), 1.0)))
      .toDF("t", "v").coalesce(1), opts)
    assert(ds.meta.files.size == 5)
    // one row in day 1, strictly after that day's file max, before day 2:
    // no value-range overlap, so the old head/tail collapse compared the
    // LAST file's period and left two files in day 1
    ds.write(Seq((t0.plusHours(2), 9.0)).toDF("t", "v"), opts)
    assert(ds.meta.files.size == 5, s"files: ${ds.meta.files}")
    assert(ds.df.count() == 11)
  }

  test("off-target compaction absorbs small neighbor files") {
    val dir = tmpDir("opd")
    val ds = new OrderedDataset(spark, s"$dir/d1")
    val opts = WriteOpts("t", NRows(100), maxNOffTargetRgs = Some(3))
    // 4 appends of 10 rows each: all off-target (10 < 80)
    (0 until 4).foreach { i =>
      ds.write(tsDf((i * 10 + 1 until i * 10 + 11).map(x => (x.toLong, 1.0))),
        opts)
    }
    // after the 4th append the trailing off-target run (3 files) exceeds
    // maxN and is absorbed into one rewrite
    assert(ds.meta.files.size < 4, s"files: ${ds.meta.files}")
    assert(ds.df.count() == 40)
  }

  test("optimize compacts off-target runs without changing content") {
    val dir = tmpDir("opt")
    val ds = new OrderedDataset(spark, s"$dir/d1")
    // 6 tiny appends, no auto-compaction → 6 off-target files
    (0 until 6).foreach { i =>
      ds.write(tsDf((i * 10 + 1 until i * 10 + 11).map(x => (x.toLong, 1.0))),
        WriteOpts("t", NRows(100)))
    }
    assert(ds.meta.files.size == 6)
    val before = ds.orderedDf.collect().toSeq
    val runs = ds.optimize(NRows(100))
    assert(runs == 1)
    assert(ds.meta.files.size == 1, ds.meta.files)
    assert(ds.orderedDf.collect().toSeq == before)
    // idempotent: nothing left to compact
    assert(ds.optimize(NRows(100)) == 0)
  }

  test("ranged optimize compacts only the hot tail (OPTIMIZE WHERE)") {
    val dir = tmpDir("opt-range")
    val ds = new OrderedDataset(spark, s"$dir/d1")
    (0 until 6).foreach { i =>
      ds.write(tsDf((i * 10 + 1 until i * 10 + 11).map(x => (x.toLong, 1.0))),
        WriteOpts("t", NRows(100)))
    }
    val before = ds.orderedDf.collect().toSeq
    val headNames = ds.meta.files.take(3).map(_.name)
    // scope = [31, ∞): only the last 3 files (t in 31..60) are candidates
    assert(ds.optimize(NRows(100), lo = Some(OrdLong(31L))) == 1)
    val m = ds.meta
    assert(m.files.size == 4, m.files) // 3 cold + 1 compacted hot
    assert(m.files.take(3).map(_.name) == headNames) // cold untouched
    assert(ds.orderedDf.collect().toSeq == before)
  }

  test("time-period target: EXACTLY one file per period, none spanning") {
    val dir = tmpDir("opd")
    val ds = new OrderedDataset(spark, s"$dir/d1")
    // 7 days x 24 rows, deliberately many input partitions
    val df = (0 until 168).map { h =>
      (java.time.LocalDateTime.of(2024, 1, 1 + h / 24, h % 24, 30), h * 1.0)
    }.toDF("ts", "v").repartition(13)
    ds.write(df, WriteOpts("ts", TimePeriod("day")))
    val m = ds.meta
    assert(m.files.size == 7, m.files)
    m.files.foreach { f =>
      (f.min, f.max) match {
        case (OrdTs(a), OrdTs(b)) =>
          assert(a / 86400000000L == b / 86400000000L,
            s"file ${f.name} spans days")
        case other => fail(s"unexpected stat types $other")
      }
    }
    assert(ds.df.count() == 168)
  }

  test("optimize(TimePeriod) normalizes multiple files per period") {
    val dir = tmpDir("opd")
    val ds = new OrderedDataset(spark, s"$dir/d1")
    def day(d: Int, h: Int, v: Double) =
      (java.time.LocalDateTime.of(2024, 1, d, h, 0), v)
    // appends with NRows targets: several small files inside day 1 plus
    // a file SPANNING days 1-2
    ds.write(Seq(day(1, 1, 1.0), day(1, 5, 2.0))
      .toDF("ts", "v"), WriteOpts("ts", NRows(1)))
    ds.write(Seq(day(1, 9, 4.0), day(2, 1, 3.0), day(2, 9, 5.0),
        day(3, 1, 6.0))
      .toDF("ts", "v"), WriteOpts("ts", NRows(2)))
    assert(ds.meta.files.size == 4, ds.meta.files)
    val before = ds.orderedDf.collect().toSeq
    val rewritten = ds.optimize(TimePeriod("day"))
    assert(rewritten >= 1)
    val m = ds.meta
    assert(m.files.size == 3, m.files) // one per day
    assert(ds.orderedDf.collect().toSeq == before)
    // second optimize is a no-op
    assert(ds.optimize(TimePeriod("day")) == 0)
  }

  test("store discovery, get, delete") {
    val base = tmpDir("store")
    val st = new Store(spark, base, cityIdx)
    assert(st.keys.isEmpty)
    st.get(CityKey("de", "berlin")).write(tsDf(Seq((1L, 1.0))), WriteOpts("t"))
    st.get(CityKey("fr", "paris")).write(tsDf(Seq((2L, 2.0))), WriteOpts("t"))
    assert(st.keys.toSeq == Seq(CityKey("de", "berlin"), CityKey("fr", "paris")))
    st.delete(CityKey("de", "berlin"))
    assert(st.keys.toSeq == Seq(CityKey("fr", "paris")))
  }

  test("iterIntersections yields aligned slices covering the range") {
    val base = tmpDir("store")
    val st = new Store(spark, base, cityIdx)
    val k1 = CityKey("a", "x"); val k2 = CityKey("a", "y")
    st.get(k1).write(tsDf((1L to 30L).map(i => (i, 1.0))),
      WriteOpts("t", NRows(10)))
    st.get(k2).write(tsDf((15L to 40L).map(i => (i, 2.0))),
      WriteOpts("t", NRows(8)))
    val parts = st.iterIntersections(Seq(k1, k2),
      Some(OrdLong(5)), Some(OrdLong(35))).toSeq
    assert(parts.nonEmpty)
    // each interval: both slices within [lo, hi); concatenation == range
    val all1 = parts.flatMap(_.slices(k1).select("t").as[Long].collect())
    val all2 = parts.flatMap(_.slices(k2).select("t").as[Long].collect())
    assert(all1.sorted.toSeq == (5L to 30L)) // k1 holds 1..30 only
    assert(all2.sorted.toSeq == (15L until 35L))
    parts.foreach { p =>
      p.slices.values.foreach { s =>
        val ts = s.select("t").as[Long].collect()
        assert(ts.forall(t => OrdLong(t) >= p.lo &&
          p.hiExcl.forall(h => OrdLong(t) < h)))
      }
    }
  }

  test("intersections handle duplicate boundary values across files") {
    // FIXTURES.md §1.2 "hours" shape: tiny row groups with duplicate
    // ordered values spanning file boundaries
    val base = tmpDir("dupbound")
    val st = new Store(spark, base, cityIdx)
    val k = CityKey("a", "x")
    // duplicate t=10 four times, t=22 three times; rg target 2 forces
    // the duplicates across file boundaries (no dedup on write)
    val vals = Seq(1L, 5L, 10L, 10L, 10L, 10L, 15L, 22L, 22L, 22L, 30L)
    st.get(k).write(
      vals.zipWithIndex.map { case (t, i) => (t, i.toDouble) }.toDF("t", "v")
        .coalesce(1),
      WriteOpts("t", NRows(2)))
    val m = st.get(k).meta
    assert(m.files.size >= 5)
    assert(m.files.sliding(2).exists {
      case Seq(a, b) => a.max == b.min // a dup value spans a boundary
      case _ => false
    })
    // every intersection slice is value-consistent and the union is exact
    val parts = st.iterIntersections(Seq(k), None, None).toSeq
    val all = parts.flatMap(_.slices(k).select("t").as[Long].collect())
    assert(all.sorted.toSeq == vals)
    parts.foreach { p =>
      p.slices(k).select("t").as[Long].collect().foreach { t =>
        assert(OrdLong(t) >= p.lo && p.hiExcl.forall(h => OrdLong(t) < h))
      }
    }
    // range query cutting THROUGH the duplicate run
    val cut = st.get(k).rangeDF(Some(OrdLong(10)), Some(OrdLong(22)))
      .select("t").as[Long].collect().sorted.toSeq
    assert(cut == Seq(10L, 10L, 10L, 10L, 15L))
  }

  test("hierarchical (sublevel) indexer maps to nested directories") {
    // HierarchicalIndex(symbol, DateInfo(year, month)) → AAPL/2023-01
    // (ref indexer.py sublevel; tutorial.rst:188-206)
    case class Hier(symbol: String, year: Int, month: Int)
    val idx = Indexer.of[Hier](2)(
      k => Seq(Seq(k.symbol), Seq(k.year.toString, f"${k.month}%02d")))(
      l => (l(0), l(1)) match {
        case (Seq(sym), Seq(y, m)) => Some(Hier(sym, y.toInt, m.toInt))
        case _ => None
      })
    assert(idx.toPath(Hier("AAPL", 2023, 1)) == "AAPL/2023-01")
    assert(idx.fromPath("AAPL/2023-01") == Some(Hier("AAPL", 2023, 1)))
    implicit val ord: Ordering[Hier] =
      Ordering.by(h => (h.symbol, h.year, h.month))
    val base = tmpDir("hierstore")
    val st = new Store(spark, base, idx)
    st.get(Hier("AAPL", 2023, 1)).write(tsDf(Seq((1L, 1.0))), WriteOpts("t"))
    st.get(Hier("MSFT", 2024, 12)).write(tsDf(Seq((2L, 2.0))), WriteOpts("t"))
    assert(st.keys.toSeq == Seq(Hier("AAPL", 2023, 1), Hier("MSFT", 2024, 12)))
    st.delete(Hier("AAPL", 2023, 1))
    assert(st.keys.toSeq == Seq(Hier("MSFT", 2024, 12)))
    // parent dir AAPL pruned after its last dataset is deleted
    assert(!new java.io.File(s"$base/AAPL").exists())
  }

  test("schema-divergent appends are rejected (no silent null columns)") {
    val dir = tmpDir("schemachk")
    val ds = new OrderedDataset(spark, dir)
    ds.write(tsDf(Seq((1L, 1.0), (2L, 2.0))), WriteOpts("t", NRows(10)))
    // extra column
    val extra = intercept[IllegalArgumentException] {
      ds.write(Seq((3L, 3.0, "x")).toDF("t", "v", "w"),
        WriteOpts("t", NRows(10)))
    }
    assert(extra.getMessage.contains("extra"))
    // same names, different type
    val retyped = intercept[IllegalArgumentException] {
      ds.write(Seq((4L, "not a double")).toDF("t", "v"),
        WriteOpts("t", NRows(10)))
    }
    assert(retyped.getMessage.contains("types"))
    // column ORDER is free — parquet reads by name
    ds.write(Seq((5.0, 5L)).toDF("v", "t"), WriteOpts("t", NRows(10)))
    assert(ds.df.count() == 3)
  }

  test("null ordered_on values are rejected up front") {
    val dir = tmpDir("nullord")
    val ds = new OrderedDataset(spark, dir)
    val withNulls = Seq[(java.lang.Long, Double)]((1L, 1.0), (null, 2.0))
      .toDF("t", "v")
    val e = intercept[IllegalArgumentException] {
      ds.write(withNulls, WriteOpts("t", NRows(10)))
    }
    assert(e.getMessage.contains("null"))
    // an all-null batch fails the same clear way (not an NPE)
    intercept[IllegalArgumentException] {
      ds.write(Seq[(java.lang.Long, Double)]((null, 3.0)).toDF("t", "v"),
        WriteOpts("t", NRows(10)))
    }: Unit
    assert(!ds.exists)
  }

  test("dedup upserts size files from the POST-dedup count") {
    val dir = tmpDir("dedupsize")
    val ds = new OrderedDataset(spark, dir)
    // 100 rows at target 50 → 2 on-target files
    ds.write(tsDf((0L until 100L).map(i => (i, i * 1.0))),
      WriteOpts("t", NRows(50), duplicatesOn = Some(Seq("t"))))
    assert(ds.meta.files.size == 2)
    // supersede EVERY row (same keys): deduped output is still 100
    // rows → still 2 full-size files, not 4 half-size ones
    ds.write(tsDf((0L until 100L).map(i => (i, i * 2.0))),
      WriteOpts("t", NRows(50), duplicatesOn = Some(Seq("t"))))
    assert(ds.meta.files.size == 2)
    assert(ds.meta.files.forall(_.rows == 50))
    // keep-last won: values are the superseding batch's
    assert(ds.df.agg(sum("v")).head.getDouble(0) == (0 until 100).map(_ * 2.0).sum)
  }

  // jobs of a commit that cannot change its result are not run: the
  // post-dedup count only when it can change the file count, and no
  // parquet footer inference when reading the written files back
  private val Here = "OrderedDataset.scala"
  private def countJobs(sites: Seq[graft.SparkSpec.JobSite]) =
    sites.filter(_.is("count", Here))
  private def inferenceJobs(sites: Seq[graft.SparkSpec.JobSite]) =
    sites.filter(_.is("DataFrameReader.parquet", Here))
  private def keepLast(n: Long) =
    WriteOpts("t", NRows(n), duplicatesOn = Some(Seq("t")))

  test("a one-file keep-last append runs no dedup count or schema inference") {
    val ds = new OrderedDataset(spark, tmpDir("fewjobs"))
    ds.write(tsDf((0L until 10L).map(i => (i, 1.0))), keepLast(100))
    val sites = jobSites {
      ds.write(tsDf((10L until 20L).map(i => (i, 2.0))), keepLast(100))
    }
    // the stats readback is still there: the matcher sees this file
    assert(sites.exists(_.is("collect", Here)), sites)
    assert(countJobs(sites).isEmpty, sites)
    assert(inferenceJobs(sites).isEmpty, sites)
    // the tail append adds one file and rewrites none
    assert(ds.meta.files.map(_.rows) == Seq(10L, 10L))
  }

  test("dedup count is skipped when the pre-dedup bound is exactly n") {
    val ds = new OrderedDataset(spark, tmpDir("boundn"))
    ds.write(tsDf((0L until 30L).map(i => (i, 1.0))), keepLast(50))
    // rewrite 30 rows + batch 20 rows = 50 = n: one file either way
    val sites = jobSites {
      ds.write(tsDf((20L until 40L).map(i => (i, 2.0))), keepLast(50))
    }
    assert(countJobs(sites).isEmpty, sites)
    assert(ds.meta.files.map(_.rows) == Seq(40L))
    assert(ds.df.agg(sum("v")).head.getDouble(0) == 20 * 1.0 + 20 * 2.0)
  }

  test("dedup count still runs when the bound is n+1 and sizes one file") {
    val ds = new OrderedDataset(spark, tmpDir("boundn1"))
    ds.write(tsDf((0L until 30L).map(i => (i, 1.0))), keepLast(50))
    // bound 30 + 21 = 51 > n, but dedup leaves 41 rows: one file, not
    // the two the pre-dedup bound would size
    val sites = jobSites {
      ds.write(tsDf((20L until 41L).map(i => (i, 2.0))), keepLast(50))
    }
    assert(countJobs(sites).nonEmpty, sites)
    assert(ds.meta.files.map(_.rows) == Seq(41L))
  }

  test("a TimePeriod keep-last upsert runs no dedup count") {
    val t0 = java.time.LocalDateTime.of(2024, 4, 1, 0, 0)
    val ds = new OrderedDataset(spark, tmpDir("periodcount"))
    val opts = WriteOpts("t", TimePeriod("day"),
      duplicatesOn = Some(Seq("t")))
    def batch(hours: Seq[Long], v: Double) =
      hours.map(h => (t0.plusHours(h), v)).toDF("t", "v")
    ds.write(batch(0L until 48L, 1.0), opts)
    val sites = jobSites { ds.write(batch(12L until 36L, 2.0), opts) }
    assert(countJobs(sites).isEmpty, sites)
    assert(ds.meta.files.size == 2)
    assert(ds.df.agg(sum("v")).head.getDouble(0) == 24 * 1.0 + 24 * 2.0)
  }

  test("kv metadata add/update/remove") {
    val dir = tmpDir("opd")
    val ds = new OrderedDataset(spark, s"$dir/d1")
    ds.write(tsDf(Seq((1L, 1.0))), WriteOpts("t", kv = Map("a" -> "1")))
    assert(ds.kv == Map("a" -> "1"))
    ds.write(tsDf(Seq((2L, 1.0))),
      WriteOpts("t", kv = Map("b" -> "2"), kvRemove = Seq("a")))
    assert(ds.kv == Map("b" -> "2"))
  }
}
