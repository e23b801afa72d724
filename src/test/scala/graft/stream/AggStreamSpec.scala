package graft.stream

import graft.SparkSpec
import graft.agg.{AggFn, AggSpec, SegmentAgg}
import graft.store._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The incremental-equals-batch contract — the reference's crown-jewel
  * restart tests (SURVEY §5: test_cumsegagg_restart.py,
  * test_aggstream_simple.py): the same seed split at different points,
  * with restarts from persisted state, must equal the single-shot result.
  */
class AggStreamSpec extends SparkSpec {
  import spark.implicits._

  implicit val ord: Ordering[String] = Ordering.String
  val idx: Indexer[String] =
    Indexer.of[String](1)(k => Seq(Seq(k)))(l =>
      if (l.head.size == 1) Some(l.head.head) else None)

  val specs = Seq(
    AggSpec("first_v", "v", AggFn.First), AggSpec("last_v", "v", AggFn.Last),
    AggSpec("min_v", "v", AggFn.Min), AggSpec("max_v", "v", AggFn.Max),
    AggSpec("sum_v", "v", AggFn.Sum))

  // seed: 200 rows over ~2.8 h, several rows per 10-minute bin, dup ts
  def tsSeed: DataFrame = (0 until 200).map { i =>
    (java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusSeconds(i * 50L - (i % 3)),
     i * 1.0 + (i % 7), i.toLong)
  }.toDF("t", "v", "rid").orderBy("t", "rid")

  def batchExpected(seed: DataFrame): Array[org.apache.spark.sql.Row] = {
    val bin = SegmentAgg.timeBin(col("t"), "10 minutes")
    SegmentAgg.aggregate(seed, bin, specs, col("rid"))
      .orderBy("bin").collect()
  }

  def runSplits(splitAt: Seq[Int]): Array[org.apache.spark.sql.Row] = {
    val base = tmpDir("aggstream")
    val st = new Store(spark, base, idx)
    val stream = new AggStream(st, "t", "rid",
      Map("out" -> StreamKeyCfg(None, "10 minutes", aggs = specs)),
      NRows(1000))
    val rows = tsSeed.collect()
    val bounds = (0 +: splitAt :+ rows.length).distinct.sorted
    val chunks = bounds.sliding(2).map { case Seq(a, b) =>
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.slice(a, b).toSeq, 2),
        tsSeed.schema)
    }.toSeq
    // two separate AggStream instances to also exercise restart-from-state
    stream.agg(chunks.take(1).iterator)
    val stream2 = new AggStream(st, "t", "rid",
      Map("out" -> StreamKeyCfg(None, "10 minutes", aggs = specs)),
      NRows(1000))
    stream2.agg(chunks.drop(1).iterator)
    stream2.results("out").orderBy("bin").collect()
  }

  test("single chunk equals batch") {
    val got = runSplits(Nil)
    val exp = batchExpected(tsSeed)
    assert(got.toSeq == exp.toSeq)
  }

  test("incremental splits equal batch (several split points)") {
    val exp = batchExpected(tsSeed).toSeq
    for (splits <- Seq(Seq(50), Seq(13), Seq(40, 41), Seq(25, 100, 150),
        Seq(1, 2, 3, 199))) {
      val got = runSplits(splits).toSeq
      assert(got == exp, s"splits=$splits")
    }
  }

  test("count-based bins are chunking-invariant with restart") {
    def run(splitAt: Seq[Int]): Seq[org.apache.spark.sql.Row] = {
      val st = new Store(spark, tmpDir("xrows"), idx)
      val rows = tsSeed.collect()
      val bounds = (0 +: splitAt :+ rows.length).distinct.sorted
      val chunks = bounds.sliding(2).map { case Seq(a, b) =>
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows.slice(a, b).toSeq, 2),
          tsSeed.schema)
      }.toSeq
      val mk = () => new AggStream(st, "t", "rid",
        Map("o" -> StreamKeyCfg(None, "", aggs = specs, xRows = Some(30))),
        NRows(1000))
      mk().agg(chunks.take(1).iterator)
      mk().agg(chunks.drop(1).iterator) // restart from persisted state
      mk().results("o").orderBy("bin").collect().toSeq
    }
    val oneShot = run(Nil)
    assert(oneShot.map(_.getLong(2)).init.forall(_ == 30L)) // full bins
    for (splits <- Seq(Seq(45), Seq(29, 31), Seq(10, 100, 150)))
      assert(run(splits) == oneShot, s"splits=$splits")
  }

  test("xRows bins with snapshots are chunking-invariant with restart") {
    // snap_by composed with by_x_rows (ref segmentby.py:712-1028)
    def run(splitAt: Seq[Int]): Seq[org.apache.spark.sql.Row] = {
      val st = new Store(spark, tmpDir("xrows-snap"), idx)
      val rows = tsSeed.collect()
      val bounds = (0 +: splitAt :+ rows.length).distinct.sorted
      val chunks = bounds.sliding(2).map { case Seq(a, b) =>
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows.slice(a, b).toSeq, 2),
          tsSeed.schema)
      }.toSeq
      val mk = () => new AggStream(st, "t", "rid",
        Map("o" -> StreamKeyCfg(None, "", aggs = specs, xRows = Some(30),
          snapFreq = Some("30 minutes"))),
        NRows(1000))
      mk().agg(chunks.take(1).iterator)
      mk().agg(chunks.drop(1).iterator) // restart from persisted state
      mk().results("o").orderBy("bin", "snap").collect().toSeq
    }
    val oneShot = run(Nil)
    // snapshot rows exist, n_rows runs up to the bin size within a bin,
    // and the LAST snapshot of each full bin carries the full-bin value
    assert(oneShot.nonEmpty)
    val lastPerBin = oneShot.groupBy(_.getLong(0)).view
      .mapValues(_.maxBy(_.getAs[java.time.LocalDateTime]("snap")
        .toString)).values.toSeq
    assert(lastPerBin.map(_.getAs[Long]("n_rows")).count(_ == 30L)
      >= lastPerBin.size - 1)
    for (splits <- Seq(Seq(45), Seq(29, 31), Seq(10, 100, 150)))
      assert(run(splits) == oneShot, s"splits=$splits")
    // the bins view agrees with the plain xRows stream (same bins)
    val st2 = new Store(spark, tmpDir("xrows-plain"), idx)
    val plain = new AggStream(st2, "t", "rid",
      Map("o" -> StreamKeyCfg(None, "", aggs = specs, xRows = Some(30))),
      NRows(1000))
    plain.agg(Iterator(tsSeed))
    val st3 = new Store(spark, tmpDir("xrows-snap2"), idx)
    val combo = new AggStream(st3, "t", "rid",
      Map("o" -> StreamKeyCfg(None, "", aggs = specs, xRows = Some(30),
        snapFreq = Some("30 minutes"))),
      NRows(1000))
    combo.agg(Iterator(tsSeed))
    assert(combo.binResults("o").orderBy("bin").collect().toSeq ==
      plain.results("o").orderBy("bin").collect().toSeq)
  }

  test("snapResultsWithSpine forwards running values through empty cells") {
    // sparse seed: two clusters of rows inside one hour-bin, 10-minute
    // snaps — the grid cells between/after them must carry the running
    // value forward (ref preserve_res, segmentby.py:965-1012)
    val st = new Store(spark, tmpDir("spine"), idx)
    val rows = Seq(
      (java.time.LocalDateTime.of(2024, 1, 1, 0, 1), 10.0, 1L),
      (java.time.LocalDateTime.of(2024, 1, 1, 0, 2), 20.0, 2L),
      (java.time.LocalDateTime.of(2024, 1, 1, 0, 41), 5.0, 3L))
      .toDF("t", "v", "rid")
    val stream = new AggStream(st, "t", "rid",
      Map("o" -> StreamKeyCfg(None, "1 hour", aggs = specs,
        snapFreq = Some("10 minutes"))),
      NRows(1000))
    stream.agg(Iterator(rows))
    // sparse frame: only the 00:00 and 00:40 cells exist
    assert(stream.snapResults("o").get.count() == 2)
    val spine = stream.snapResultsWithSpine("o").get
      .orderBy("bin", "snap").collect()
    assert(spine.length == 6, spine.toSeq) // full hour grid
    val sums = spine.map(_.getAs[Double]("sum_v")).toSeq
    assert(sums == Seq(30.0, 30.0, 30.0, 30.0, 35.0, 35.0), sums)
    val mins = spine.map(_.getAs[Double]("min_v")).toSeq
    assert(mins == Seq(10.0, 10.0, 10.0, 10.0, 5.0, 5.0), mins)
  }

  test("spineSnaps routes the full-grid snapshot frame through results/post") {
    // same sparse seed as the spine test: results() and the post hook
    // must see the 6-cell forwarded grid, not the 2 observed cells
    val rows = Seq(
      (java.time.LocalDateTime.of(2024, 1, 1, 0, 1), 10.0, 1L),
      (java.time.LocalDateTime.of(2024, 1, 1, 0, 2), 20.0, 2L),
      (java.time.LocalDateTime.of(2024, 1, 1, 0, 41), 5.0, 3L))
      .toDF("t", "v", "rid")
    val st = new Store(spark, tmpDir("spine-route"), idx)
    val stream = new AggStream(st, "t", "rid",
      Map("o" -> StreamKeyCfg(None, "1 hour", aggs = specs,
        snapFreq = Some("10 minutes"), spineSnaps = true)),
      NRows(1000))
    stream.agg(Iterator(rows))
    assert(stream.results("o").count() == 6)
    val st2 = new Store(spark, tmpDir("spine-route-post"), idx)
    val post: (DataFrame, Option[DataFrame]) => DataFrame =
      (bins, snaps) => snaps.get.join(
        bins.select(col("bin"), col("sum_v").as("bin_total")), Seq("bin"))
    val withPost = new AggStream(st2, "t", "rid",
      Map("o" -> StreamKeyCfg(None, "1 hour", aggs = specs,
        snapFreq = Some("10 minutes"), spineSnaps = true,
        post = Some(post))),
      NRows(1000))
    withPost.agg(Iterator(rows))
    val got = withPost.results("o").orderBy("snap").collect()
    assert(got.length == 6)
    assert(got.map(_.getAs[Double]("sum_v")).toSeq ==
      Seq(30.0, 30.0, 30.0, 30.0, 35.0, 35.0))
    assert(got.forall(_.getAs[Double]("bin_total") == 35.0))
  }

  test("dual-frame post hook receives bins AND snapshots") {
    // ref post(buffer, bin_res, snap_res) (aggstream.py:703-719,
    // exercised by test_aggstream_advanced post-with-snapshots): the
    // post reshapes both frames into one output.
    val st = new Store(spark, tmpDir("dualpost"), idx)
    val post: (DataFrame, Option[DataFrame]) => DataFrame =
      (bins, snaps) => snaps.get.join(
        bins.select(col("bin"), col("sum_v").as("bin_total")), Seq("bin"))
        .withColumn("share", col("sum_v") / col("bin_total"))
    val stream = new AggStream(st, "t", "rid",
      Map("o" -> StreamKeyCfg(None, "1 hour", aggs = specs,
        snapFreq = Some("10 minutes"), post = Some(post))),
      NRows(1000))
    stream.agg(Iterator(tsSeed))
    val got = stream.results("o").orderBy("bin", "snap").collect()
    assert(got.nonEmpty)
    // the last snapshot of every bin has share == 1 (running == total)
    val lastPerBin = got.groupBy(_.get(0)).values
      .map(_.maxBy(_.getAs[java.time.LocalDateTime]("snap").toString))
    lastPerBin.foreach { r =>
      assert(math.abs(r.getAs[Double]("share") - 1.0) < 1e-9, r)
    }
    // and binResults/snapResults stay individually readable (the
    // reference's two-key recording analog)
    assert(stream.binResults("o").columns.toSeq ==
      Seq("bin", "first_v", "last_v", "min_v", "max_v", "sum_v"))
    assert(stream.snapResults("o").get.columns.toSeq ==
      Seq("bin", "snap", "first_v", "last_v", "min_v", "max_v", "sum_v"))
    // bins equal the no-snapshot stream over the same seed
    val st2 = new Store(spark, tmpDir("dualpost-plain"), idx)
    val plain = new AggStream(st2, "t", "rid",
      Map("o" -> StreamKeyCfg(None, "1 hour", aggs = specs)), NRows(1000))
    plain.agg(Iterator(tsSeed))
    assert(stream.binResults("o").orderBy("bin").collect().toSeq ==
      plain.results("o").orderBy("bin").collect().toSeq)
  }

  test("a failing pre hook keeps prior chunks' results and allows resume") {
    // ref SeedPreException semantics (aggstream.py:539-546, 1505-1528):
    // results of chunks processed before the failure are flushed and the
    // stream resumes from persisted state afterwards.
    val st = new Store(spark, tmpDir("prefail"), idx)
    def mk() = new AggStream(st, "t", "rid",
      Map("o" -> StreamKeyCfg(None, "10 minutes", aggs = specs)),
      NRows(1000))
    val rows = tsSeed.collect()
    def chunk(a: Int, b: Int) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.slice(a, b).toSeq, 2),
      tsSeed.schema)
    var calls = 0
    val failingPre: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame = { df =>
      calls += 1
      if (calls == 2) throw new RuntimeException("pre boom")
      df
    }
    intercept[RuntimeException] {
      mk().agg(Iterator(chunk(0, 100), chunk(100, 200)), pre = Some(failingPre))
    }
    // chunk 1 (minus the withheld tail, flushed on nothing — the failure
    // aborted before final flush) is persisted and restartable
    val partial = mk().results("o").count()
    assert(partial > 0)
    // resume: replay the seed from the start — the restart trim skips
    // what chunk 1 already aggregated
    mk().agg(Iterator(chunk(0, 200)))
    val got = mk().results("o").orderBy("bin").collect().toSeq
    assert(got == batchExpected(tsSeed).toSeq)
  }

  test("stateful pre buffer persists across restart (pre_buffer)") {
    // ref pre(on, buffer) with pre_buffer persisted in kv
    // (aggstream.py:799-806, _init_buffers :274-369): the hook's state
    // survives a new AggStream instance.
    val st = new Store(spark, tmpDir("prebuf"), idx)
    def mk() = new AggStream(st, "t", "rid",
      Map("o" -> StreamKeyCfg(None, "10 minutes", aggs = specs)),
      NRows(1000))
    val rows = tsSeed.collect()
    def chunk(a: Int, b: Int) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.slice(a, b).toSeq, 2),
      tsSeed.schema)
    // pre: number the chunks (buffer = count so far) and shift values by
    // chunkIdx * 10000 — results only match the model if the counter
    // continues across the restart
    val numberingPre: AggStream.StatefulPre = { (df, state) =>
      val n = state.map(_.toLong).getOrElse(0L)
      (df.withColumn("v", col("v") + lit(n * 10000.0)),
        Some((n + 1).toString))
    }
    mk().agg(Iterator(chunk(0, 70), chunk(70, 140)),
      statefulPre = Some(numberingPre))
    // RESTART: fresh instance, third chunk — pre state must resume at 2
    mk().agg(Iterator(chunk(140, 200)), statefulPre = Some(numberingPre))

    // model: same shifts applied chunk-wise, one-shot aggregation.
    // discardLast withholds each chunk's max-t rows and re-presents them
    // with the NEXT chunk — but the pre shift was already applied at
    // first presentation, so the model shifts by original chunk index.
    val shifted = Seq((0, 70, 0L), (70, 140, 1L), (140, 200, 2L))
      .flatMap { case (a, b, n) =>
        rows.slice(a, b).map(r => (
          r.getAs[java.time.LocalDateTime]("t"),
          r.getAs[Double]("v") + n * 10000.0,
          r.getAs[Long]("rid")))
      }
    val got = mk().results("o").orderBy("bin").collect().toSeq
    assert(got == batchExpected(shifted.toDF("t", "v", "rid")).toSeq)
  }

  test("diverged per-key restarts heal: laggy key catches up, ahead key skips") {
    val base = tmpDir("aggstream")
    val st = new Store(spark, base, idx)
    val rows = tsSeed.collect()
    def chunk(a: Int, b: Int) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.slice(a, b).toSeq, 2),
      tsSeed.schema)
    val cfg = StreamKeyCfg(None, "10 minutes", aggs = specs)
    // chunk 1 reaches both keys
    new AggStream(st, "t", "rid", Map("a" -> cfg, "b" -> cfg), NRows(1000))
      .agg(Iterator(chunk(0, 80)), discardLast = false)
    // chunk 2 reaches ONLY key a — the partial-failure shape (key b's
    // write died; its restart is now behind a's)
    new AggStream(st, "t", "rid", Map("a" -> cfg), NRows(1000))
      .agg(Iterator(chunk(80, 140)), discardLast = false)
    // resume with BOTH keys, re-seeding from key b's restart: a must
    // skip the replayed rows it already folded, b must fold them
    new AggStream(st, "t", "rid", Map("a" -> cfg, "b" -> cfg), NRows(1000))
      .agg(Iterator(chunk(80, 200)), discardLast = false)
    val exp = batchExpected(tsSeed)
    val sA = new AggStream(st, "t", "rid", Map("a" -> cfg), NRows(1000))
    val sB = new AggStream(st, "t", "rid", Map("b" -> cfg), NRows(1000))
    assert(sA.results("a").orderBy("bin").collect().toSeq == exp.toSeq)
    assert(sB.results("b").orderBy("bin").collect().toSeq == exp.toSeq)
  }

  test("calendar bins with spineSnaps produce the full in-bin grid") {
    val base = tmpDir("aggstream")
    val st = new Store(spark, base, idx)
    // two months of sparse daily rows (gaps leave empty snapshot cells)
    val seed = (0 until 60 by 3).map { i =>
      (java.time.LocalDateTime.of(2024, 1, 1, 6, 0).plusDays(i),
       i * 1.0, i.toLong)
    }.toDF("t", "v", "rid").orderBy("t", "rid")
    val stream = new AggStream(st, "t", "rid",
      Map("m" -> StreamKeyCfg(None, "month", aggs = specs,
        snapFreq = Some("1 day"), spineSnaps = true)),
      NRows(1000))
    stream.agg(Iterator(seed), discardLast = false)
    val got = stream.results("m").collect()
    // full grid: 31 (Jan) + 29 (Feb 2024) daily cells
    val perBin = got.groupBy(_.get(0)).view.mapValues(_.length).toMap
    assert(perBin.values.toSet == Set(31, 29))
    // forwarding: every cell at/after a bin's first observation is
    // non-null (sum_v is the last agg column)
    val jan = got.filter(_.get(0).toString.startsWith("2024-01"))
      .sortBy(_.get(1).toString)
    assert(jan.head.getAs[Any]("sum_v") != null)
    assert(jan.count(_.getAs[Any]("sum_v") == null) == 0)
  }

  test("spineSnaps without snapFreq is rejected at construction") {
    intercept[IllegalArgumentException] {
      StreamKeyCfg(None, "10 minutes", aggs = specs, spineSnaps = true)
    }: Unit
  }

  test("filter fan-out applies per key") {
    val base = tmpDir("aggstream")
    val st = new Store(spark, base, idx)
    val stream = new AggStream(st, "t", "rid",
      Map("all" -> StreamKeyCfg(None, "10 minutes", aggs = specs),
          "high" -> StreamKeyCfg(Some(col("v") > 100), "10 minutes",
            aggs = specs)),
      NRows(1000))
    stream.agg(Iterator(tsSeed))
    val all = stream.results("all").agg(sum("sum_v")).head.getDouble(0)
    val high = stream.results("high").agg(sum("sum_v")).head.getDouble(0)
    val expHigh = tsSeed.filter(col("v") > 100)
      .agg(sum("v")).head.getDouble(0)
    assert(math.abs(high - expHigh) < 1e-6)
    assert(all > high)

    // a filter that drops a whole chunk: the time key and the count key
    // write no data rows for it, yet persist the same restart and pre
    // state as the key that saw rows
    val st2 = new Store(spark, tmpDir("fanoutempty"), idx)
    val early = col("rid") < 100
    val stream2 = new AggStream(st2, "t", "rid",
      Map("all" -> StreamKeyCfg(None, "10 minutes", aggs = specs),
          "time" -> StreamKeyCfg(Some(early), "10 minutes", aggs = specs),
          "rows" -> StreamKeyCfg(Some(early), "", aggs = specs,
            xRows = Some(30))),
      NRows(1000))
    val rows = tsSeed.collect()
    def chunk(a: Int, b: Int) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.slice(a, b).toSeq, 2),
      tsSeed.schema)
    val countingPre: AggStream.StatefulPre = { (df, state) =>
      (df, Some((state.map(_.toLong).getOrElse(0L) + 1).toString))
    }
    stream2.agg(Iterator(chunk(0, 100)), discardLast = false,
      statefulPre = Some(countingPre))
    val filesAfterFirst =
      Seq("time", "rows").map(k => k -> st2.get(k).meta.files).toMap
    stream2.agg(Iterator(chunk(100, 200)), discardLast = false,
      statefulPre = Some(countingPre))
    val kvAll = st2.get("all").kv
    assert(kvAll(AggStream.PreKey) == "2")
    for (k <- Seq("time", "rows")) {
      val ds = st2.get(k)
      assert(ds.meta.files == filesAfterFirst(k), k)
      assert(ds.kv(AggStream.StateKey) == kvAll(AggStream.StateKey), k)
      assert(ds.kv(AggStream.PreKey) == "2", k)
    }
    assert(st2.get("rows").kv(AggStream.RowsKey) == "100")
  }

  def chunkOf(seed: DataFrame, a: Int, b: Int): DataFrame = {
    val rows = seed.collect()
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.slice(a, b).toSeq, 2), seed.schema)
  }

  test("a time key's chunk runs no job of its own: the upsert combines") {
    val st = new Store(spark, tmpDir("combine-jobs"), idx)
    def mk() = new AggStream(st, "t", "rid",
      Map("o" -> StreamKeyCfg(None, "10 minutes", aggs = specs)),
      NRows(1000))
    mk().agg(Iterator(chunkOf(tsSeed, 0, 100)), discardLast = false)
    val second = chunkOf(tsSeed, 100, 200)
    val sites = jobSites { mk().agg(Iterator(second), discardLast = false) }
    assert(!sites.exists(_.userFrame.contains("processKeyTime")), sites)
    assert(!sites.exists(_.is("isEmpty", "AggStream.scala")), sites)
    // one SQL execution from AggStream itself: runChunk's stats action
    val own = sites.filter(_.userFrame.contains("(AggStream.scala:"))
    assert(own.map(_.execution).distinct.size == 1, sites)
    assert(own.forall(_.userFrame.contains("runChunk")), sites)
    assert(mk().results("o").orderBy("bin").collect().toSeq ==
      batchExpected(tsSeed).toSeq)
  }

  test("open bins spanning several files combine across restarts") {
    // 240 rows, two per half hour over 60 hours: day bins with hourly
    // snapshot cells, and 50-row bins with hourly cells; NRows(3) puts
    // an open bin's cells in several stored files
    val seed = (0 until 240).map { i =>
      (java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusSeconds(i / 2 * 1800L),
       i * 1.0 + (i % 7), i.toLong)
    }.toDF("t", "v", "rid").orderBy("t", "rid")
    val cfgs = Map(
      "day" -> StreamKeyCfg(None, "1 day", aggs = specs,
        snapFreq = Some("1 hour")),
      "rows" -> StreamKeyCfg(None, "", aggs = specs, xRows = Some(50),
        snapFreq = Some("1 hour")))
    val expDay = SegmentAgg.snapshots(seed,
      SegmentAgg.timeBin(col("t"), "1 day"),
      SegmentAgg.timeBin(col("t"), "1 hour"), specs, col("rid"))
      .orderBy("bin", "snap").collect().toSeq
    val expRows = SegmentAgg.xRowsBins(seed, "t", 50, col("rid"))
      .groupBy(col("bin_id").as("bin"))
      .agg(min("t").as("bin_label"), count(lit(1)).as("n_rows") +:
        SegmentAgg.aggExprs(specs, col("rid")): _*)
      .orderBy("bin").collect().toSeq
    // even split points: a restart after a chunk's final flush treats
    // that chunk's last timestamp as complete
    for (splits <- Seq(Seq(38), Seq(96, 98, 182), Seq(2, 120, 238))) {
      val st = new Store(spark, tmpDir("combine-open"), idx)
      val bounds = (0 +: splits :+ 240).distinct.sorted
      bounds.sliding(2).foreach { case Seq(a, b) =>
        // a fresh instance per chunk: every chunk restarts from state
        new AggStream(st, "t", "rid", cfgs, NRows(3))
          .agg(Iterator(chunkOf(seed, a, b)))
      }
      for (k <- cfgs.keys)
        assert(st.get(k).meta.files.groupBy(_.min).exists(_._2.size >= 2),
          s"$k: no bin spans two files, splits=$splits")
      val s = new AggStream(st, "t", "rid", cfgs, NRows(3))
      assert(s.results("day").orderBy("bin", "snap").collect().toSeq ==
        expDay, s"splits=$splits")
      assert(s.binResults("rows").orderBy("bin").collect().toSeq ==
        expRows, s"splits=$splits")
    }
  }

  test("a key filtered empty on the first chunk starts with no files") {
    val st = new Store(spark, tmpDir("firstempty"), idx)
    val late = col("rid") >= 100
    def mk() = new AggStream(st, "t", "rid",
      Map("all" -> StreamKeyCfg(None, "10 minutes", aggs = specs),
          "time" -> StreamKeyCfg(Some(late), "10 minutes", aggs = specs),
          "rows" -> StreamKeyCfg(Some(late), "", aggs = specs,
            xRows = Some(30))),
      NRows(1000))
    val countingPre: AggStream.StatefulPre = { (df, state) =>
      (df, Some((state.map(_.toLong).getOrElse(0L) + 1).toString))
    }
    mk().agg(Iterator(chunkOf(tsSeed, 0, 100)), discardLast = false,
      statefulPre = Some(countingPre))
    val kvAll = st.get("all").kv
    for (k <- Seq("time", "rows")) {
      val ds = st.get(k)
      assert(ds.exists && ds.meta.files.isEmpty, k)
      assert(ds.kv(AggStream.StateKey) == kvAll(AggStream.StateKey), k)
      assert(ds.kv(AggStream.PreKey) == "1", k)
    }
    assert(st.get("rows").kv(AggStream.RowsKey) == "0")
    mk().agg(Iterator(chunkOf(tsSeed, 100, 200)), discardLast = false,
      statefulPre = Some(countingPre))
    assert(mk().results("time").orderBy("bin").collect().toSeq ==
      batchExpected(tsSeed.filter(late)).toSeq)
    assert(st.get("rows").kv(AggStream.RowsKey) == "100")
    assert(mk().results("rows").agg(sum("n_rows")).head.getLong(0) == 100L)
  }

  test("a failing key: siblings finish and no cache is left behind") {
    val st = new Store(spark, tmpDir("keyfail"), idx)
    // the key's filter throws at execution time, from the second chunk
    val boom = when(col("rid") >= 100, raise_error(lit("key boom")))
      .otherwise(lit(true))
    def mk() = new AggStream(st, "t", "rid",
      Map("good" -> StreamKeyCfg(None, "10 minutes", aggs = specs),
          "bad" -> StreamKeyCfg(Some(boom), "10 minutes", aggs = specs)),
      NRows(1000))
    mk().agg(Iterator(chunkOf(tsSeed, 0, 100)))
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val e = intercept[Exception] {
      mk().agg(Iterator(chunkOf(tsSeed, 100, 200)))
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("key boom")), e)
    val gen = st.get("good").generation
    assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore)
    Thread.sleep(2000)
    assert(st.get("good").generation == gen)
  }

  test("each chunk's key writes run in the caller's job group") {
    val st = new Store(spark, tmpDir("jobgroup"), idx)
    val cfg = StreamKeyCfg(None, "10 minutes", aggs = specs)
    def mk() = new AggStream(st, "t", "rid",
      Map("a" -> cfg, "b" -> cfg, "c" -> cfg), NRows(1000))
    for ((a, b) <- Seq((0, 100), (100, 200))) {
      val chunk = chunkOf(tsSeed, a, b)
      val sites = jobSites { mk().agg(Iterator(chunk), discardLast = false) }
      val writes = sites.filter(_.is("writeParquet", "OrderedDataset.scala"))
      assert(writes.map(_.execution).distinct.size == 3,
        s"chunk $a-$b: $sites")
    }
  }

  test("a second 3-key chunk is 4 SQL executions: shared stats, 3 writes") {
    val st = new Store(spark, tmpDir("chunkexecs"), idx)
    val cfg = StreamKeyCfg(None, "10 minutes", aggs = specs)
    def mk() = new AggStream(st, "t", "rid",
      Map("a" -> cfg, "b" -> cfg, "c" -> cfg), NRows(1000))
    mk().agg(Iterator(chunkOf(tsSeed, 0, 100)), discardLast = false)
    val second = chunkOf(tsSeed, 100, 200)
    val sites = jobSites { mk().agg(Iterator(second), discardLast = false) }
    assert(sites.flatMap(_.execution).distinct.size == 4, sites)
    val own = sites.filter(_.userFrame.contains("(AggStream.scala:"))
    assert(own.flatMap(_.execution).distinct.size == 1, sites)
    assert(mk().results("b").orderBy("bin").collect().toSeq ==
      batchExpected(tsSeed).toSeq)
  }

  test("shared key stats: withheld-only rows, filtered count bins " +
      "across restarts, a key filtered empty") {
    val st = new Store(spark, tmpDir("keystats"), idx)
    val odd = col("rid") % 2 === 1
    def mk() = new AggStream(st, "t", "rid",
      Map("all" -> StreamKeyCfg(None, "10 minutes", aggs = specs),
          // rid 99 is chunk [0, 100)'s max-valued block: withheld there
          "only99" -> StreamKeyCfg(Some(col("rid") === 99), "10 minutes",
            aggs = specs),
          "odd" -> StreamKeyCfg(Some(odd), "", aggs = specs, xRows = Some(7)),
          "none" -> StreamKeyCfg(Some(col("rid") < 0), "10 minutes",
            aggs = specs)),
      NRows(1000))
    var only99AfterFirst: Option[Seq[FileStat]] = None
    val seed = Iterator(chunkOf(tsSeed, 0, 100)) ++
      Iterator.single(()).map { _ =>
        only99AfterFirst = Some(st.get("only99").meta.files)
        chunkOf(tsSeed, 100, 150)
      }
    mk().agg(seed)
    mk().agg(Iterator(chunkOf(tsSeed, 150, 200))) // restart from state
    assert(only99AfterFirst.contains(Nil))
    val s = mk()
    assert(s.results("only99").orderBy("bin").collect().toSeq ==
      batchExpected(tsSeed.filter(col("rid") === 99)).toSeq)
    assert(s.results("all").orderBy("bin").collect().toSeq ==
      batchExpected(tsSeed).toSeq)
    val expOdd = SegmentAgg.xRowsBins(tsSeed.filter(odd), "t", 7, col("rid"))
      .groupBy(col("bin_id").as("bin"))
      .agg(min("t").as("bin_label"), count(lit(1)).as("n_rows") +:
        SegmentAgg.aggExprs(specs, col("rid")): _*)
      .orderBy("bin").collect().toSeq
    assert(s.binResults("odd").orderBy("bin").collect().toSeq == expOdd)
    assert(st.get("odd").kv(AggStream.RowsKey) == "100")
    val none = st.get("none")
    assert(none.exists && none.meta.files.isEmpty)
    assert(none.kv(AggStream.StateKey) ==
      st.get("all").kv(AggStream.StateKey))
  }

  test("a null seed timestamp is rejected before any key commits") {
    val st = new Store(spark, tmpDir("nullts"), idx)
    def mk() = new AggStream(st, "t", "rid",
      Map("a" -> StreamKeyCfg(None, "10 minutes", aggs = specs),
          "r" -> StreamKeyCfg(None, "", aggs = specs, xRows = Some(30))),
      NRows(1000))
    mk().agg(Iterator(chunkOf(tsSeed, 0, 100)))
    val gens = Seq("a", "r").map(k => st.get(k).generation)
    val withNull = chunkOf(tsSeed, 100, 150).unionByName(
      Seq((Option.empty[java.time.LocalDateTime], 1.0, 999L))
        .toDF("t", "v", "rid"))
    for (discardLast <- Seq(true, false)) {
      val e = intercept[IllegalArgumentException] {
        mk().agg(Iterator(withNull), discardLast = discardLast)
      }
      assert(e.getMessage.contains("null"), e)
      assert(Seq("a", "r").map(k => st.get(k).generation) == gens)
    }
  }

  test("a non-deterministic key filter is rejected at construction") {
    val st = new Store(spark, tmpDir("nondet"), idx)
    for (f <- Seq(rand() > 0.5, expr("rand() > 0.5"), col("v") > uuid()))
      intercept[IllegalArgumentException] {
        new AggStream(st, "t", "rid",
          Map("k" -> StreamKeyCfg(Some(f), "10 minutes", aggs = specs)))
      }
    new AggStream(st, "t", "rid", Map("k" -> StreamKeyCfg(
      Some(col("v") > 1 && expr("abs(rid) > 2")), "10 minutes",
      aggs = specs)))
  }
}
