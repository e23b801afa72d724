package graft.store

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The sidecar entries the writing tasks build ([[FileStatsTracker]])
  * equal the readback oracle's ([[ReadbackOracle]]) on random batches,
  * for every commit path that writes files: upserts with and without
  * dedup, additive schema evolution, bloom and cluster columns,
  * TimePeriod targets, `optimize` and `delete`. Values include nulls,
  * NaN and infinities, strings over the 64-character prefix and
  * multi-byte ones, LTZ and NTZ timestamps, the narrow integral types
  * and binary sketch inputs; sketches must match byte for byte.
  */
class FileStatsPropertySpec extends SparkSpec {

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private val schema = StructType(Seq(
    StructField("t", LongType, nullable = false),
    StructField("l", LongType), StructField("i", IntegerType),
    StructField("sh", ShortType), StructField("b", ByteType),
    StructField("d", DoubleType), StructField("f", FloatType),
    StructField("s", StringType), StructField("ltz", TimestampType),
    StructField("ntz", TimestampNTZType), StructField("bin", BinaryType)))

  private def orNull[A](g: Gen[A]): Gen[Any] =
    Gen.frequency(1 -> Gen.const(null), 5 -> g)

  private val strGen: Gen[String] = Gen.oneOf(
    Gen.const(""), Gen.alphaStr.map(_.take(10)),
    Gen.choose(60, 80).map(n => "k" * n),
    Gen.choose(60, 70).map(n => "é" * n),
    Gen.choose(1, 70).map(n => "𝄞" * n), // U+1D11E, 4 UTF-8 bytes
    Gen.alphaStr.map(s => "z" + s.take(5)))

  private val doubleGen: Gen[Double] = Gen.oneOf(
    Gen.choose(-1e6, 1e6), Gen.const(Double.NaN),
    Gen.const(Double.PositiveInfinity), Gen.const(Double.NegativeInfinity))

  private val tsGen: Gen[Long] = Gen.choose(0L, 4L * 365 * 86400000000L)

  private def rowGen(t: Long): Gen[Row] = for {
    l <- orNull(Gen.choose(-1000L, 1000L))
    i <- orNull(Gen.choose(-50, 50))
    sh <- orNull(Gen.choose(Short.MinValue, Short.MaxValue))
    b <- orNull(Gen.choose(Byte.MinValue, Byte.MaxValue))
    d <- orNull(doubleGen)
    f <- orNull(doubleGen.map(_.toFloat))
    s <- orNull(strGen)
    ltz <- orNull(tsGen.map(us => new java.sql.Timestamp(us / 1000)))
    ntz <- orNull(tsGen.map(us => java.time.LocalDateTime.ofEpochSecond(
      us / 1000000, 0, java.time.ZoneOffset.UTC)))
    bin <- orNull(Gen.choose(0, 3).map(n => Array.fill[Byte](n)(n.toByte)))
  } yield Row(t, l, i, sh, b, d, f, s, ltz, ntz, bin)

  /** A batch over ordered keys [lo, lo + span), duplicates allowed. */
  private def batchGen(lo: Long, span: Long): Gen[Seq[Row]] = for {
    n <- Gen.choose(1, 40)
    ts <- Gen.listOfN(n, Gen.choose(lo, lo + span - 1))
    rows <- Gen.sequence[Seq[Row], Row](ts.sorted.map(rowGen))
  } yield rows

  private def df(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  /** Runs `op` on `ds` and checks the entries of the files it added. */
  private def checked(ds: OrderedDataset, colStats: Boolean = true)
      (op: => Unit): Unit = {
    val before = if (ds.exists) Some(ds.meta) else None
    op
    val after = ds.meta
    val names = before.map(_.files.map(_.name).toSet).getOrElse(Set.empty)
    val got = after.files.filterNot(f => names(f.name)).sortBy(_.name)
    val exp = ReadbackOracle.added(spark, ds.dir, before, after, colStats)
      .sortBy(_.name)
    assert(got.map(comparable) == exp.map(comparable))
    assert(got.forall(_.bytes.exists(_ > 0)))
  }

  /** A file's entry with NaN equal to NaN (OrdDouble's `==` is the
    * double's) and its maps in key order. */
  private def comparable(f: FileStat) =
    (f.id, f.name, f.rows, f.min.toString, f.max.toString,
      f.cols.toSeq.sortBy(_._1).map { case (c, st) =>
        (c, st.min.map(_.toString), st.max.map(_.toString)) },
      f.hll.toSeq.sorted, f.bytes)

  test("tracker stats equal the readback oracle across commit paths") {
    (1 to 4).foreach { it =>
      val seed = 7000L + it
      val ds = new OrderedDataset(spark, s"${tmpDir("fstats")}/d")
      val dedup = if (it % 2 == 0) Some(Seq("t")) else None
      val opts = WriteOpts("t", NRows(6), duplicatesOn = dedup,
        sketchCols = Seq("i", "s", "bin", "l"),
        bloomFilterCols = if (it % 2 == 1) Seq("l") else Nil,
        clusterBy = if (it > 2) Seq("s") else Nil)
      val b1 = sample(batchGen(0L, 60L), seed)
      val b2 = sample(batchGen(20L, 30L), seed + 1)
      checked(ds)(ds.write(df(b1), opts))
      checked(ds)(ds.write(df(b2), opts))
      // additive evolution: a batch-only column extends the schema
      val b3 = sample(batchGen(40L, 40L), seed + 2)
      checked(ds)(ds.write(df(b3).withColumn("x",
        org.apache.spark.sql.functions.concat_ws("-",
          org.apache.spark.sql.functions.col("s"),
          org.apache.spark.sql.functions.col("i"))),
        opts.copy(mergeSchema = true)))
      checked(ds)(ds.optimize(NRows(20)))
      val colStats = ds.meta.files.exists(_.cols.nonEmpty)
      checked(ds, colStats)(ds.delete(Some(OrdLong(10L)), Some(OrdLong(15L))))
    }
  }

  test("tracker stats equal the oracle on TimePeriod and timestamp " +
      "ordered columns, and without column stats") {
    import org.apache.spark.sql.functions._
    (1 to 2).foreach { it =>
      val seed = 7100L + it
      val rows = sample(batchGen(0L, 200L), seed)
      // ordered on an LTZ (it = 1) or NTZ (it = 2) timestamp: t hours
      val tsType = if (it == 1) "timestamp" else "timestamp_ntz"
      val d0 = df(rows).withColumn("t",
        timestamp_seconds(col("t") * 3600L).cast(tsType))
      val ds = new OrderedDataset(spark, s"${tmpDir("fstats-tp")}/d")
      checked(ds)(ds.write(d0, WriteOpts("t", TimePeriod("day"),
        duplicatesOn = Some(Nil), sketchCols = Seq("s"))))
      val more = df(sample(batchGen(100L, 150L), seed + 1)).withColumn("t",
        timestamp_seconds(col("t") * 3600L).cast(tsType))
      checked(ds, colStats = false)(ds.write(more,
        WriteOpts("t", TimePeriod("day"), colStats = false)))
    }
  }
}
