package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The five aggregation kernels of the reference (ref jcumsegagg.py:
  * AGG_FUNCS = first,last,min,max,sum; aggstream.py:47). */
sealed trait AggFn
object AggFn {
  case object First extends AggFn
  case object Last extends AggFn
  case object Min extends AggFn
  case object Max extends AggFn
  case object Sum extends AggFn

  def parse(s: String): AggFn = s.toLowerCase match {
    case "first" => First; case "last" => Last; case "min" => Min
    case "max" => Max; case "sum" => Sum
    case other => throw new IllegalArgumentException(s"unknown agg fn $other")
  }
}

/** `{out_col: (in_col, fn)}` of the reference's agg plans
  * (ref cumsegagg.py:47-155). */
final case class AggSpec(out: String, in: String, fn: AggFn)

/** User-extensible segmentation contract — the port of the reference's
  * `bin_by` Callable (ref segmentby.py:735-800): a BinBy maps the
  * ordered column to a bin-label column. The reference's built-in
  * policies are provided (time scale, explicit edges); `ByExpr` is the
  * "segmentation UDF" — any user column function participates in
  * `SegmentAgg.aggregate`/`aggregateWithSpine`/`snapshots` identically,
  * stays codegen'd, and shuffles once on its bin label like every
  * built-in policy. (Count-based by_x_rows is stateful across rows and
  * lives in `SegmentAgg.xRowsBins` / `StreamKeyCfg.xRows`.)
  */
trait BinBy { def apply(ordered: Column): Column }
object BinBy {
  /** Tumbling time bins (G2). */
  final case class ByTime(freq: String, closed: String = "left",
      label: String = "left") extends BinBy {
    def apply(ordered: Column): Column =
      SegmentAgg.timeBin(ordered, freq, closed, label)
  }
  /** Explicit ascending bin edges (G2 Series form). */
  final case class ByEdges(edges: Seq[Any], closed: String = "left")
      extends BinBy {
    def apply(ordered: Column): Column =
      SegmentAgg.edgeBin(ordered, edges, closed)
  }
  /** User-supplied segmentation: any Column function of the ordered
    * column. */
  final case class ByExpr(f: Column => Column) extends BinBy {
    def apply(ordered: Column): Column = f(ordered)
  }
}

/** Segmentation (binning) + segment aggregation on DataFrames — the
  * Spark-native port of the reference's segmentby/cumsegagg layer
  * (ref segmentby.py, cumsegagg.py). Bins are expressed as *columns*
  * (codegen'd, shuffle-by-bin) rather than index arrays; first/last are
  * made deterministic with an explicit tiebreak column because Spark
  * aggregation order is not defined (SURVEY §7.5 risk 2).
  *
  * Double sums are accumulated in DECIMAL(38,6): exact and associative,
  * so results are identical under any shuffle/partition order — the
  * distributed analog of the reference's single-threaded deterministic
  * sums — and cast back to double on output.
  */
object SegmentAgg {

  /** Tumbling time-bin label (ref segmentby.py:141-368 by_scale with a
    * TimeGrouper): `freq` like "5 minutes"/"1 hour"/"1 day" (fixed) or
    * "month" (calendar). closed='left' puts an edge value in the bin
    * starting there, 'right' in the bin ending there; label picks the
    * left or right edge as the bin's label.
    */
  def timeBin(ordered: Column, freq: String, closed: String = "left",
      label: String = "left"): Column = {
    val cal = Set("week", "month", "quarter", "year")
    val f = freq.trim.toLowerCase
    val eps = expr("INTERVAL 1 MICROSECOND")
    val x = if (closed == "left") ordered else ordered - eps
    if (cal.contains(f)) {
      val start = date_trunc(f, x).cast("timestamp_ntz")
      if (label == "left") start
      else f match {
        case "month"   => add_months(start, 1).cast("timestamp_ntz")
        case "quarter" => add_months(start, 3).cast("timestamp_ntz")
        case "year"    => add_months(start, 12).cast("timestamp_ntz")
        case "week"    => start + expr("INTERVAL 7 DAYS")
      }
    } else {
      // fixed durations: epoch-aligned arithmetic (identical to
      // window(col, freq).start but composable — Spark forbids multiple
      // window() expressions in one aggregate, which bins+snapshots need)
      val step = fixedFreqMicros(f)
      val offset = pmod(wallClockMicros(x), lit(step))
      if (label == "left") addMicros(lit(0L) - offset, x)
      else addMicros(lit(step) - offset, x)
    }
  }

  /** `ts + quantity µs` preserving the input timestamp type. On NTZ this
    * is pure wall-clock arithmetic (no session-zone involvement). The
    * SQL `timestampadd` has no Scala-API/`call_function` form (the unit
    * is a parser keyword), so build the Catalyst node directly.
    */
  def addMicros(quantity: Column, ts: Column): Column = {
    import org.apache.spark.sql.graftbridge.SparkInternals
    SparkInternals.column(
      org.apache.spark.sql.catalyst.expressions.TimestampAdd("MICROSECOND",
        SparkInternals.expression(quantity), SparkInternals.expression(ts)))
  }

  /** Wall-clock µs since epoch of a TIMESTAMP_NTZ column, independent of
    * the session timezone. A `cast("timestamp_ltz")` + `unix_micros`
    * round-trip would interpret the wall clock in the session zone, so a
    * +05:30 session would shift every fixed-frequency boundary by the
    * zone offset (ADVICE r2); field extraction on NTZ is zone-free.
    * `date_part(SECOND)` is DECIMAL(8,6) including the fraction, so ×1e6
    * covers seconds + sub-second exactly.
    */
  def wallClockMicros(ts: Column): Column =
    unix_date(to_date(ts)).cast("long") * lit(86400000000L) +
      hour(ts).cast("long") * lit(3600000000L) +
      minute(ts).cast("long") * lit(60000000L) +
      (date_part(lit("SECOND"), ts) * lit(1000000)).cast("long")

  /** Explicit bin edges (ref segmentby.py by_scale with a Series of bin
    * ends): the bin label of v is the greatest edge <= v (left-closed)
    * or the least edge >= v's predecessor for right-closed. Values below
    * the first edge get a null bin. Implemented as a descending
    * when-chain over the sorted literal edges (driver-side searchsorted
    * compiled into the expression — fine for the bounded edge counts
    * custom bins are used with).
    */
  def edgeBin(ordered: Column, edges: Seq[Any],
      closed: String = "left"): Column = {
    // right-closed = greatest edge STRICTLY below v — a strict
    // comparison, not a 1µs-epsilon subtraction: identical at timestamp
    // µs precision, and it type-checks for numeric edges too (interval
    // arithmetic on a long/double column fails analysis)
    val cmp: Any => Column =
      if (closed == "left") e => ordered >= lit(e) else e => ordered > lit(e)
    // edges must be ascending; folding ascending leaves the LARGEST edge
    // as the outermost `when`, i.e. the chain tests edges descending
    edges.foldLeft(lit(null): Column) {
      (acc, e) => when(cmp(e), lit(e)).otherwise(acc)
    }
  }

  /** Parse "5 minutes" / "1 hour" / "2 days" … to microseconds. */
  def fixedFreqMicros(freq: String): Long = {
    val m = "^(\\d+)\\s*(second|minute|hour|day|week)s?$".r
    freq.trim.toLowerCase match {
      case m(n, unit) =>
        val u = unit match {
          case "second" => 1000000L
          case "minute" => 60L * 1000000L
          case "hour"   => 3600L * 1000000L
          case "day"    => 86400L * 1000000L
          case "week"   => 7L * 86400L * 1000000L
        }
        n.toLong * u
      case other =>
        throw new IllegalArgumentException(s"unsupported frequency '$other'")
    }
  }

  /** Aggregation expressions for one bin; `tie` orders rows within a bin
    * (the ordered_on + provenance tiebreak). */
  def aggExprs(specs: Seq[AggSpec], tie: Column): Seq[Column] =
    specs.map { s =>
      val c = col(s.in)
      (s.fn match {
        case AggFn.First => min_by(c, tie)
        case AggFn.Last  => max_by(c, tie)
        case AggFn.Min   => min(c)
        case AggFn.Max   => max(c)
        case AggFn.Sum   => sum(c.cast("decimal(38,6)")).cast("double")
      }).as(s.out)
    }

  /** [[aggExprs]] in MERGEABLE-partial form: sums stay decimal (not
    * finalized to double) so stored partials combine exactly across
    * chunks/batches — the shared kernel mapping of the incremental
    * (AggStream) and native-streaming (StreamingAgg) paths.
    */
  def partialAggExprs(specs: Seq[AggSpec], tie: Column): Seq[Column] =
    specs.map { s =>
      val c = col(s.in)
      (s.fn match {
        case AggFn.First => min_by(c, tie)
        case AggFn.Last  => max_by(c, tie)
        case AggFn.Min   => min(c)
        case AggFn.Max   => max(c)
        case AggFn.Sum   => sum(c.cast("decimal(38,6)"))
      }).as(s.out)
    }

  /** Plain segmented aggregation: one row per non-empty bin. */
  def aggregate(df: DataFrame, bin: Column, specs: Seq[AggSpec],
      tie: Column): DataFrame = {
    val es = aggExprs(specs, tie)
    df.groupBy(bin.as("bin")).agg(es.head, es.tail: _*)
  }

  /** Same, with the bin given as a BinBy policy over the ordered
    * column (the reference's segmentby orchestration entry, G5). */
  def aggregate(df: DataFrame, bin: BinBy, orderedOn: String,
      specs: Seq[AggSpec], tie: Column): DataFrame =
    aggregate(df, bin(col(orderedOn)), specs, tie)

  /** Segmented aggregation with empty bins materialized as typed nulls
    * (ref cumsegagg.py:532-569): joins the result against a generated
    * label spine covering [min, max] at `step`.
    */
  def aggregateWithSpine(df: DataFrame, bin: Column, specs: Seq[AggSpec],
      tie: Column, step: String): DataFrame = {
    val a = aggregate(df, bin, specs, tie)
    val bounds = a.agg(min("bin").as("lo"), max("bin").as("hi"))
    val spine = bounds.select(
      explode(expr(s"sequence(lo, hi, INTERVAL $step)")).as("bin"))
    spine.join(a, Seq("bin"), "left")
  }

  /** Count-based bins of exactly n rows in stream order (ref
    * segmentby.py:371-520 by_x_rows), labeled by the first ordered value
    * of the bin. `carryIn` continues a partial bin from a previous call.
    *
    * Distributed two-pass implementation (SURVEY §7.5 risk 6 resolved):
    * range-repartition + within-partition sort on (ordered, tie) gives a
    * total order across partitions; `zipWithIndex` then computes global
    * row numbers with one per-partition count pass and per-partition
    * offsets — no single-partition window anywhere. Deterministic
    * because the sort key (ordered, tie) is total.
    */
  def xRowsBins(df: DataFrame, orderedOn: String, n: Int, tie: Column,
      carryIn: Long = 0L): DataFrame = {
    val spark = df.sparkSession
    val parts = spark.sparkContext.defaultParallelism
    val sorted = df
      .repartitionByRange(parts, col(orderedOn), tie)
      .sortWithinPartitions(col(orderedOn), tie)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        "bin_id", org.apache.spark.sql.types.LongType, nullable = false))
    val rdd = sorted.rdd.zipWithIndex().map { case (row, i) =>
      org.apache.spark.sql.Row.fromSeq(
        row.toSeq :+ (i + carryIn) / n)
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Snapshots: running aggregates of the in-progress bin sampled at a
    * finer snapshot grid (ref jcumsegagg.py:230-417, preserve_res).
    * Two-level plan: partial agg per (bin, snap), then an ordered running
    * combine over snaps within each bin — the heavy reduction happens in
    * the shuffle-side partial agg; the window only sees one row per
    * (bin, snap).
    */
  def snapshots(df: DataFrame, bin: Column, snap: Column,
      specs: Seq[AggSpec], tie: Column): DataFrame = {
    val partials = specs.map { s =>
      val c = col(s.in)
      (s.fn match {
        case AggFn.First => min_by(c, tie)
        case AggFn.Last  => max_by(c, tie)
        case AggFn.Min   => min(c)
        case AggFn.Max   => max(c)
        case AggFn.Sum   => sum(c.cast("decimal(38,6)"))
      }).as("__p_" + s.out)
    }
    val partial = df.groupBy(bin.as("bin"), snap.as("snap"))
      .agg(partials.head, partials.tail: _*)
    val w = Window.partitionBy("bin").orderBy("snap")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val outCols = Seq(col("bin"), col("snap")) ++ specs.map { s =>
      val p = col("__p_" + s.out)
      (s.fn match {
        case AggFn.First => first(p).over(w)
        case AggFn.Last  => last(p).over(w)
        case AggFn.Min   => min(p).over(w)
        case AggFn.Max   => max(p).over(w)
        case AggFn.Sum   => sum(p).over(w).cast("double")
      }).as(s.out)
    }
    partial.select(outCols: _*)
  }

  /** Snapshots with the reference's empty-snapshot semantics (ref
    * jcumsegagg.py:350-415 preserve_res; SURVEY T6): every snapshot
    * point of the grid inside a non-empty bin gets a row — points where
    * nothing arrived FORWARD the running value of the bin so far, and
    * points before the bin's first data emit typed nulls. The spine is
    * generated per bin (`sequence` + explode) and the forwarding is a
    * `last(…, ignoreNulls)` running window over the same (bin → snap)
    * partitioning the running combine already uses — one extra window
    * pass on one row per grid cell, no extra shuffle of the data.
    */
  def snapshotsWithSpine(df: DataFrame, bin: Column, snap: Column,
      specs: Seq[AggSpec], tie: Column, binWidth: String, snapStep: String)
      : DataFrame = {
    val base = snapshots(df, bin, snap, specs, tie)
    val spine = base.select(col("bin")).distinct()
      .select(col("bin"), explode(expr(
        s"sequence(bin, bin + INTERVAL $binWidth - INTERVAL $snapStep," +
          s" INTERVAL $snapStep)")).as("snap"))
    val joined = spine.join(base, Seq("bin", "snap"), "left")
    val w = Window.partitionBy("bin").orderBy("snap")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joined.select(col("bin") +: col("snap") +:
      specs.map(s => last(col(s.out), ignoreNulls = true).over(w)
        .as(s.out)): _*)
  }
}
