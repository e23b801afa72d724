package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSession.cpus
    val spark = LocalSession()
    // SPARK_GRAFT_SKIP_PREPARE: skip the store-fixture build when
    // benchmarking only pipeline queries (they ensure their own state)
    if (!sys.env.contains("SPARK_GRAFT_SKIP_PREPARE"))
      try SparkEntry.prepare(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] prepare failed: ${e.getMessage}") }
    // warm up JIT/codegen and the scan path so the first timed query
    // isn't charged for JVM startup (run order is map-order-dependent);
    // the agg warmup runs against THIS bench's sfDir, not a hardcoded
    // scale dir that may not exist on replica trees
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .write.mode("overwrite").format("noop").save()
      SparkEntry.queries("q1_pricing_summary")(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
    } catch { case _: Throwable => () }
    // ---- session drift sentinel (VERDICT r9 #5): the shared host
    // drifts 2-3x on sub-second lines in bad windows, and every such
    // session used to cost a hand min-of-5 adjudication. Three FIXED
    // synthetic probes (no sfDir dependence, so the sentinel means the
    // same thing at sf0.1 and on the 10x/100x replicas) run up front;
    // the session is flagged `drifted` when their median ratio vs the
    // pinned healthy-host canonicals exceeds DriftFlagAt. A drifted
    // session's timings are NOT records — SCALE.md names the
    // acceptance rule that consumes this flag.
    def noopSave(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    def med(ts: Seq[Double]): Double = {
      val s = ts.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    import org.apache.spark.sql.functions.{col, expr, hash, sum, lit,
      length, max, md5, pmod}
    // Optional subsetting for local iteration: SPARK_GRAFT_QUERIES is a
    // comma-separated allowlist; SPARK_GRAFT_REPS overrides min-of-n.
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val driftProbes: Seq[(String, () => Unit)] = Seq(
      "probe_shuffle_agg" -> (() => noopSave(
        spark.range(20000000L).groupBy(expr("id % 1000")).count())),
      "probe_sort" -> (() => noopSave(
        spark.range(5000000L).toDF("id").sort(col("id").desc))),
      "probe_hash_scan" -> (() => noopSave(
        spark.range(40000000L).select(sum(hash(col("id")))))))
    // canonical medians pinned PER THREAD CONFIG from healthy-host
    // sessions (r10) — probe times shift ±40% with the thread count,
    // and judging one config's session against another config's
    // canonicals is exactly the cross-config mistake SCALE.md r10b
    // forbids for query records. A cpus value with no pinned
    // canonicals reports ratio = null, drifted = false (uncalibrated,
    // never a false DRIFTED verdict).
    val driftCanonByCpus: Map[Int, Map[String, Double]] = Map(
      32 -> Map("probe_shuffle_agg" -> 0.36, "probe_sort" -> 0.46,
        "probe_hash_scan" -> 0.11),
      4 -> Map("probe_shuffle_agg" -> 0.23, "probe_sort" -> 0.70,
        "probe_hash_scan" -> 0.11))
    val DriftFlagAt = 1.5
    // subset runs (local iteration) skip the sentinel's ~12 fixed
    // Spark jobs: their output gates RECORDS, and subset runs are not
    // records. SPARK_GRAFT_FORCE_PROBES overrides (probe calibration
    // without paying for the full query surface).
    val runProbes =
      only.isEmpty || sys.env.contains("SPARK_GRAFT_FORCE_PROBES")
    val probeMed: Seq[(String, Double)] =
      if (!runProbes) Nil
      else driftProbes.map { case (n, body) =>
        body() // untimed warm pass per probe shape
        n -> med((1 to 3).map(_ => timed(body())))
      }
    // cpus may legitimately be a non-numeric local[...] token ("*");
    // an unparsable value degrades to the uncalibrated (ratio=null)
    // verdict instead of aborting the whole bench (ADVICE r10)
    val cpusNum: Option[Int] = scala.util.Try(cpus.toInt).toOption
    val canon = cpusNum.flatMap(driftCanonByCpus.get)
    val driftRatio: Option[Double] =
      if (probeMed.isEmpty) None
      else canon.map(c => med(probeMed.map { case (n, t) => t / c(n) }))
    // ---- datapath probe (VERDICT r12 #1): the three probes above
    // are synthetic (range→shuffle, never a byte of parquet), and r12f
    // measured them DISAGREEING with the data path in both directions
    // within one day — the sentinel blessed a session whose parquet
    // scans ran 2.5x hot, and flagged one whose scans were fine. This
    // probe exercises the real path — a fixed-size DETERMINISTIC
    // parquet write + scan + shuffle (no sfDir dependence, so it means
    // the same thing on every replica tree) — and its ratio vs the
    // pinned canonical is the ARBITER: `datapath_degraded` is the
    // self-adjudication field SCALE.md's acceptance rule consumes when
    // the sentinel and the per-query self-score disagree.
    // canonical medians pinned r13 from the min of 4 (cpus=32) / 2
    // (cpus=4) calibration sessions on a host whose concurrent
    // synthetic sentinel swung 1.17–3.32 while these stayed within
    // ±10% of the floor — the stability that makes this probe the
    // arbiter. Same uncalibrated-degrades-to-null rule as the
    // sentinel canonicals above.
    val dataCanonByCpus: Map[Int, Double] = Map(32 -> 1.28, 4 -> 1.26)
    val dataProbeMed: Option[Double] =
      if (!runProbes) None
      else {
        val dpDir = java.nio.file.Files
          .createTempDirectory("graft_dataprobe")
        val t = dpDir.resolve("t").toString
        def body(): Unit = {
          spark.range(2000000L).select(col("id"),
            pmod(hash(col("id")), lit(997)).as("k"),
            md5(col("id").cast("string")).as("s"))
            .write.mode("overwrite").parquet(t)
          noopSave(spark.read.parquet(t).groupBy("k")
            .agg(sum(length(col("s"))).as("b"), max(col("s")).as("m")))
        }
        body() // untimed warm pass (dir creation, codegen)
        val m = med((1 to 3).map(_ => timed(body())))
        try { // best-effort cleanup of the ~70 MB fixture
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(dpDir).iterator().asScala.toSeq
            .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
        } catch { case scala.util.control.NonFatal(_) => () }
        Some(m)
      }
    val dataRatio: Option[Double] = for {
      m <- dataProbeMed
      c <- cpusNum.flatMap(dataCanonByCpus.get)
    } yield m / c
    val datapathDegraded = dataRatio.exists(_ > DriftFlagAt)
    if (datapathDegraded) System.err.println(
      f"[bench] DATAPATH DEGRADED: parquet write+scan+shuffle probe " +
        f"ratio ${dataRatio.get}%.2f > $DriftFlagAt vs healthy-host " +
        s"canonical (cpus=$cpus) — timings in this run are not records" +
        " regardless of the synthetic sentinel's verdict")
    val drifted = driftRatio.exists(_ > DriftFlagAt)
    if (drifted) System.err.println(
      f"[bench] DRIFTED SESSION: sentinel ratio ${driftRatio.get}%.2f " +
        s"> $DriftFlagAt vs healthy-host canonicals (cpus=$cpus) — " +
        "timings in this run are not records")
    if (runProbes && canon.isEmpty) System.err.println(
      s"[bench] drift sentinel UNCALIBRATED at cpus=$cpus (canonicals " +
        "pinned for 32 and 4) — probes recorded, no verdict")
    // min-of-3 by default: r3's driver run showed ±5x outliers on a
    // noisy shared host with min-of-2 (g7_sessions 5.04s there, 0.67s
    // in every local rerun) — a third rep is cheap insurance
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    require(reps >= 1, s"SPARK_GRAFT_REPS must be >= 1, got $reps")
    val selected = SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.contains(n)) }
    // a throwing query must NOT pass its time-to-exception off as a
    // result (a broken query would silently IMPROVE the total): track
    // failures and exclude them from the timings
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    val results = selected.flatMap { case (name, fn) =>
      // noop sink: forces full computation of every output column
      // (count() would let Catalyst prune the projections away);
      // min-of-reps is the standard steady-state estimator under the
      // shared host's ±50% scheduling noise, and the MEDIAN is kept
      // beside it so a drifted session self-diagnoses per line (min
      // far under median = one clean rep among noisy ones).
      var ok = true
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        catch { case e: Throwable =>
          ok = false
          System.err.println(s"[bench] $name failed: ${e.getMessage}") }
        val dt = (System.nanoTime() - t0) / 1e9
        // release per-query persisted frames so queries don't contend
        spark.catalog.clearCache()
        dt
      }
      if (ok) Some(name -> ((times.min, med(times))))
      else { failed += name; None }
    }
    // 4-decimal seconds: the driver records only a bounded TAIL of
    // stdout, so a 100+-query map at full double precision loses its
    // head — 0.1 ms resolution keeps the line as small as it can be.
    // Locale.ROOT: the f-interpolator follows the JVM default locale,
    // and a comma-decimal locale would render invalid JSON
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val qs = results.map { case (k, v) => s""""$k":${fmt(v._1)}""" }
      .mkString("{", ",", "}")
    val qsMed = results.map { case (k, v) => s""""$k":${fmt(v._2)}""" }
      .mkString("{", ",", "}")
    val total =
      if (results.nonEmpty) results.values.map(_._1).sum else 0.0
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val probesJson = probeMed.map { case (k, v) => s""""$k":${fmt(v)}""" }
      .mkString("{", ",", "}")
    val ratioJson = driftRatio.map(fmt).getOrElse("null")
    val dataProbeJson = dataProbeMed.map(fmt).getOrElse("null")
    val dataRatioJson = dataRatio.map(fmt).getOrElse("null")
    val driftJson = s"""{"probes":$probesJson,"ratio":$ratioJson,""" +
      s""""data_probe":$dataProbeJson,"data_ratio":$dataRatioJson,""" +
      s""""datapath_degraded":$datapathDegraded,""" +
      s""""flag_at":$DriftFlagAt,"drifted":$drifted,""" +
      s""""skipped":${!runProbes}}"""
    // ---- machine-checkable acceptance rule (VERDICT r10 #6): the
    // sentinel's probes are sf-independent, so a session can read
    // "healthy" while every data query runs 7% hot (the 100x r10b
    // case). Emit the per-query median ratio of THIS run vs the
    // pinned canonical record for the same sfDir, so promotion
    // decisions consume a field instead of a human diffing two files.
    // Rules: cpus must match the canonical's cpus (cross-config
    // comparison is forbidden, SCALE.md r10b); ratio is over the
    // common query set, per-query min vs canonical min; a missing or
    // unreadable canonical degrades to null, never an abort.
    // cpus-KEYED canonical resolution (VERDICT r11 #3): a curated
    // record pinned for THIS run's thread count wins over the plain
    // `<base>.json`. Two failure modes this closes: (1) the driver
    // runs cpus=32 against a cpus=4 default and reads
    // `common: 0, ratio: null` exactly where the machine-checkable
    // promotion rule matters; (2) the bench WRITES BENCH_FULL.json at
    // the end of every full run (see outPath below), so the un-keyed
    // default is the previous session's output, not a curated
    // canonical — the r11 driver session (drifted, sentinel 1.675)
    // overwrote it in place.
    // r15: the bench now ALSO writes `<base>.cpus<N>.json` on every
    // full-surface run (VERDICT r14 #2 — the c8 run used to clobber
    // the c32 record because both wrote BENCH_FULL.json), so that
    // name is no longer a curated record either. Curated canonicals
    // live under `BENCH_CANON*.cpus<N>.json`, which the bench NEVER
    // writes — promotion copies a run record there by hand.
    val sfBase: Option[String] = {
      val norm = sfDir.stripSuffix("/")
      if (norm.endsWith("sf0.1")) Some("BENCH_FULL")
      else if (norm.endsWith("graft_sf1")) Some("BENCH_FULL_10x")
      else if (norm.endsWith("graft_sf10")) Some("BENCH_FULL_100x")
      else None
    }
    val canonPath: Option[String] =
      sys.env.get("SPARK_GRAFT_CANON").filter(_.nonEmpty).orElse {
        sfBase.map { b =>
          val curated = b.replace("BENCH_FULL", "BENCH_CANON")
          val candidates = cpusNum.toSeq.flatMap(c =>
            Seq(s"$curated.cpus$c.json", s"$b.cpus$c.json")) :+
            s"$b.json"
          candidates.find(p => java.nio.file.Files.exists(
            java.nio.file.Paths.get(p))).getOrElse(s"$b.json")
        }
      }
    case class CanonCmp(file: String, canonCpus: Option[Int],
        common: Int, medianRatio: Option[Double],
        maxRatio: Option[Double])
    val canonCmp: Option[CanonCmp] = canonPath.flatMap { p =>
      try {
        import org.json4s._
        val j = org.json4s.jackson.JsonMethods.parse(
          java.nio.file.Files.readString(java.nio.file.Paths.get(p)))
        val cCpus = (j \ "cpus") match {
          case JInt(n) => Some(n.toInt)
          case JString(s) => scala.util.Try(s.toInt).toOption
          case _ => None
        }
        val cQ: Map[String, Double] = (j \ "queries") match {
          case JObject(fs) => fs.collect {
            case (k, JDouble(v)) => k -> v
            case (k, JInt(v)) => k -> v.toDouble
          }.toMap
          case _ => Map.empty
        }
        val comparable = cCpus.isDefined && cCpus == cpusNum
        val ratios = if (!comparable) Nil
          else results.toSeq.collect {
            case (n, (mn, _)) if cQ.get(n).exists(_ > 0) => mn / cQ(n) }
        Some(CanonCmp(p, cCpus, ratios.size,
          if (ratios.nonEmpty) Some(med(ratios)) else None,
          if (ratios.nonEmpty) Some(ratios.max) else None))
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] canonical $p unreadable: $e")
        None
      }
    }
    // cpus in the record: sf0.1 sub-second queries read ~1.2-1.5x
    // slower at local[32] than local[4] (scheduling overhead dominates
    // tiny partitions), and two rounds of "host drift" lore turned out
    // to be local[4] records compared against local[32] sessions —
    // records are only comparable within one cpus value
    val canonJson = canonCmp match {
      case None => """{"file":null,"median_ratio_vs_canonical":null}"""
      case Some(c) =>
        val mr = c.medianRatio.map(fmt).getOrElse("null")
        val mx = c.maxRatio.map(fmt).getOrElse("null")
        val cc = c.canonCpus.map(_.toString).getOrElse("null")
        s"""{"file":"${c.file}","canon_cpus":$cc,"common":${c.common},""" +
          s""""median_ratio_vs_canonical":$mr,"max_ratio":$mx}"""
    }
    // non-numeric cpus ("*") must still render valid JSON
    val cpusJson = cpusNum.map(_.toString).getOrElse(s""""$cpus"""")
    // the one-field promotion verdict (VERDICT r12 #1): a record is
    // promotable only when BOTH gates read healthy — the synthetic
    // sentinel AND the datapath probe. A subset run is never a record:
    // gate on only.isEmpty, NOT runProbes — SPARK_GRAFT_FORCE_PROBES
    // makes a QUERIES-subset calibration run probe too, and it must
    // not self-report as promotable on a partial surface (ADVICE r13)
    val recordOk = only.isEmpty && !drifted && !datapathDegraded
    // Two output surfaces (VERDICT r14 #1): the driver records only a
    // ~2000-char TAIL of stdout, and the 128-entry per-query map is
    // ~3.3 KB on its own — a printed line carrying it is GUARANTEED
    // to be truncated mid-map, so the driver's parser never sees the
    // line start and PERF comparison degrades to empty (it did, for
    // two consecutive rounds). So:
    //   stdout  -> COMPACT contract line: scalars + drift/canon
    //              verdicts + failed + a pointer to the full record
    //              (~800 bytes, fits any sane tail bound);
    //   file(s) -> the UNTRUNCATED record with the full per-query
    //              min and median maps.
    // A subset run without SPARK_GRAFT_BENCH_OUT writes no record:
    // canonical resolution still falls back to the un-keyed
    // BENCH_FULL.json, so a partial map there would become the next
    // full run's baseline.
    val outPath: Option[String] = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(if (only.isEmpty) Some("BENCH_FULL.json") else None)
    // cpus-keyed full record (VERDICT r14 #2: the c8 run clobbered
    // the c32 record — both wrote BENCH_FULL.json): written on every
    // FULL-surface default run, so each core count keeps its latest
    // untruncated record. Subset runs never touch it (a 3-query map
    // under the canonical-lineage name would wreck regression
    // gating), and SPARK_GRAFT_BENCH_OUT runs are experiments that
    // own their naming.
    val keyedOut: Option[String] =
      if (only.isEmpty && !sys.env.contains("SPARK_GRAFT_BENCH_OUT"))
        for { b <- sfBase; c <- cpusNum } yield s"$b.cpus$c.json"
      else None
    val queriesFileJson =
      keyedOut.orElse(outPath).map(p => s""""$p"""").getOrElse("null")
    val compactLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","cpus":$cpusJson,"record_ok":$recordOk,"n_queries":${results.size},"drift":$driftJson,"canon":$canonJson,"queries_file":$queriesFileJson,"failed":$failedJson,"sf":"$sfDir"}"""
    val fullLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","cpus":$cpusJson,"record_ok":$recordOk,"n_queries":${results.size},"drift":$driftJson,"canon":$canonJson,"queries":$qs,"queries_median":$qsMed,"failed":$failedJson,"sf":"$sfDir"}"""
    println(compactLine)
    // best-effort file writes — a read-only cwd must not fail the
    // bench (VERDICT r4 #7). SPARK_GRAFT_BENCH_OUT redirects the
    // record so a scale/experiment run can never clobber the
    // canonical sf0.1 file (VERDICT r5 #2).
    (outPath.toSeq ++ keyedOut).distinct.foreach { p =>
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p), fullLine + "\n")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] bench record not written ($p): $e") }
    }
    spark.stop()
  }
}
