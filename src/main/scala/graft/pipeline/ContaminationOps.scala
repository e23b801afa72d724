package graft.pipeline

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.store.{NRows, OrderedDataset, WriteOpts}

/** Benchmark decontamination — flag training documents that share any
  * word n-gram with an evaluation set (the GPT-3-style 13-gram overlap
  * check; n is a knob because the right width depends on tokenizer and
  * document length).
  *
  * Shape: distinct n-grams per training doc (map-side shingling, the
  * same `TextOps.wordShingles` representation the dedup family uses)
  * equi-joined against the DISTINCT n-gram set of the eval corpus,
  * counted per training doc. The eval side is benchmark-sized —
  * thousands of documents, millions of n-grams at most — so it is
  * orders of magnitude smaller than the training corpus and AQE
  * broadcasts it on its own (no hint: a genuinely large eval set must
  * be allowed to shuffle-join). The training side never shuffles its
  * text — only (id, gram) pairs — and the output is one row per
  * CONTAMINATED doc, which a well-built corpus keeps tiny.
  */
object ContaminationOps {

  /** (id, n_shared) for every training doc sharing >= 1 distinct word
    * n-gram with the eval set; n_shared counts the doc's distinct
    * n-grams that appear anywhere in eval.
    */
  def overlap(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val tsh = DedupOps.shingleTable(train, idCol, textCol, n)
    val esh = DedupOps.shingleTable(eval, idCol, textCol, n)
      .select(col("g")).distinct()
    tsh.join(esh, "g")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Per-document contamination FRACTION — `n_shared / n_grams` for
    * every training doc with at least `n` words, contaminated or not.
    * [[overlap]] answers "which docs touch the benchmark at all"; the
    * fraction is what a curation policy thresholds on (a 13-gram hit
    * in a 100k-token doc is noise; 40% overlap is a leak).
    *
    * Single pass: train shingles LEFT-join the distinct eval-gram set
    * (benchmark-sized — AQE broadcasts it on its own, no hint), then
    * one per-doc aggregate counts total and matched grams together —
    * the doc's text is shingled once and shuffled once (on id, as slim
    * (id, matched) pairs), not once per statistic.
    */
  def overlapFraction(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val tsh = DedupOps.shingleTable(train, idCol, textCol, n)
    val esh = DedupOps.shingleTable(eval, idCol, textCol, n)
      .select(col("g").as("__eg")).distinct()
    tsh.join(esh, col("g") === col("__eg"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"), count(col("__eg")).as("n_shared"))
      .withColumn("contam_frac",
        round(col("n_shared").cast("double") / col("n_grams"), 6))
  }

  /** FUZZY decontamination — flag training documents that are
    * NEAR-DUPLICATES of any eval document, not merely sharing one
    * n-gram: the screen that catches a benchmark item leaked into the
    * training set with light edits (reworded prompt, appended
    * boilerplate, shifted whitespace), where the whole-doc Jaccard
    * stays high but an exact-gram hit count can read as noise.
    * Returns `(i, j, jac)` — training doc `i`, eval doc `j`, exact
    * word-n-gram Jaccard — for every pair a banded minhash-LSH screen
    * surfaces with `jac >= threshold`.
    *
    * 100 TB shape: the training side is map-side ONLY until
    * candidates exist — shingling and minhash signatures are
    * projections ([[DedupOps.minhashSignature]] never shuffles), and
    * the banded eval table (benchmark-sized × bands rows) is
    * `broadcast()` so candidate generation adds NO training-side
    * exchange. Only the flagged candidates (≈ the contamination rate)
    * enter the exact-Jaccard verify joins, which AQE broadcasts on
    * its own. The explicit hint is justified where [[overlap]]'s is
    * not: eval BANDS are strictly smaller than eval grams, and a
    * screen's value is exactly the no-shuffle train side.
    *
    * Same LSH recall economics as the dedup family (bands/rows trade
    * recall at the threshold; the exact verify removes all false
    * positives, so precision is always 1.0).
    */
  def fuzzyOverlap(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int, numHashes: Int, bands: Int,
      threshold: Double): DataFrame = {
    val tsh = DedupOps.shingleArrays(train, idCol, textCol, n)
    val esh = DedupOps.shingleArrays(eval, idCol, textCol, n)
    val tband = DedupOps.bandTable(
      DedupOps.minhashSignature(tsh, numHashes), numHashes, bands)
    val eband = DedupOps.bandTable(
      DedupOps.minhashSignature(esh, numHashes), numHashes, bands)
      .withColumnRenamed("id", "__eid")
    val cand = tband.join(broadcast(eband), Seq("band_id", "sig"))
      .select(col("id").as("i"), col("__eid").as("j")).distinct()
    DedupOps.jaccardVerifyCross(cand, tsh, esh, threshold)
  }

  /** [[overlap]] with a Bloom prefilter on the training side — the
    * 100 TB plan shape. The eval n-gram set is bounded (a benchmark:
    * thousands of docs), so it is collected ONCE into a driver-built
    * Bloom filter ([[graft.functions.BloomFns]]) and embedded in the
    * plan as a codegen'd map-side predicate over the training shingles:
    * the join's probe side shrinks from every training n-gram to the
    * (true overlaps + fpp·|train grams|) survivors BEFORE any shuffle.
    * The exact equi-join then removes Bloom false positives, so the
    * result is IDENTICAL to [[overlap]] (same oracle) — the filter
    * changes plan cost, never the answer. With fpp=1e-3, the shuffle
    * shrinks ~1000× on an uncontaminated corpus.
    */
  def bloomOverlap(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int, fpp: Double = 0.001): DataFrame = {
    // Size the filter from a cheap upper bound (total grams ≥ distinct
    // grams — one map-side pass, no shuffle), then build over the
    // NON-distinct gram stream: Bloom insertion is idempotent, so
    // skipping the distinct avoids materializing the eval pipeline
    // twice (no cache/checkpoint to leak). Oversizing only lowers the
    // effective fpp.
    val evGrams = DedupOps.shingleTable(eval, idCol, textCol, n)
    val expected = eval
      .select(coalesce(sum(greatest(
        size(TextOps.wsTokens(col(textCol))) - lit(n - 1), lit(0))
        .cast("long")), lit(0L)))
      .first().getLong(0)
    val bloomBytes = graft.functions.BloomFns.serialize(
      graft.functions.BloomFns.build(evGrams, col("g"),
        math.max(expected, 1L), fpp))
    val tsh = DedupOps.shingleTable(train, idCol, textCol, n)
      .filter(graft.functions.BloomFns.mightContain(bloomBytes, col("g")))
    tsh.join(evGrams.select(col("g")).distinct(), "g")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  // ---------------- store-backed incremental index ----------------

  /** Build (or incrementally extend) the PERSISTED decontamination
    * index at `dir`: the eval set's distinct word n-grams as an
    * [[OrderedDataset]] `(hkey, g)` ordered on the 60-bit md5 prefix
    * (the [[DedupIndex]] layout discipline), plus a serialized Bloom
    * filter as a `_bloom` blob (underscore-prefixed: invisible to
    * parquet readers).
    *
    * r12: extending an existing index lands the new benchmark's grams
    * as an LSM DELTA SEGMENT ([[IndexSegments]]) with its OWN bloom
    * blob over just those grams — both the gram write and the bloom
    * build cost O(increment), where the r11 path rewrote every index
    * file (uniform hkeys) AND re-bloomed the whole index per add. The
    * probe's prefilter becomes the OR of the per-part blooms (a gram
    * surviving ANY part's bloom goes to the exact probe), which is
    * the same filter the union index implies.
    *
    * The pipeline use: benchmarks are curated once but probed by every
    * ingest batch forever — shingling the eval corpus on every batch
    * (what [[bloomOverlap]] does) is wasted work the index amortizes
    * away. New benchmarks arrive → call build again with just them.
    */
  def buildIndex(spark: SparkSession, dir: String, eval: DataFrame,
      idCol: String, textCol: String, n: Int,
      rowsPerFile: Long = 4000000L,
      maxSegments: Option[Int] = None): Unit = {
    val grams = DedupOps.shingleTable(eval, idCol, textCol, n)
      .select(col("g")).distinct()
    val base = new OrderedDataset(spark, dir)
    if (base.exists) DedupIndex.requireCfg(base, "contamination",
      Some(s"n=$n"))
    val target =
      if (!base.exists) base
      else new OrderedDataset(spark, IndexSegments.newSegmentDir(dir))
    target.write(
      grams.select(DedupIndex.hkey60(md5(col("g"))).as("hkey"), col("g")),
      WriteOpts("hkey", NRows(rowsPerFile), duplicatesOn = Some(Seq("g")),
        kv = Map("graft.index.kind" -> "contamination",
          "graft.index.cfg" -> s"n=$n"))): Unit
    writeBloom(spark, target)
    maxSegments.foreach(ms =>
      DedupIndex.compactIndexIfNeeded(spark, dir, ms): Unit)
  }

  /** Build + atomically publish the `_bloom` blob for ONE union member
    * (the base or a delta segment) over exactly its own grams, then
    * stamp the row count it covers. A crash between the data commit
    * and the stamp leaves the tag stale and the probe ignores that
    * part's bloom (correct, just slower) — a bloom missing index grams
    * would cause silent FALSE NEGATIVES, the one failure mode a
    * prefilter must never have. */
  private def writeBloom(spark: SparkSession, ds: OrderedDataset): Unit = {
    val builtOverRows = ds.meta.totalRows
    val bytes = graft.functions.BloomFns.serialize(
      graft.functions.BloomFns.build(ds.df, col("g"),
        math.max(builtOverRows, 1L), IndexBloomFpp))
    publishBloom(spark, ds, bytes, builtOverRows)
  }

  /** Atomically publish already-built bloom bytes + their generation
    * stamp (split from [[writeBloom]] so the probe's auto-repair can
    * publish the bloom it just built in memory without a second part
    * scan). */
  private def publishBloom(spark: SparkSession, ds: OrderedDataset,
      bytes: Array[Byte], builtOverRows: Long): Unit = {
    val fs = new HPath(ds.dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new HPath(s"${ds.dir}/_bloom.tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes)
    finally out.close()
    fs.delete(new HPath(s"${ds.dir}/_bloom"), false)
    if (!fs.rename(tmp, new HPath(s"${ds.dir}/_bloom")))
      throw new java.io.IOException(s"bloom commit failed at ${ds.dir}")
    ds.updateKv(Map(BloomGenKey -> builtOverRows.toString))
  }

  /** Re-derive the BASE `_bloom` after a compaction folded segments
    * into it ([[DedupIndex.compactIndex]] calls this for the
    * contamination kind): one scan of the folded base. */
  private[pipeline] def rebuildBloom(spark: SparkSession, dir: String): Unit =
    writeBloom(spark, new OrderedDataset(spark, dir))

  /** Targeted per-part bloom repair (ADVICE r12): rebuild the `_bloom`
    * of every union member whose blob is missing or stale (generation
    * tag ≠ that part's row count — e.g. a crash between a segment's
    * gram commit and its bloom write, which otherwise disables the
    * probe prefilter for the WHOLE index until a full compaction).
    * Each repaired part scans only ITS OWN grams — O(part), not
    * O(index). Returns #parts repaired. */
  def repairBlooms(spark: SparkSession, dir: String): Int = {
    val parts = DedupIndex.partsFor(spark, dir, "contamination", None)
    val fs = new HPath(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    parts.count { p =>
      val current =
        p.m.kv.get(BloomGenKey).contains(p.m.totalRows.toString) &&
          fs.exists(new HPath(s"${p.ds.dir}/_bloom"))
      if (current) false
      else { writeBloom(spark, p.ds); true }
    }
  }

  private val BloomGenKey = "graft.contam.bloomrows"

  /** fpp of every persisted index bloom: built, rebuilt after a fold,
    * repaired, or auto-repaired in a probe. */
  private val IndexBloomFpp = 0.001

  /** Probe the persisted index: `(id, n_shared)` for every batch doc
    * sharing ≥ 1 distinct n-gram with the indexed eval grams —
    * identical semantics to [[overlap]] against the same eval set.
    *
    * 100 TB shape: the batch's grams pass the Bloom prefilter
    * map-side first (survivors ≈ true overlaps + fpp·|batch grams|),
    * so the subsequent index probe is tiny: ≤ `maxDriverKeys` distinct
    * surviving hkeys become a driver-planned zone-map read that opens
    * only the index files covering them; larger survivor sets fall
    * back to an hkey equi-join against the slim index. The residual
    * full-gram equality removes Bloom/prefix false positives — hashes
    * route, never decide.
    */
  def probeIndex(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, textCol: String, n: Int,
      maxDriverKeys: Int = DedupIndex.MaxDriverKeys,
      autoRepair: Boolean = false): DataFrame =
    probeIndex(spark, DedupIndex.partsFor(spark, dir, "contamination",
      Some(s"n=$n")), batch, idCol, textCol, n, maxDriverKeys,
      autoRepair)

  /** [[probeIndex]] against a generation-pinned capture
    * ([[DedupIndex.pinIndex]]); the per-part blooms are read from the
    * captured parts' dirs with the captured generation tags.
    *
    * `autoRepair` (opt-in, VERDICT r13 #6): a part lacking a current
    * `_bloom` (crash between its gram commit and bloom write) is
    * repaired IN the probe — the bloom is built over the CAPTURED
    * part rows (pin-safe: it covers exactly what this probe scans)
    * and published for future probes when the part is unchanged, so
    * one degraded probe heals the prefilter instead of every probe
    * paying the unfiltered exact-join until someone runs
    * [[repairBlooms]]. Default off: a probe that silently costs an
    * extra O(part) scan would surprise latency-budgeted callers. */
  def probeIndex(spark: SparkSession, parts: Seq[IndexSegments.Part],
      batch: DataFrame, idCol: String, textCol: String, n: Int,
      maxDriverKeys: Int, autoRepair: Boolean): DataFrame = {
    val dir = parts.head.ds.dir
    DedupIndex.requireCfgKv(dir, parts.head.m.kv, "contamination",
      Some(s"n=$n"))
    val fs = new HPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // one bloom per union member, each used only if its generation tag
    // matches that part's row count — a stale blob (crashed build)
    // must not prefilter away real overlaps. The prefilter is the OR
    // of the per-part blooms and engages only when EVERY part has a
    // current bloom: with any part unfiltered, dropping a gram on the
    // other parts' evidence would be a false negative.
    val bloomBytes0: Seq[Option[Array[Byte]]] = parts.map { p =>
      val bloomP = new HPath(s"${p.ds.dir}/_bloom")
      val current =
        p.m.kv.get(BloomGenKey).contains(p.m.totalRows.toString)
      if (!current || !fs.exists(bloomP)) None
      else {
        val in = fs.open(bloomP)
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](65536)
          var k = in.read(tmp)
          while (k > 0) { buf.write(tmp, 0, k); k = in.read(tmp) }
          Some(buf.toByteArray)
        } finally in.close()
      }
    }
    val bloomBytes: Seq[Option[Array[Byte]]] =
      if (!autoRepair || !bloomBytes0.exists(_.isEmpty)) bloomBytes0
      else parts.zip(bloomBytes0).map {
        case (_, some @ Some(_)) => some
        case (p, None) =>
          System.err.println(
            s"[graft] contamination probe of $dir: auto-repairing " +
              s"stale _bloom of ${p.ds.dir} (opt-in autoRepair, " +
              "one O(part) scan)")
          val bytes = graft.functions.BloomFns.serialize(
            graft.functions.BloomFns.build(p.ds.dfOf(p.m), col("g"),
              math.max(p.m.totalRows, 1L), IndexBloomFpp))
          // publish only when the part hasn't moved since the capture
          // (a bloom stamped for another generation would be ignored
          // by its gen check anyway — skip the useless write)
          if (p.ds.exists && p.ds.meta.totalRows == p.m.totalRows)
            publishBloom(spark, p.ds, bytes, p.m.totalRows)
          Some(bytes)
      }
    val tsh0 = DedupOps.shingleTable(batch, idCol, textCol, n)
    // slow path is LOUD and names BOTH remedies (ADVICE r12): one
    // stale part disables the prefilter for the whole index
    if (bloomBytes.exists(_.isEmpty)) System.err.println(
      s"[graft] contamination probe of $dir: " +
        s"${bloomBytes.count(_.isEmpty)}/${parts.size} part(s) lack a " +
        "current _bloom — prefilter disabled (every batch gram goes to " +
        "the exact probe); repair with " +
        s"ContaminationOps.repairBlooms(spark, \"$dir\") or probe " +
        "with autoRepair = true")
    val tsh =
      if (bloomBytes.exists(_.isEmpty)) tsh0
      else tsh0.filter(bloomBytes.flatten
        .map(b => graft.functions.BloomFns.mightContain(b, col("g")))
        .reduce(_ || _))
    val keyed = tsh.select(col("id"),
      DedupIndex.hkey60(md5(col("g"))).as("hkey"), col("g").as("bg"))
    val index = IndexSegments.scanForProbes(parts,
      keyed.select("hkey"), maxDriverKeys, dedupCols = Seq("g"))
    index.join(keyed, Seq("hkey"))
      .filter(col("g") === col("bg"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shared"))
  }
}
