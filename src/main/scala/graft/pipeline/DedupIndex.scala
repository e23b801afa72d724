package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.store.{NRows, OrdLong, OrderedDataset, WriteOpts}

/** Store-backed deduplication indexes for INCREMENTAL pipelines: a
  * daily crawl increment is deduplicated against a 100 TB corpus by
  * probing a persisted index instead of recomputing hashes over the
  * whole corpus (the cost model the reference's ordered store enables
  * for time-series reads, applied to content-addressed dedup — cf. the
  * IVF analog in [[IvfIndex]]).
  *
  * Two index kinds share one layout discipline:
  *
  *  - '''exact digest''': one row `(hkey, digest, id)` per corpus doc;
  *  - '''MinHash LSH''': one row `(hkey, band_id, sig, id)` per corpus
  *    doc × band (the banded signature table of [[DedupOps]], made
  *    persistent).
  *
  * Both are `OrderedDataset`s ORDERED ON `hkey`, the md5 key's leading
  * 60 bits as a positive long (strings aren't zone-map-comparable in
  * the sidecar; a 60-bit prefix is, and 2^-60 collisions are handled by
  * a residual equality on the full key, never trusted). Ordering by
  * hkey gives the sidecar zone map a sorted keyspace, so a SMALL probe
  * batch becomes a driver-planned multi-point read that opens only the
  * files whose [min,max] cover a probed key.
  *
  * Probe cost at scale — the knob that matters at 100 TB:
  *
  *  - small increment (≤ `maxDriverKeys` distinct probe keys): collect
  *    the key set, zone-map-prune, read only matching index files —
  *    I/O ∝ increment, independent of corpus size;
  *  - large increment: one shuffle equi-join on hkey against the FULL
  *    index — I/O ∝ index size, which is ~0.1% of corpus bytes (16-byte
  *    key + 8-byte id vs multi-KB documents), still a ~1000× win over
  *    recomputing corpus signatures, and the sort-merge join on a
  *    pre-sorted slim table is the shape AQE handles without skew.
  *
  * Verification never trusts hashes: exact probes re-check the full
  * digest; LSH probes re-check exact Jaccard on the (bounded) candidate
  * set, re-shingling ONLY candidate corpus docs (semi-join first — at
  * scale the corpus text itself sits in an OrderedDataset ordered on
  * doc id, so that fetch is a pruned range read too).
  */
object DedupIndex {

  /** Probe-key count up to which a probe collects its keys and reads
    * only the index files covering them; above it, the probe is a slim
    * equi-join against the whole index. */
  private[pipeline] val MaxDriverKeys = 65536

  /** Leading 60 bits of an md5 hex string as a positive long (15
    * nibbles; 60 not 64 keeps the value positive, see
    * [[DedupOps.SimhashBits]]).
    */
  def hkey60(hexCol: Column): Column =
    conv(substring(hexCol, 1, 15), 16, 10).cast("long")

  /** Stable fingerprint of an embedding-index projection config (plane
    * signs + band width), stored in the index kv at build and validated
    * at probe — mismatched planes would silently produce wrong buckets.
    */
  private def planesTag(planes: Seq[Seq[Double]], planesPerBand: Int)
      : String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(planes.map(_.map(x => if (x > 0) '1' else '0').mkString)
      .mkString(";").getBytes("UTF-8"))
    s"${planes.size}|$planesPerBand|" +
      md.digest().take(6).map("%02x".format(_)).mkString
  }

  /** Fail fast when a probe's parameters don't match what the index
    * was built with (the kv tags written by the build methods). Older
    * untagged indexes pass — the guard only rejects a POSITIVE
    * mismatch. */
  private[pipeline] def requireCfg(ds: OrderedDataset, kind: String,
      cfg: Option[String]): Unit =
    requireCfgKv(ds.dir, ds.kv, kind, cfg)

  /** [[requireCfg]] against an already-CAPTURED kv map — the segmented
    * probes validate the same base-sidecar snapshot their scans are
    * built from instead of re-reading it. */
  private[pipeline] def requireCfgKv(dir: String, kv: Map[String, String],
      kind: String, cfg: Option[String]): Unit = {
    require(kv.get("graft.index.kind").forall(_ == kind),
      s"index at $dir is a '${kv("graft.index.kind")}' index, " +
        s"probed as '$kind'")
    cfg.foreach { c =>
      require(kv.get("graft.index.cfg").forall(_ == c),
        s"index at $dir was built with config " +
          s"'${kv("graft.index.cfg")}' but probed with '$c' — rebuild " +
          "the index or probe with the build-time parameters")
    }
  }

  /** The segmented union at a consistent cut, validated against the
    * probe's expected kind/config. Fails loudly when no index exists. */
  private[pipeline] def partsFor(spark: SparkSession, dir: String,
      kind: String, cfg: Option[String]): Seq[IndexSegments.Part] = {
    val parts = IndexSegments.liveParts(spark, dir)
    require(parts.nonEmpty, s"no graft index at $dir")
    requireCfgKv(dir, parts.head.m.kv, kind, cfg)
    parts
  }

  /** Generation-pinned capture of the index at `dir` (VERDICT r12
    * #8): the base sidecar + live segment list at ONE consistent cut,
    * kind-validated. Pass the capture to the parts-taking probe
    * overloads ([[probeDigestKeyed]], [[Bm25Index.topK]],
    * [[ContaminationOps.probeIndex]]) and to
    * [[IndexSegments.hasTagIn]] so a long multi-probe session reads
    * ONE index version throughout, unmoved by concurrent adds or
    * compactions — the store's `dfAsOf` discipline lifted to the
    * union. A capture's files stay readable for
    * `OrderedDataset.retireGraceMs` past replacement; hold pins
    * shorter than that. */
  def pinIndex(spark: SparkSession, dir: String, kind: String,
      cfg: Option[String] = None): Seq[IndexSegments.Part] =
    partsFor(spark, dir, kind, cfg)

  /** Route an index write: the FIRST build creates the base run at
    * `dir`; every later call lands as a delta segment — cost ∝ the
    * increment, never a base rewrite ([[IndexSegments]]; fold segments
    * back with [[compactIndex]]). */
  private def writeBaseOrSegment(spark: SparkSession, dir: String,
      rows: DataFrame, opts: WriteOpts): Unit = {
    val base = new OrderedDataset(spark, dir)
    if (!base.exists) base.write(rows, opts): Unit
    else IndexSegments.writeSegment(spark, dir, rows, opts)
  }

  // ---------------- exact digest index ----------------

  /** Build (or upsert into) the digest index: `(hkey, digest, id)`
    * ordered on hkey, deduplicated on (digest, id) so rebuilds are
    * idempotent. Incremental corpus growth = call again with the new
    * docs only; the ordered upsert merges them into place.
    */
  def buildDigest(spark: SparkSession, dir: String, docs: DataFrame,
      idCol: String, textCol: String, rowsPerFile: Long = 1000000L,
      maxSegments: Option[Int] = None): Unit =
    upsertDigestRows(spark, dir,
      docs.select(md5(col(textCol)).as("digest"),
        col(idCol).cast("long").as("id"))
        // null text → null digest: indexless by SQL-equality semantics
        // (a null digest matches nothing in the probe's equi-join, and
        // the store rejects null ordered keys). The streaming ingest
        // maps nulls to a sentinel BEFORE its index writes
        // (StreamingDedup.NullDigest) because its oracle groups them.
        .filter(col("digest").isNotNull),
      rowsPerFile, maxSegments)

  /** [[buildDigest]] for callers that already hold `(digest, id)` rows
    * (e.g. the streaming ingest, which computes digests once for its
    * own keep-first pass — no second md5 over multi-KB texts).
    *
    * `maxSegments` (opt-in, here and on every increment build in the
    * family — VERDICT r12 #5): self-bound the probe read amplification
    * by folding segments back once that many are live
    * ([[compactIndexIfNeeded]] after the segment lands). Default off —
    * adds stay pure O(increment).
    */
  def upsertDigestRows(spark: SparkSession, dir: String, rows: DataFrame,
      rowsPerFile: Long = 1000000L,
      maxSegments: Option[Int] = None): Unit = {
    writeBaseOrSegment(spark, dir,
      rows.select(hkey60(col("digest")).as("hkey"), col("digest"),
        col("id").cast("long").as("id")),
      WriteOpts("hkey", NRows(rowsPerFile),
        duplicatesOn = Some(Seq("digest", "id")),
        kv = Map("graft.index.kind" -> "digest")))
    maxSegments.foreach(ms => compactIndexIfNeeded(spark, dir, ms): Unit)
  }

  /** Probe the digest index with a batch: returns one row per exact
    * match `(new_id, corpus_id, digest)`. Choose the scan shape by
    * probe cardinality (see class doc): ≤ `maxDriverKeys` distinct
    * hkeys → driver-planned zone-map read; above → hkey equi-join
    * against the full (slim) index.
    */
  def probeDigest(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, textCol: String, maxDriverKeys: Int = MaxDriverKeys)
      : DataFrame =
    probeDigestKeyed(spark, dir,
      batch.select(col(idCol).cast("long").as("new_id"),
        md5(col(textCol)).as("digest")),
      maxDriverKeys)

  /** [[probeDigest]] with precomputed `(new_id, digest)` rows — the
    * streaming ingest's path (it controls the digest, e.g. mapping
    * null text to a sentinel so null documents deduplicate).
    */
  def probeDigestKeyed(spark: SparkSession, dir: String, batch: DataFrame,
      maxDriverKeys: Int = MaxDriverKeys): DataFrame =
    probeDigestKeyed(partsFor(spark, dir, "digest", None), batch,
      maxDriverKeys)

  /** [[probeDigestKeyed]] against a generation-pinned capture (see
    * [[pinIndex]]). */
  def probeDigestKeyed(parts: Seq[IndexSegments.Part], batch: DataFrame,
      maxDriverKeys: Int): DataFrame = {
    requireCfgKv(parts.head.ds.dir, parts.head.m.kv, "digest", None)
    val b = batch.select(col("new_id"), col("digest").as("bdigest"))
      .withColumn("hkey", hkey60(col("bdigest")))
    val index = IndexSegments.scanForProbes(parts, b.select("hkey"),
      maxDriverKeys, dedupCols = Seq("digest", "id"))
    // residual: full-digest equality — the hkey is only a router
    index.join(b, Seq("hkey"))
      .filter(col("digest") === col("bdigest"))
      .select(col("new_id"), col("id").as("corpus_id"), col("digest"))
  }

  // ---------------- MinHash LSH band index ----------------

  /** Banded minhash rows `(hkey, band_id, sig, id)` for a document set
    * (entirely map-side: shingles → signature → bands in one lineage,
    * cf. [[DedupOps.minhashSignature]]).
    */
  private def bandedRows(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int): DataFrame =
    bandedRowsFromShingles(
      DedupOps.shingleArrays(docs, idCol, textCol, shingleN), numHashes,
      bands)

  /** [[bandedRows]] over an already-shingled `(id, gs)` frame — probe
    * callers that also need the shingle arrays for verification pass
    * them here instead of re-tokenizing the batch per consumer.
    */
  private[graft] def bandedRowsFromShingles(shingled: DataFrame,
      numHashes: Int, bands: Int): DataFrame = {
    val sig = DedupOps.minhashSignature(shingled, numHashes)
    val rows = numHashes / bands
    val bandCols = (0 until bands).map(b =>
      concat((b * rows until (b + 1) * rows).map(i => col(s"s$i")): _*)
        .as(s"band$b"))
    sig.select(col("id") +: bandCols: _*)
      .select(col("id"),
        posexplode(array((0 until bands).map(b => col(s"band$b")): _*))
          .as(Seq("band_id", "sig")))
      // a doc with < shingleN words (or null text) has an empty shingle
      // set → null signature → null band: it can never be an LSH
      // candidate, and a null hkey would (rightly) be rejected by the
      // store's null-ordered_on guard at index-build time
      .filter(col("sig").isNotNull)
      .select(
        hkey60(md5(concat(col("band_id").cast("string"), lit("|"),
          col("sig")))).as("hkey"),
        col("band_id"), col("sig"), col("id"))
  }

  /** Build (or incrementally upsert into) the LSH band index for a
    * corpus. One row per doc × band, ordered on the banded-signature
    * hkey so same-bucket rows are physically adjacent.
    */
  def buildMinhash(spark: SparkSession, dir: String, corpus: DataFrame,
      idCol: String, textCol: String, shingleN: Int, numHashes: Int,
      bands: Int, rowsPerFile: Long = 1000000L,
      maxSegments: Option[Int] = None): Unit = {
    writeBaseOrSegment(spark, dir,
      bandedRows(corpus, idCol, textCol, shingleN, numHashes, bands),
      WriteOpts("hkey", NRows(rowsPerFile),
        duplicatesOn = Some(Seq("band_id", "sig", "id")),
        kv = Map("graft.index.kind" -> "minhash",
          "graft.index.cfg" -> s"$shingleN|$numHashes|$bands")))
    maxSegments.foreach(ms => compactIndexIfNeeded(spark, dir, ms): Unit)
  }

  /** Near-dup pairs between a new batch and the indexed corpus:
    * `(i = corpus id, j = batch id, jac)` with exact Jaccard ≥
    * `threshold`. Candidate generation probes the band index (scan
    * shape by probe cardinality, see class doc); verification
    * re-shingles ONLY candidate corpus docs (`corpusDocs` is the text
    * source, semi-joined down to candidates before any shingle work).
    * Batch ids must be disjoint from corpus ids (the verify union is
    * keyed by id).
    */
  def probeMinhash(spark: SparkSession, dir: String, batch: DataFrame,
      corpusDocs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int, threshold: Double,
      maxDriverKeys: Int = MaxDriverKeys,
      checkpointCandidates: Boolean = false): DataFrame = {
    // Batch-side frames feed several plan branches (probe-key collect,
    // candidate join, verification) and are recomputed per action; NOT
    // persisted deliberately — all batch work is map-side and ∝ the
    // increment, so recompute is cheap and predictable, while a cache
    // that must outlive this call would leak for the session (the
    // ADVICE-r2 IvfIndex lesson). Callers composing many probes can
    // persist the batch themselves.
    val bsh = DedupOps.shingleArrays(batch, idCol, textCol, shingleN)
    // the batch side MUST use the exact band/hkey layout of the build
    // side — reuse bandedRowsFromShingles over the SAME shingled frame
    // the verification uses (one tokenize+shingle lineage, not two)
    val bBanded = bandedRowsFromShingles(bsh, numHashes, bands)
      .select(col("hkey"), col("band_id").as("bband_id"),
        col("sig").as("bsig"), col("id").as("bid"))
    val parts = partsFor(spark, dir, "minhash",
      Some(s"$shingleN|$numHashes|$bands"))
    // no dedup on the scan: the candidate set distincts (i, j) below,
    // absorbing any cross-segment band-row duplicates
    val index = IndexSegments.scanForProbes(parts, bBanded.select("hkey"),
      maxDriverKeys)
    // residual (band_id, sig) equality behind the hkey equi-join.
    // The candidate set feeds BOTH the corpus-side semi-join and the
    // verify join, so its lineage (band scan + batch SIGNATURE pass +
    // distinct) executes once per use — checkpointCandidates trades
    // that double execution for an eager materialization barrier.
    // Measured at 100× (SCALE.md r14e), the right side depends on the
    // batch:probe-index ratio: a LARGE batch against a small screen
    // wins big (fuzzy decontamination, 40% of the corpus vs the
    // benchmark index: 34.3 → 26.4 s), a small batch against a large
    // index LOSES the barrier cost (p_dedup_inc_lsh, 12.5% batch:
    // 22.5 → 25.9 s) — hence a caller knob, not a default. Same
    // non-reliable-storage caveat as DedupOps.dupClusters.
    val cand0 = index.join(bBanded, Seq("hkey"))
      .filter(col("band_id") === col("bband_id") &&
        col("sig") === col("bsig"))
      .select(col("id").as("i"), col("bid").as("j"))
      .distinct()
    // BATCHED probe — see probeSimhash: the candidate pairs feed the
    // corpus-side semi-join AND the verify join, so the band-scan +
    // batch-signature + distinct lineage used to execute once per
    // consumer (or pay a localCheckpoint barrier under the caller
    // knob). ONE bounded collect executes it once and joins back as a
    // local relation. Over the cap, the old shape (knob included).
    val candRows = cand0.limit(maxDriverKeys + 1).collect()
    val cand =
      if (candRows.length <= maxDriverKeys) {
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(
          candRows.toSeq.sortBy(r => (r.getLong(0), r.getLong(1))).asJava,
          cand0.schema)
      } else if (checkpointCandidates) cand0.localCheckpoint()
      else cand0
    // exact-Jaccard verify: corpus side re-shingled AFTER the
    // semi-join down to candidate ids (bounded by LSH output)
    val csh = DedupOps.shingleArrays(
      corpusDocs.join(cand.select(col("i").as(idCol)).distinct(),
        Seq(idCol), "left_semi"),
      idCol, textCol, shingleN)
    DedupOps.jaccardVerify(cand, csh.unionByName(bsh), threshold)
  }

  // ---------------- SimHash band-pair index ----------------

  /** SimHash index = TWO ordered datasets under `dir` — the
    * incremental form of [[DedupOps.simhashPairs]]' distinct-fingerprint
    * design (dup-heavy corpora concentrate fingerprints; banding doc
    * rows would pay Σs² join rows per bucket):
    *
    *  - `dir/bands`: `(hkey, simhash)` per DISTINCT fingerprint × band
    *    pair, hkey = bandPairId·2²⁴ + bandPairVal (injective — both
    *    fields are recovered from it, so the hkey equi-join needs no
    *    residual), ordered on hkey;
    *  - `dir/members`: `(simhash, id)` ordered on simhash (fingerprints
    *    are positive 60-bit longs — directly zone-map-comparable).
    *
    * A probe matches batch fingerprints against `bands`, Hamming-
    * filters (verification is self-contained: the fingerprint IS the
    * evidence), then expands winning corpus fingerprints to doc ids by
    * point-probing `members` — both levels driver-planned zone-map
    * reads for small increments.
    */
  def buildSimhash(spark: SparkSession, dir: String, corpus: DataFrame,
      idCol: String, textCol: String, rowsPerFile: Long = 1000000L,
      maxSegments: Option[Int] = None): Unit = {
    val sim = DedupOps.simhash(corpus, idCol, textCol)
      // null text → null fingerprint: un-indexable (and the store
      // rejects null ordered keys); same SQL-equality semantics as
      // buildDigest's null filter
      .filter(col("simhash").isNotNull)
      .persist()
    try {
      // band DISTINCT fingerprints only: a template cluster of s docs
      // shares one fingerprint, so doc-level banding would shuffle s×
      // the rows into the write's dedup window for nothing (the same
      // multiplicity lesson as DedupOps.simhashPairs). Increments band
      // the INCREMENT's distinct fingerprints (may repeat base ones —
      // the probe's candidate distinct absorbs that).
      writeBaseOrSegment(spark, s"$dir/bands",
        simhashWithBands(sim.select(col("simhash")).distinct(), "simhash")
          .select(col("hkey"), col("simhash")),
        WriteOpts("hkey", NRows(rowsPerFile),
          duplicatesOn = Some(Seq("simhash")),
          kv = Map("graft.index.kind" -> "simhash",
            "graft.index.cfg" ->
              s"${DedupOps.SimhashBits}|${DedupOps.SimhashBands}")))
      writeBaseOrSegment(spark, s"$dir/members",
        sim.select(col("simhash"), col("id")),
        WriteOpts("simhash", NRows(rowsPerFile),
          duplicatesOn = Some(Seq("id"))))
    } finally { sim.unpersist(): Unit }
    // at the TOP dir: compactIndex folds both sub-datasets together
    maxSegments.foreach(ms => compactIndexIfNeeded(spark, dir, ms): Unit)
  }

  /** `(hkey, <fpCol>, …)` band-pair rows for a fingerprint column (one
    * row per band pair; hkey injective over (pair id, pair value)). */
  private def simhashWithBands(sim: DataFrame, fpCol: String): DataFrame = {
    val bandBits = DedupOps.SimhashBits / DedupOps.SimhashBands
    def bandVal(b: Int) =
      shiftright(col(fpCol), bandBits * b)
        .bitwiseAND(lit((1L << bandBits) - 1))
    sim.select(col("*"),
      posexplode(array(DedupOps.SimhashBandPairs.map { case (a, b) =>
        bandVal(a) * lit(1L << bandBits) + bandVal(b)
      }: _*)).as(Seq("band_id", "band_val")))
      .withColumn("hkey",
        col("band_id") * lit(1L << (2 * bandBits)) + col("band_val"))
      .drop("band_id", "band_val")
  }

  /** Near-dup pairs `(i = corpus id, j = batch id, dist)` at Hamming
    * distance ≤ `maxDist` between a new batch and the indexed corpus.
    */
  def probeSimhash(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, textCol: String, maxDist: Int,
      maxDriverKeys: Int = MaxDriverKeys): DataFrame = {
    val bsim0 = DedupOps.simhash(batch, idCol, textCol)
      .select(col("id").as("j"), col("simhash").as("bfp"))
    // batch fingerprints as a LOCAL RELATION when bounded (r15,
    // VERDICT r14 #3): the (j, bfp) frame feeds the band-key collect
    // AND the candidate join, so the per-word-md5 fingerprint pass
    // over the batch used to execute once per consumer (it is
    // deliberately not persisted — a cache outliving the call leaks,
    // the ADVICE-r2 IvfIndex lesson). One bounded collect executes it
    // once; fingerprints are longs, so the driver round-trip is
    // exact. An over-cap batch keeps the old recompute-per-consumer
    // shape (cost still ∝ increment).
    val bsimRows = bsim0.limit(maxDriverKeys + 1).collect()
    val bsim =
      if (bsimRows.length <= maxDriverKeys) {
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(
          bsimRows.toSeq.sortBy(_.getLong(0)).asJava, bsim0.schema)
      } else bsim0
    val bBanded = simhashWithBands(bsim, "bfp")
    val bandParts = partsFor(spark, s"$dir/bands", "simhash",
      Some(s"${DedupOps.SimhashBits}|${DedupOps.SimhashBands}"))
    val index = IndexSegments.scanForProbes(bandParts,
      bBanded.select("hkey"), maxDriverKeys)
    // fingerprint-level candidates: the hkey encodes (pair, value)
    // injectively, so the equi-join needs no residual check
    val fpCand0 = index.join(bBanded, Seq("hkey"))
      .select(col("simhash"), col("j"), col("bfp"))
      .distinct()
      .filter(bit_count(col("simhash").bitwiseXOR(col("bfp")))
        <= maxDist)
    // BATCHED probe (r15, VERDICT r14 #3): the candidate set is
    // bounded (Hamming-verified fingerprints ≪ batch × bands), and it
    // used to feed BOTH the member-key collect and the returned plan —
    // which cost a localCheckpoint barrier (its own job train) plus a
    // second collect job against the checkpoint. ONE bounded collect
    // now executes the candidate lineage once; the member keys are
    // derived driver-side and the candidates join back as a local
    // relation (broadcast, job-free). Over the cap, the old
    // checkpoint + DataFrame-probe shape is kept verbatim.
    val candRows = fpCand0.limit(maxDriverKeys + 1).collect()
    val memParts = IndexSegments.liveParts(spark, s"$dir/members")
    require(memParts.nonEmpty, s"no graft index at $dir/members")
    // expand winning corpus fingerprints to member doc ids — another
    // bounded zone-map probe (candidate fingerprints ≪ corpus);
    // cross-segment (simhash, id) duplicates dedup here so re-adds
    // can't double a pair
    val (fpCand, mem) =
      if (candRows.length <= maxDriverKeys) {
        import scala.jdk.CollectionConverters._
        val local = spark.createDataFrame(
          candRows.toSeq.sortBy(r => (r.getLong(0), r.getLong(1))).asJava,
          fpCand0.schema)
        (local, IndexSegments.scanForPointKeys(memParts,
          candRows.map(_.getLong(0)), dedupCols = Seq("simhash", "id")))
      } else {
        val cp = fpCand0.localCheckpoint()
        (cp, IndexSegments.scanForProbes(memParts,
          cp.select(col("simhash").as("hkey")), maxDriverKeys,
          dedupCols = Seq("simhash", "id")))
      }
    mem.join(fpCand, Seq("simhash"))
      .select(col("id").as("i"), col("j"),
        bit_count(col("simhash").bitwiseXOR(col("bfp")))
          .cast("int").as("dist"))
  }

  // ---------------- embedding sign-projection index ----------------

  /** Embedding near-dup index = two ordered datasets under `dir`:
    *
    *  - `dir/bands`: `(hkey, id)` per corpus vector × band, hkey =
    *    bandId·2^planesPerBand + bucketBits (injective), ordered on
    *    hkey;
    *  - `dir/members`: `(id, vec, norm)` ordered on id — the vector
    *    payload lives HERE, fetched only for candidates (the band
    *    table never replicates vectors).
    *
    * Note the key space is bands·2^planesPerBand (64 for 16 planes ×
    * 4/band): zone-map file pruning pays off when the space is large
    * relative to the increment's bucket coverage (more planes at
    * scale); a coarse space degrades gracefully to the slim equi-join.
    */
  def buildEmbedding(spark: SparkSession, dir: String, corpus: DataFrame,
      planes: Seq[Seq[Double]], planesPerBand: Int,
      rowsPerFile: Long = 1000000L,
      maxSegments: Option[Int] = None): Unit = {
    val banded = SimilarityOps.lshBands(corpus, planes, planesPerBand)
      .select((col("band_id") * lit(1L << planesPerBand) +
        conv(col("bucket"), 2, 10).cast("long")).as("hkey"), col("id"))
      // null vector → null bucket/hkey: un-indexable, same as the
      // digest/simhash builders' null filters
      .filter(col("hkey").isNotNull)
    writeBaseOrSegment(spark, s"$dir/bands", banded,
      WriteOpts("hkey", NRows(rowsPerFile),
        duplicatesOn = Some(Seq("id")),
        kv = Map("graft.index.kind" -> "embedding",
          "graft.index.cfg" -> planesTag(planes, planesPerBand))))
    writeBaseOrSegment(spark, s"$dir/members",
      corpus.select(col("id"), col("vec"), col("norm")),
      WriteOpts("id", NRows(rowsPerFile),
        duplicatesOn = Some(Nil)))
    maxSegments.foreach(ms => compactIndexIfNeeded(spark, dir, ms): Unit)
  }

  /** Near-dup pairs `(i = corpus id, j = batch id, cos)` with exact
    * cosine ≥ `threshold` between a new batch (`(id, vec, norm)`, see
    * SimilarityOps.withNorm) and the indexed corpus. Candidates from
    * the band probe; verification fetches ONLY candidate vectors from
    * `dir/members` (a second bounded zone-map probe on corpus id).
    */
  def probeEmbedding(spark: SparkSession, dir: String, batch0: DataFrame,
      planes: Seq[Seq[Double]], planesPerBand: Int, threshold: Double,
      maxDriverKeys: Int = MaxDriverKeys,
      maxExpectedBucketRows: Long = LshConfig.MaxExpectedBucketRows,
      maxBroadcastRows: Long = 1000000L): DataFrame = {
    // batch vectors as a LOCAL RELATION when bounded — see
    // probeSimhash: the batch frame feeds the band-key collect, the
    // candidate join AND the verify broadcast, so its scan + banding
    // lineage used to execute once per consumer. Doubles round-trip
    // the driver exactly (the r14 queryVecs precedent), so cosines
    // are bit-identical. An over-cap batch keeps the old shape.
    val batchProj = batch0.select(col("id"), col("vec"), col("norm"))
    val batchRows = batchProj.limit(maxDriverKeys + 1).collect()
    val batchLocal = batchRows.length <= maxDriverKeys
    val batch =
      if (batchLocal) {
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(
          batchRows.toSeq.sortBy(_.getLong(0)).asJava, batchProj.schema)
      } else batch0
    val bBanded = SimilarityOps.lshBands(batch, planes, planesPerBand)
      .select((col("band_id") * lit(1L << planesPerBand) +
        conv(col("bucket"), 2, 10).cast("long")).as("hkey"),
        col("id").as("j"))
    val bandParts = partsFor(spark, s"$dir/bands", "embedding",
      Some(planesTag(planes, planesPerBand)))
    // index-vs-corpus drift guard: an index keeps its build-time band
    // width forever while the corpus under it grows — once expected
    // occupancy outgrows the width, every probe degrades toward
    // quadratic bucket joins SILENTLY (the config "matches", the data
    // does not). The band table's own sidecar row count says how big
    // the indexed corpus is (rows = corpus × nBands, a driver-side
    // metadata read) — fail with the rebuild remedy instead.
    val nBands = math.max(1L,
      math.ceil(planes.size.toDouble / planesPerBand).toLong)
    val indexedCorpus = IndexSegments.totalRows(bandParts) / nBands
    // occupancy at the NARROWEST band (a ragged plane set's leftover
    // band has rem < planesPerBand bits and saturates 2^(ppb-rem)×
    // sooner) — mirrors SimilarityOps.requireUnsaturated; guarding at
    // the full width would admit indexes whose ragged band has already
    // degraded toward quadratic probes
    val rem = planes.size % planesPerBand
    val minBits = if (rem == 0) planesPerBand else rem
    val occ = indexedCorpus.toDouble / (1L << minBits).toDouble
    require(occ <= maxExpectedBucketRows.toDouble,
      f"embedding index at $dir has outgrown its $minBits-bit " +
        f"(narrowest) band width: ~$indexedCorpus indexed vectors " +
        f"expect $occ%.0f rows/bucket (cap $maxExpectedBucketRows) — " +
        f"rebuild with LshConfig.forCorpusSize($indexedCorpus) " +
        "(buildEmbedding keeps its width for the index's lifetime)")
    val index = IndexSegments.scanForProbes(bandParts,
      bBanded.select("hkey"), maxDriverKeys)
    val cand0 = index.join(bBanded, Seq("hkey"))
      .select(col("id").as("i"), col("j"))
      .distinct()
    // BATCHED probe — see probeSimhash: one bounded collect of the
    // (i, j) candidate pairs replaces the localCheckpoint barrier +
    // member-key collect; member keys derive driver-side, candidates
    // join back as a local relation. Over the cap, the old shape.
    val candRows = cand0.limit(maxDriverKeys + 1).collect()
    // full-row dedup on the member fetch (the old upsert's
    // duplicatesOn(all-columns) semantics): an id re-added with the
    // SAME vector collapses to one row; a changed vector keeps both —
    // both versions' pairs verify, exactly as before
    val memParts = IndexSegments.liveParts(spark, s"$dir/members")
    require(memParts.nonEmpty, s"no graft index at $dir/members")
    val (cand, mem) =
      if (candRows.length <= maxDriverKeys) {
        import scala.jdk.CollectionConverters._
        val local = spark.createDataFrame(
          candRows.toSeq.sortBy(r => (r.getLong(0), r.getLong(1))).asJava,
          cand0.schema)
        (local, IndexSegments.scanForPointKeys(memParts,
          candRows.map(_.getLong(0)), dedupCols = Seq("id", "vec", "norm")))
      } else {
        val cp = cand0.localCheckpoint()
        (cp, IndexSegments.scanForProbes(memParts,
          cp.select(col("i").as("hkey")), maxDriverKeys,
          dedupCols = Seq("id", "vec", "norm")))
      }
    // Join order + hints are the scale story: the SLIM (i, j) candidate
    // set shuffles once (16-byte rows) to meet the pruned member
    // vectors on i; the fat (i, j, va, na) stream then meets the BATCH
    // vectors via an explicit broadcast — the batch is the increment,
    // bounded by contract — so candidate-cardinality rows carrying
    // 520-byte payloads never hit a shuffle. Leaving the second join
    // to the planner let it sort-merge on j and spill the fat stream
    // (measured 72s for a 25k-vector batch against a 200k corpus;
    // broadcast shape: ~17s).
    // the broadcast is FORCED, so its size must be enforced, not
    // assumed: a bounded probe (scan stops at maxBroadcastRows + 1 —
    // never a full count of an unboundedly large batch) downgrades to
    // a planner-chosen join instead of OOM-ing every executor when a
    // caller violates the bounded-increment contract
    val bTbl = batch.select(col("id").as("j"), col("vec").as("vb"),
      col("norm").as("nb"))
    // a local-relation batch is under maxDriverKeys rows — trivially
    // broadcastable, no count probe needed
    val bSmall = batchLocal ||
      batch.select(col("id"))
        .limit(math.min(maxBroadcastRows + 1, Int.MaxValue.toLong).toInt)
        .count() <= maxBroadcastRows
    cand
      .join(mem.select(col("id").as("i"), col("vec").as("va"),
        col("norm").as("na")), Seq("i"))
      .join(if (bSmall) broadcast(bTbl) else bTbl, Seq("j"))
      .select(col("i"), col("j"),
        SimilarityOps.cosine(col("va"), col("vb"), col("na"), col("nb"))
          .as("cos"))
      .filter(col("cos") >= threshold)
  }

  // ---------------- segment-frequency index (incremental line dedup) --

  /** Persist / extend the corpus segment document-frequency table: one
    * row per distinct segment digest `(hkey, segd, df)`, ordered on
    * the md5-prefix hkey for zone-map probing — the incremental
    * backing of [[DedupOps.segmentDedup]]: a new batch can be
    * boilerplate-stripped against the WHOLE accepted corpus at a cost
    * ∝ batch, never rescanning corpus text.
    *
    * An increment lands as its own DELTA SEGMENT holding only the
    * batch's frequencies; probes SUM across base + segments
    * ([[IndexSegments]]) — so unlike the presence-only indexes an
    * increment must be applied exactly once: pass `incrementTag` and
    * replays of the same tag are skipped via the per-segment kv stamp
    * (the GraftSink discipline; foreachBatch callers pass the epoch
    * id). Summing at read time instead of merging at write time also
    * closes the r11 lost-update window: concurrent increments write
    * disjoint segments and compose by construction.
    */
  def buildSegments(spark: SparkSession, dir: String, docs: DataFrame,
      idCol: String, textCol: String, segWords: Int = 10,
      rowsPerFile: Long = 1000000L,
      incrementTag: Option[String] = None,
      maxSegments: Option[Int] = None): Unit = {
    val ds = new OrderedDataset(spark, dir)
    if (ds.exists) requireCfg(ds, "segments", Some(s"w$segWords"))
    if (incrementTag.exists(IndexSegments.hasTag(spark, dir, _)))
      return // replay, committed
    val counts = DedupOps.segmentTable(docs, idCol, textCol, segWords)
      .groupBy("seg").agg(countDistinct(col("id")).as("bdf"))
      .select(md5(col("seg")).as("segd"), col("bdf").as("df"))
    writeBaseOrSegment(spark, dir,
      counts.select(hkey60(col("segd")).as("hkey"), col("segd"),
        col("df")),
      WriteOpts("hkey", NRows(rowsPerFile),
        duplicatesOn = Some(Seq("segd")),
        kv = Map("graft.index.kind" -> "segments",
          "graft.index.cfg" -> s"w$segWords") ++
          incrementTag.map(IndexSegments.StampKey -> _).toMap))
    maxSegments.foreach(ms => compactIndexIfNeeded(spark, dir, ms): Unit)
  }

  /** Strip corpus-boilerplate segments from a batch against the
    * persisted frequency index: a batch segment is dropped when
    * (index df) + (batch distinct-doc df) reaches `dfMin` — exactly
    * the [[DedupOps.segmentDedup]] rule evaluated over corpus ∪ batch,
    * restricted to the batch's documents (already-written corpus docs
    * are a compaction-time concern). Probe cost ∝ batch (zone-map
    * point reads under `maxDriverKeys` distinct segments, slim
    * equi-join above). Returns the segmentDedup output shape for the
    * batch. Call [[buildSegments]] with the same batch afterwards to
    * extend the index.
    *
    * `includeBatchDf = false` drops the batch-internal contribution
    * from the verdict — the REPLAY mode: when the index already holds
    * this increment (its tag matches), counting the batch again would
    * double its own segments and strip MORE than the original attempt
    * did; excluding it reproduces the first attempt's rewrite exactly.
    */
  def dedupBatchSegments(spark: SparkSession, dir: String,
      batch: DataFrame, idCol: String, textCol: String,
      segWords: Int = 10, dfMin: Long = 2L,
      maxDriverKeys: Int = MaxDriverKeys, textOut: Boolean = false,
      includeBatchDf: Boolean = true): DataFrame = {
    val segs = DedupOps.segmentTable(batch, idCol, textCol, segWords)
      .withColumn("segd", md5(col("seg")))
    val bdf = segs.groupBy(col("segd").as("bsegd"))
      .agg(countDistinct(col("id")).as("bdf"))
    val parts = IndexSegments.liveParts(spark, dir)
    parts.headOption.foreach(p =>
      requireCfgKv(dir, p.m.kv, "segments", Some(s"w$segWords")))
    val idx =
      if (parts.isEmpty) spark.emptyDataFrame
        .select(lit("").as("osegd"), lit(0L).as("odf")).limit(0)
      else {
        val scanned = IndexSegments.scanForProbes(parts,
          segs.select(hkey60(col("segd")).as("hkey")), maxDriverKeys)
        // frequencies SUM across base + delta segments (one row per
        // segd each); skip the aggregate when only the base is live.
        // Clamped at zero — see dedupBatchSpans' decrement note
        val merged =
          if (parts.size == 1) scanned
          else scanned.groupBy("segd")
            .agg(greatest(sum("df"), lit(0L)).as("df"))
        merged.select(col("segd").as("osegd"), col("df").as("odf"))
      }
    val own = if (includeBatchDf) col("bdf") else lit(0L)
    val verdict = bdf.join(idx, col("bsegd") === col("osegd"), "left")
      .select(col("bsegd"),
        ((own + coalesce(col("odf"), lit(0L))) >= dfMin).as("__drop"))
    DedupOps.reassembleSegments(
      segs.join(verdict, col("segd") === col("bsegd"))
        .select(col("id"), col("pos"), col("seg"), col("__drop")),
      batch, idCol, textOut)
  }

  /** Overlapping k-gram OCCURRENCE-count index — the incremental twin
    * of [[DedupOps.spanDedup]] the way the segment index twins
    * [[DedupOps.segmentDedup]]. One `(hkey, gd, cnt)` row per distinct
    * gram, cnt = TOTAL corpus occurrences (spanDedup's global rule:
    * within-doc repeats count), ordered on the gram md5's leading 60
    * bits for zone-map point probes. `incrementTag` gives replay
    * idempotence exactly like [[buildSegments]].
    */
  def buildSpanGrams(spark: SparkSession, dir: String, docs: DataFrame,
      idCol: String, textCol: String, k: Int = 8,
      rowsPerFile: Long = 1000000L,
      incrementTag: Option[String] = None,
      maxSegments: Option[Int] = None): Unit = {
    val ds = new OrderedDataset(spark, dir)
    if (ds.exists) requireCfg(ds, "spans", Some(s"k$k"))
    if (incrementTag.exists(IndexSegments.hasTag(spark, dir, _)))
      return // replay, committed
    val base = docs.select(col(idCol).cast("long").as("id"),
      TextOps.wsTokens(col(textCol)).as("ws"))
    // the increment's OWN counts only — no probe of existing counts, so
    // there is no read-modify-write to lose under concurrency (the r11
    // ADVICE window): occurrence totals sum across segments at probe
    // time, and write cost is ∝ the increment's distinct grams
    val counts = DedupOps.spanGramTable(base, k)
      .groupBy(col("h").as("gd"))
      .agg(count(lit(1)).as("cnt"))
    writeBaseOrSegment(spark, dir,
      counts.select(hkey60(col("gd")).as("hkey"), col("gd"), col("cnt")),
      WriteOpts("hkey", NRows(rowsPerFile),
        duplicatesOn = Some(Seq("gd")),
        kv = Map("graft.index.kind" -> "spans",
          "graft.index.cfg" -> s"k$k") ++
          incrementTag.map(IndexSegments.StampKey -> _).toMap))
    maxSegments.foreach(ms => compactIndexIfNeeded(spark, dir, ms): Unit)
  }

  /** Duplicated-span removal for a BATCH against the persisted gram
    * index: a batch gram position is covered when (index occurrences)
    * + (batch occurrences) reaches [[DedupOps.SpanMinCount]] —
    * spanDedup's global rule evaluated over corpus ∪ batch, restricted
    * to the batch's documents. Probe cost ∝ batch grams (zone-map point
    * reads under [[MaxDriverKeys]], slim equi-join above); output is the
    * [[DedupOps.spanDedup]] shape. `includeBatchCnt = false` is the
    * replay mode, mirroring [[dedupBatchSegments]]'s contract. Call
    * [[buildSpanGrams]] with the same batch afterwards to extend the
    * index.
    *
    * Economics (measured, SCALE.md r11f): UNLIKE the slim per-doc
    * indexes, this one is distinct-gram-cardinality-sized, so a batch
    * that is a large fraction of the corpus probes at roughly the
    * recompute's cost (20% batch at 100×: 17.3 s vs 18.7 s). The
    * index pays off for genuine increments — small enough for
    * zone-map point reads, or small next to a corpus whose TEXT
    * re-scan the probe avoids. Both paths produce identical results,
    * so the choice is per-deployment.
    */
  def dedupBatchSpans(spark: SparkSession, dir: String,
      batch: DataFrame, idCol: String, textCol: String,
      k: Int = 8, includeBatchCnt: Boolean = true): DataFrame = {
    val base = batch.select(col(idCol).cast("long").as("id"),
      TextOps.wsTokens(col(textCol)).as("ws"))
    val grams = DedupOps.spanGramTable(base, k)
    val bcnt = grams.groupBy(col("h").as("bgd"))
      .agg(count(lit(1)).as("bcnt"))
    val parts = IndexSegments.liveParts(spark, dir)
    parts.headOption.foreach(p =>
      requireCfgKv(dir, p.m.kv, "spans", Some(s"k$k")))
    val idx =
      if (parts.isEmpty) spark.emptyDataFrame
        .select(lit("").as("ogd"), lit(0L).as("ocnt")).limit(0)
      else {
        val scanned = IndexSegments.scanForProbes(parts,
          grams.select(hkey60(col("h")).as("hkey")).distinct(),
          MaxDriverKeys)
        // occurrence counts SUM across base + delta segments; clamped
        // at zero so a decrement segment (removeCountedDocs) can
        // cancel corpus counts but never suppress the batch's own
        val merged =
          if (parts.size == 1) scanned
          else scanned.groupBy("gd")
            .agg(greatest(sum("cnt"), lit(0L)).as("cnt"))
        merged.select(col("gd").as("ogd"), col("cnt").as("ocnt"))
      }
    val own = if (includeBatchCnt) col("bcnt") else lit(0L)
    val verdict = bcnt.join(idx, col("bgd") === col("ogd"), "left")
      .select(col("bgd"),
        ((own + coalesce(col("ocnt"), lit(0L))) >= DedupOps.SpanMinCount)
          .as("__dup"))
    val dupPos = grams
      .join(verdict, col("h") === col("bgd"))
      .filter(col("__dup"))
      .groupBy("id")
      .agg(sort_array(collect_list(col("pos"))).as("dps"))
    DedupOps.spanAssemble(base, dupPos, k, idCol, textOut = false)
  }

  /** Take documents DOWN from an aggregate-COUNT index kind (spans /
    * segments) — the decrement-segment path (VERDICT r13 missing #3).
    * Per-doc contributions are not recoverable from stored totals, so
    * the CALLER supplies the removed documents (id + the exact text
    * that was indexed); their contributions are recomputed (cost ∝
    * removed docs, never the index) and land as ONE delta segment of
    * NEGATIVE counts. Count kinds SUM across segments at read time,
    * so probes see decremented totals immediately; the next
    * [[compactIndex]] folds the decrements into the base and DROPS
    * rows whose total reaches zero (the physical purge). Probes clamp
    * the index contribution at zero, so an out-of-contract double
    * remove degrades to "gram absent", never to suppressing a later
    * batch's own counts. Supplying text that differs from what was
    * indexed under-/over-decrements silently — same trust contract as
    * every rebuild. Presence/id-carrying kinds use [[removeDocs]].
    */
  def removeCountedDocs(spark: SparkSession, dir: String,
      docs: DataFrame, idCol: String, textCol: String): Unit = {
    val ds = new OrderedDataset(spark, dir)
    require(ds.exists, s"no graft index at $dir")
    val kv = ds.kv
    val rpf = math.max(1L,
      ds.meta.files.map(_.rows).foldLeft(0L)(math.max))
    kv.get("graft.index.kind") match {
      case Some("spans") =>
        val k = kv.get("graft.index.cfg")
          .map(_.stripPrefix("k").toInt).getOrElse(8)
        val base = docs.select(col(idCol).cast("long").as("id"),
          TextOps.wsTokens(col(textCol)).as("ws"))
        val dec = DedupOps.spanGramTable(base, k)
          .groupBy(col("h").as("gd"))
          .agg((-count(lit(1))).cast("long").as("cnt"))
        IndexSegments.writeSegment(spark, dir,
          dec.select(hkey60(col("gd")).as("hkey"), col("gd"),
            col("cnt")),
          WriteOpts("hkey", NRows(rpf),
            duplicatesOn = Some(Seq("gd")),
            kv = Map("graft.index.kind" -> "spans")))
      case Some("segments") =>
        val w = kv.get("graft.index.cfg")
          .map(_.stripPrefix("w").toInt).getOrElse(10)
        val dec = DedupOps.segmentTable(docs, idCol, textCol, w)
          .groupBy("seg")
          .agg((-countDistinct(col("id"))).cast("long").as("df"))
          .select(md5(col("seg")).as("segd"), col("df"))
        IndexSegments.writeSegment(spark, dir,
          dec.select(hkey60(col("segd")).as("hkey"), col("segd"),
            col("df")),
          WriteOpts("hkey", NRows(rpf),
            duplicatesOn = Some(Seq("segd")),
            kv = Map("graft.index.kind" -> "segments")))
      case other => throw new IllegalArgumentException(
        s"removeCountedDocs supports the aggregate-count kinds " +
          s"(spans, segments); index at $dir is kind $other — use " +
          "removeDocs for id-carrying kinds")
    }
  }

  /** Take documents DOWN from any id-carrying index in the family —
    * the index-side completion of a corpus purge
    * ([[graft.store.OrderedDataset.delete]] removes the rows; without
    * this, the indexes keep SERVING the purged ids). Dispatched on the
    * index kind:
    *
    *  - digest / minhash / ivf / ivfpq: one id tombstone
    *    ([[IndexSegments.removeIds]] — O(id list) write, probes
    *    anti-join immediately, the next [[compactIndex]] purges
    *    physically and [[IndexSegments.vacuum]] reaps);
    *  - bm25: tombstone + corpus-scalar decrement
    *    ([[Bm25Index.remove]]);
    *  - embedding: tombstones on BOTH sub-datasets (band rows and
    *    vector members both carry the id);
    *  - simhash: members only — band rows carry fingerprints, not
    *    ids; a fingerprint orphaned by the removal yields candidates
    *    that the member expansion then drops, which is correct (and a
    *    compaction does not resurrect anything);
    *  - spans / segments / contamination: REJECTED — their rows are
    *    aggregate gram counts with no per-doc lineage, so a doc's
    *    contribution is not recoverable; the remedy is a rebuild of
    *    the index without the removed docs.
    *
    * A re-add AFTER the removal is visible again (tombstones apply
    * only to index parts older than their registration). Returns the
    * number of tombstones registered.
    */
  def removeDocs(spark: SparkSession, dir: String, ids: DataFrame)
      : Int = {
    val kindOf: String => Option[String] = d => {
      val ds = new OrderedDataset(spark, d)
      if (ds.exists) ds.kv.get("graft.index.kind") else None
    }
    kindOf(dir).orElse(kindOf(s"$dir/bands")) match {
      case Some("digest") | Some("minhash") | Some("ivf")
           | Some("ivfpq") =>
        IndexSegments.removeIds(spark, dir, ids): Unit; 1
      case Some(Bm25Index.Kind) =>
        Bm25Index.remove(spark, dir, ids); 1
      case Some("embedding") =>
        IndexSegments.removeIds(spark, s"$dir/bands", ids): Unit
        IndexSegments.removeIds(spark, s"$dir/members", ids): Unit
        2
      case Some("simhash") =>
        IndexSegments.removeIds(spark, s"$dir/members", ids): Unit; 1
      case Some(k @ ("spans" | "segments")) =>
        throw new IllegalArgumentException(
          s"index at $dir is a '$k' index — aggregate gram counts " +
            "carry no per-doc lineage, so an id-only takedown is " +
            "unsupported; use removeCountedDocs with the removed " +
            "documents' text (decrement segments), or rebuild the " +
            "index from the corpus without them")
      case Some("contamination") =>
        throw new IllegalArgumentException(
          s"index at $dir is a 'contamination' index — its rows are " +
            "EVAL-set grams shared across documents, so a per-doc " +
            "takedown is not well-defined; rebuild the index from " +
            "the eval set without the removed documents")
      case other => throw new IllegalArgumentException(
        s"no graft index at $dir (kind = $other)")
    }
  }

  /** The operational policy knob over [[compactIndex]]: fold only when
    * live delta segments have reached `maxSegments` (probe read
    * amplification = #live segments + 1, so this bounds it). Call
    * after every add — a steady ingest then pays one O(index) fold per
    * `maxSegments` O(increment) adds, amortized. Returns segments
    * folded (0 = under threshold). */
  def compactIndexIfNeeded(spark: SparkSession, dir: String,
      maxSegments: Int = 8): Int = {
    require(maxSegments >= 1, s"maxSegments must be >= 1: $maxSegments")
    // two-level kinds keep their segments under dir/bands + dir/members
    val probeDir =
      if (new OrderedDataset(spark, dir).exists) dir else s"$dir/bands"
    val live = IndexSegments.liveParts(spark, probeDir).size - 1
    if (live >= maxSegments) compactIndex(spark, dir) else 0
  }

  /** Fold every live delta segment of the index at `dir` back into its
    * base run — the LSM compaction twin of the O(increment) adds
    * ([[IndexSegments.compact]]), dispatched on the index kind recorded
    * in the base kv. Handles the two-level kinds (simhash, embedding)
    * by compacting both sub-datasets. The rewritten base files keep
    * the base's current target (the largest base file's rows). Returns
    * #segments folded (summed across sub-datasets). Probes are
    * unchanged before and after — folding only moves rows between
    * union members.
    */
  def compactIndex(spark: SparkSession, dir: String): Int = {
    def baseTarget(base: OrderedDataset): NRows =
      NRows(math.max(1L, base.meta.files.map(_.rows).foldLeft(0L)(math.max)))
    def one(d: String, orderedOn: String, dup: Seq[String],
        sumCols: Seq[String] = Nil): Int = {
      val base = new OrderedDataset(spark, d)
      require(base.exists, s"no graft index at $d")
      IndexSegments.compact(spark, d, WriteOpts(orderedOn, baseTarget(base),
        duplicatesOn = Some(dup)), sumCols)
    }
    val kindOf: String => Option[String] = d => {
      val ds = new OrderedDataset(spark, d)
      if (ds.exists) ds.kv.get("graft.index.kind") else None
    }
    kindOf(dir).orElse(kindOf(s"$dir/bands")) match {
      case Some("digest") => one(dir, "hkey", Seq("digest", "id"))
      case Some("minhash") => one(dir, "hkey", Seq("band_id", "sig", "id"))
      case Some(Bm25Index.Kind) => one(dir, "hkey", Seq("term", "id"))
      case Some("contamination") =>
        val folded = one(dir, "hkey", Seq("g"))
        // the base gram set changed: re-derive ITS bloom (one base
        // scan); un-folded segments keep their own per-segment blooms
        if (folded > 0) ContaminationOps.rebuildBloom(spark, dir)
        folded
      // IVF lists carry no dedup key (re-adding an id was never deduped
      // — same as the r11 in-place add); folding is a pure merge
      case Some("ivf") | Some("ivfpq") =>
        val base = new OrderedDataset(spark, dir)
        require(base.exists, s"no graft index at $dir")
        IndexSegments.compact(spark, dir, WriteOpts("cid", baseTarget(base)))
      case Some("segments") =>
        one(dir, "hkey", Seq("segd"), sumCols = Seq("df"))
      case Some("spans") =>
        one(dir, "hkey", Seq("gd"), sumCols = Seq("cnt"))
      case Some("simhash") =>
        one(s"$dir/bands", "hkey", Seq("simhash")) +
          one(s"$dir/members", "simhash", Seq("id"))
      case Some("embedding") =>
        one(s"$dir/bands", "hkey", Seq("id")) +
          one(s"$dir/members", "id", Nil)
      case other => throw new IllegalArgumentException(
        s"no compactable graft index at $dir (kind = $other)")
    }
  }
}
