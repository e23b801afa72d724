package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for training-data pipelines, each designed
  * band-first so candidate generation is a shuffle-join on short keys —
  * never an n² cross join — and therefore scales to 100 TB corpora:
  *
  *  - exact: hash-groupBy on a content digest;
  *  - MinHash + LSH: shingle → md5-minhash signature → banded bucket
  *    join → exact Jaccard verification of candidates only;
  *  - SimHash: 16-bit majority-vote fingerprint → 4×4-bit pigeonhole
  *    bands (guaranteed recall at Hamming ≤ 3) → verified Hamming join;
  *  - exact n-gram Jaccard: distinct-shingle equi-join (bounded by
  *    Σ df(shingle)², not n²).
  *
  * All hashing is md5-based: equal-length lowercase hex strings compare
  * lexicographically == numerically in every engine, which is what makes
  * the DuckDB oracles exact.
  */
object DedupOps {

  /** Exact dedup: keep the smallest `keyCol` row per content digest.
    * Null content forms ONE group (SQL `GROUP BY md5(content)`
    * semantics — the window partitions nulls together), so exactly one
    * null-content row survives. `digestOut` optionally keeps the
    * digest as an output column (null for null content) so callers on
    * the ingest path don't hash the content twice.
    */
  def exactDedup(df: DataFrame, contentCol: String, keyCol: String,
      digestOut: Option[String] = None): DataFrame = {
    val withD = df.withColumn("__digest", md5(col(contentCol)))
    val w = Window.partitionBy(col("__digest")).orderBy(col(keyCol))
    val kept = withD.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    digestOut match {
      case Some(n) => kept.withColumnRenamed("__digest", n)
      case None => kept.drop("__digest")
    }
  }

  /** (id, gs) per-document DISTINCT shingle array — computed entirely
    * map-side (tokenize + slice + distinct inside one projection, no
    * explode, no shuffle). This is the working representation of the
    * minhash family: signatures and candidate verification both derive
    * from it without ever shuffling shingle rows.
    */
  def shingleArrays(df: DataFrame, idCol: String, textCol: String, n: Int)
      : DataFrame =
    df.select(col(idCol).as("id"),
      TextOps.wordShingles(col(textCol), n).as("gs"))

  /** (id, shingle) exploded distinct word-ngram shingles (the relational
    * form — used where a shingle equi-join is genuinely needed, e.g. the
    * exact all-pairs Jaccard baseline).
    */
  def shingleTable(df: DataFrame, idCol: String, textCol: String, n: Int)
      : DataFrame =
    // generator expression kept INLINE: Generate(explode(<expr>)) is
    // measurably faster than Project(arr) + Generate(explode(arr))
    // (~5× at sf0.1 — the split shape forces an UnsafeRow copy of the
    // whole array per input row)
    df.select(col(idCol).as("id"),
      explode(TextOps.wordShingles(col(textCol), n)).as("g"))

  /** MinHash signature columns s0..s(k-1): per-seed min over the doc's
    * shingle set of md5(seed|shingle). Entirely map-side — one
    * projection per document over its shingle array; signature
    * computation is embarrassingly parallel and never shuffles, which is
    * the shape that survives a 100 TB corpus (the previous
    * vocabulary-join formulation needed a distinct + join, and a
    * broadcast vocabulary cannot scale with the corpus). Duplicate
    * shingles cannot change a min, so the distinct array gives identical
    * signatures to the exploded-distinct formulation.
    */
  def minhashSignature(shingled: DataFrame, numHashes: Int): DataFrame =
    // ONE JVM loop over the shingle array (r15,
    // graft.functions.Shingles.minhashSig) — the per-seed
    // array_min(transform(md5(concat(...)))) columns paid numHashes ×
    // (a concat allocation + one-shot digest + 32-char hex render)
    // per shingle; the loop reuses one digest and hexifies only the
    // numHashes winners. Byte-identical signatures (hex order ==
    // digest-byte order), spec-pinned (ShinglesSpec). Staged so __sig
    // is an attribute: element_at references it numHashes times, so
    // the expression evaluates once per row.
    shingled.select(col("id"),
        graft.functions.Shingles.minhashSigCol(col("gs"), numHashes)
          .as("__sig"))
      .select(col("id") +:
        (0 until numHashes).map(i =>
          element_at(col("__sig"), i + 1).as(s"s$i")): _*)

  /** Exploded banded minhash table `(id, band_id, sig)` from
    * signature columns s0..s(numHashes-1) — the shared front half of
    * the self-join candidates ([[lshCandidates]]) and the cross-frame
    * screen ([[ContaminationOps.fuzzyOverlap]], where one side is
    * broadcast). */
  def bandTable(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    val bandCols = (0 until bands).map(b =>
      concat((b * rows until (b + 1) * rows).map(i => col(s"s$i")): _*)
        .as(s"band$b"))
    sig.select(col("id") +: bandCols: _*).select(col("id"),
      posexplode(array((0 until bands).map(b => col(s"band$b")): _*))
        .as(Seq("band_id", "sig")))
  }

  /** LSH candidate pairs from banded minhash signatures. */
  def lshCandidates(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val exploded = bandTable(sig, numHashes, bands)
    val a = exploded.as("a"); val b = exploded.as("b")
    a.join(b, col("a.band_id") === col("b.band_id") &&
        col("a.sig") === col("b.sig") && col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"))
      .distinct()
  }

  /** Exact Jaccard for given (i, j) candidate pairs over per-document
    * shingle arrays; output keeps pairs with jac >= threshold. Two
    * joins attach both docs' shingle arrays, then intersection/union
    * sizes are a single map-side `array_intersect` per pair: no
    * aggregation. No broadcast hints: boilerplate-heavy corpora yield
    * candidate sets in the tens of millions (×a shingle array each —
    * measured as the dominant spill at a 500k-doc corpus), far past any
    * broadcast limit; AQE still broadcasts genuinely small candidate
    * sets on its own.
    */
  def jaccardVerify(cand: DataFrame, shingled: DataFrame, threshold: Double)
      : DataFrame = jaccardVerifyCross(cand, shingled, shingled, threshold)

  /** [[jaccardVerify]] generalized to candidates whose two sides come
    * from DIFFERENT shingled frames — `i` ids resolve in `left`, `j`
    * ids in `right` (the cross-frame screens: fuzzy decontamination,
    * where `right` is the eval set). Same join economics: no broadcast
    * hints, AQE broadcasts a genuinely small candidate set on its own
    * (and a screen's candidates are ≈ the contamination rate, tiny
    * next to the corpus). */
  def jaccardVerifyCross(cand: DataFrame, left: DataFrame,
      right: DataFrame, threshold: Double): DataFrame = {
    val withA = left
      .join(cand, col("id") === col("i"))
      .select(col("i"), col("j"), col("gs").as("__ga"))
    val pairs = right
      .join(withA, col("id") === col("j"))
      .select(col("i"), col("j"),
        size(array_intersect(col("__ga"), col("gs"))).as("inter"),
        size(col("__ga")).as("na"), size(col("gs")).as("nb"))
    pairs.select(col("i"), col("j"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** Exact all-pairs n-gram Jaccard via the distinct-shingle equi-join
    * (no candidate pruning — the exact baseline the approximate methods
    * are judged against). Join volume is Σ df(shingle)², which scales
    * linearly as long as per-shingle document frequency stays bounded
    * (verified ×100.9 volume for ×100 docs on the 100× corpus); the
    * count-based verification never materializes shingle arrays per
    * pair. A rare-first prefix-filter variant (AllPairs/PPJoin) was
    * measured strictly slower at thresholds this low (0.5): prefixes
    * are half of every doc, candidates still ~1600× the output, and
    * attaching arrays to candidates dwarfs the partial-agg count join.
    */
  def exactJaccardPairs(shingles: DataFrame, threshold: Double): DataFrame = {
    val pairs = shingles.as("sa")
      .join(shingles.as("sb"), col("sa.g") === col("sb.g") &&
        col("sa.id") < col("sb.id"))
      .groupBy(col("sa.id").as("i"), col("sb.id").as("j"))
      .agg(count(lit(1)).as("inter"))
    val counts = shingles.groupBy("id").agg(count(lit(1)).as("n"))
    pairs
      .join(counts.as("ca"), col("i") === col("ca.id"))
      .join(counts.as("cb"), col("j") === col("cb.id"))
      .select(col("i"), col("j"),
        (col("inter").cast("double") /
          (col("ca.n") + col("cb.n") - col("inter"))).as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** Simhash width in bits (hex digits of md5 consumed = SimhashBits/4)
    * and its pigeonhole banding: 5 bands of 12 bits, keyed by PAIRS of
    * bands (C(5,2) = 10 keys of 24 bits per doc). Hamming distance ≤ 3
    * dirties at most 3 bands, leaving ≥ 2 intact — so at least one
    * pair-key matches exactly (same recall guarantee as single-band
    * keys over 4 bands). Key width is what bounds the random-collision
    * floor of the candidate join, ~n²·keys/2^keyBits: single 8-bit
    * bands measured 65× on a 10× corpus, single 15-bit bands hit a
    * ~15M-candidate floor at 500k docs (measured, SCALE.md); 24-bit
    * pair keys push the floor ~200× further out. 60 bits (not 64)
    * keeps the packed fingerprint positive, so band arithmetic and
    * DuckDB's floor-division/modulo agree without unsigned gymnastics.
    */
  val SimhashBits = 60
  val SimhashBands = 5

  /** Total occurrences (corpus ∪ batch) at which a k-gram counts as a
    * duplicated span — [[spanDedup]]'s rule and the span index's. */
  private[pipeline] val SpanMinCount = 2L

  /** The C(SimhashBands, 2) band-pair index, shared with the oracle. */
  val SimhashBandPairs: Seq[(Int, Int)] =
    for {
      a <- 0 until SimhashBands
      b <- a + 1 until SimhashBands
    } yield (a, b)

  /** SimHash over distinct words: bit (4p+b) is the majority vote of
    * bit b of hex digit p of md5(word). Pure integer arithmetic →
    * engine-portable.
    *
    * Entirely map-side: each document is one `simhash_fp` call over its
    * token array. No explode, no vocabulary join, no groupBy —
    * signature computation never shuffles, regardless of corpus size.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // ONE JVM loop per document (r15, graft.functions.SimhashFp) —
    // the r14 expression composition (array_distinct → per-word
    // conv(substring(md5(w),1,15),16,10) → aggregate/zip_with vote
    // fold) paid a one-shot digest + hex render + string conv parse +
    // two 15-long array allocations PER WORD (guide §1.2).
    // Bit-identical fingerprints for documents under 2^16 distinct
    // words (see SimhashFp), spec-pinned (SimhashFpSpec); the DuckDB
    // oracle replays the same digit-wise math unchanged.
    df.select(col(idCol).as("id"),
      graft.functions.SimhashFp.simhashFp(
        TextOps.wsTokens(col(textCol))).as("simhash"))

  /** Segment-level exact dedup ACROSS the corpus (the RefinedWeb /
    * CCNet line-dedup stage, adapted to segment = disjoint `segWords`-
    * word block since the synthetic corpus is single-line): a segment
    * whose text occurs in at least `dfMin` DISTINCT documents is
    * boilerplate and is removed from every document; survivors are
    * reassembled in order. Complements [[TextOps.boilerplateFrac]]
    * (the signal) by producing the REWRITTEN corpus.
    *
    * Per doc: `n_segs`, `n_dropped`, and `clean_digest` = md5 of the
    * space-joined surviving segments (digest instead of the full
    * rewritten text keeps oracle outputs compact; callers wanting the
    * text use the same expression un-hashed).
    *
    * 100 TB shape: segments explode at ~1/segWords of word count; the
    * frequency pass is a two-phase distinct-doc count on the segment
    * key; the tag-back is one shuffle join on the segment; reassembly
    * is one shuffle on the doc id with an order-restoring sort_array.
    * No corpus-sized broadcast, never all-pairs.
    */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
      segWords: Int = 10, dfMin: Long = 2L): DataFrame = {
    val segs = segmentTable(df, idCol, textCol, segWords)
    val common = segs.groupBy("seg")
      .agg(countDistinct(col("id")).as("__df"))
      .filter(col("__df") >= dfMin)
      .select(col("seg").as("__dup"))
    reassembleSegments(
      segs.join(common, col("seg") === col("__dup"), "left")
        .withColumn("__drop", col("__dup").isNotNull),
      df, idCol)
  }

  /** (id, pos, seg) rows: disjoint `segWords`-word blocks in order —
    * the shared front half of [[segmentDedup]] and the incremental
    * [[DedupIndex]] segment probes.
    */
  private[pipeline] def segmentTable(df: DataFrame, idCol: String,
      textCol: String, segWords: Int): DataFrame = {
    val ws = TextOps.wsTokens(col(textCol))
    val nSegs = ceil(size(ws).cast("double") / segWords).cast("int")
    val segArr = transform(
      when(nSegs >= 1, sequence(lit(1), nSegs))
        .otherwise(array().cast("array<int>")),
      k => array_join(slice(ws, (k - 1) * segWords + 1, lit(segWords)),
        " "))
    df.select(col(idCol).as("id"),
      posexplode(segArr).as(Seq("pos", "seg")))
  }

  /** Rebuild per-document outputs from flagged segment rows
    * `(id, pos, seg, __drop)`: surviving segments rejoin in order,
    * digested (or as `clean_text` with `textOut` — the ingest path
    * that actually rewrites the corpus). The shared back half of the
    * segment-dedup family.
    *
    * `src` is the ORIGINAL document frame: null/empty texts yield no
    * segment rows, so without a join back to the source ids those
    * documents would silently vanish from the output — inconsistent
    * with trigramLmDF/repetitionDF, which keep them with null scores.
    * They come back as `n_segs = 0, n_dropped = 0` with a null
    * digest/clean_text (the streaming ingest's coalesce then keeps
    * their original text).
    */
  private[pipeline] def reassembleSegments(flagged: DataFrame,
      src: DataFrame, idCol: String, textOut: Boolean = false)
      : DataFrame = {
    val joined = array_join(transform(col("__k"), _.getField("seg")), " ")
    val agg = flagged.groupBy("id")
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("__drop"), 1L).otherwise(0L)).as("n_dropped"),
        // collect_list drops nulls; sort_array restores segment order
        sort_array(collect_list(when(!col("__drop"),
          struct(col("pos"), col("seg"))))).as("__k"))
      .select(col("id"), col("n_segs"), col("n_dropped"),
        (if (textOut) joined.as("clean_text")
         else md5(joined).as("clean_digest")))
    src.select(col(idCol).as("id")).join(agg, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_segs"), lit(0L)).as("n_segs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        col(if (textOut) "clean_text" else "clean_digest"))
  }

  /** Connected components over an undirected duplicate-pair graph:
    * every doc appearing in a pair gets the smallest doc id reachable
    * from it as its cluster id — the step that turns pairwise near-dup
    * verdicts into "keep one per cluster" decisions in a training-data
    * pipeline.
    *
    * Min-label propagation, the standard DataFrame formulation of
    * iterative CC (the same driver-coordinated loop MLlib/GraphFrames
    * use): each round every node adopts the min of its own and its
    * neighbors' labels; rounds needed = graph diameter, and near-dup
    * components are tiny (pairs/triples), so this converges in 2-3
    * rounds in practice. Each round is one shuffle join + aggregation;
    * the driver only checks the (scalar) changed-count per round.
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 20,
      driverMaxEdges: Int = 1000000): DataFrame = {
    import org.apache.spark.sql.graftbridge.SparkInternals
    // a null endpoint cannot participate in a component (equi-joins
    // never match it downstream either) — drop such pairs up front so
    // neither path trips on it
    val cleanPairs = pairs
      .select(col("i").cast("long"), col("j").cast("long"))
      .na.drop()
    // HYBRID: near-dup pair graphs are normally a tiny fraction of the
    // corpus (the verified-candidate set), so up to `driverMaxEdges`
    // edges the components collapse on the driver — union-find with
    // min-root merging (labels identical to the distributed min-label
    // loop) in ONE job instead of 2-3 rounds of join+aggregate+
    // checkpoint. `head(limit+1)` doubles as the size probe: if it
    // comes back complete we already hold the edge list; only a
    // genuinely huge graph falls through to the iterative loop below.
    // Collected through the (Long, Long) encoder — primitive-backed
    // rows, not GenericRows, so the 1M-edge probe is ~tens of MB.
    // Set driverMaxEdges = 0 to force the distributed path.
    val takeRows = {
      val sess = pairs.sparkSession
      import sess.implicits._
      cleanPairs.as[(Long, Long)].head(driverMaxEdges + 1)
    }
    if (takeRows.length <= driverMaxEdges) {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      takeRows.foreach { case (a, b) =>
        if (!parent.contains(a)) parent(a) = a
        if (!parent.contains(b)) parent(b) = b
        val ra = find(a); val rb = find(b)
        // min root stays root → every root is its component's min id
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val labels = parent.keysIterator
        .map(id => (id, find(id))).toSeq.sortBy(_._1)
      val sess = pairs.sparkSession
      import sess.implicits._
      return labels.toDF("id", "cluster")
    }
    // Persisted un-partitioned: the propagation join's small side is
    // the changed set, which AQE broadcasts — pre-shuffling the edge
    // table by key measured strictly slower (the full-table exchange
    // is paid even when every round's join is broadcast).
    val edges = cleanPairs.select(col("i").as("a"), col("j").as("b"))
      .unionByName(cleanPairs.select(col("j").as("a"), col("i").as("b")))
      .persist()
    // Local-checkpoint each round: truncates the iterative lineage so
    // plan size stays constant across rounds. Seeding with the
    // neighbor-min (one aggregation, replacing the plain distinct)
    // performs round 1 for free: diameter-1 components (plain pairs —
    // the bulk of near-dup graphs) are already converged.
    var labels = edges.groupBy(col("a").as("id"))
      .agg(least(min(col("a")), min(col("b"))).as("cluster"))
      .localCheckpoint()
    // Delta propagation: only labels that CHANGED last round can lower
    // a neighbor this round, so the propagation join streams the full
    // edge table against the changed set only (vs all labels). Seed
    // round: a node whose label is its own id offers nothing a
    // neighbor's own seed aggregation didn't already see.
    var changed = labels.filter(col("cluster") < col("id"))
    var it = 0
    var done = changed.isEmpty
    while (!done && it < maxIter) {
      val prop = edges
        .join(changed.select(col("id").as("b2"), col("cluster")),
          col("b") === col("b2"))
        .groupBy(col("a").as("id")).agg(min("cluster").as("nbr"))
      val next = labels.withColumnRenamed("cluster", "old")
        .join(prop, Seq("id"), "left")
        .select(col("id"),
          least(col("old"), coalesce(col("nbr"), col("old"))).as("cluster"),
          col("old"))
        .localCheckpoint()
      changed = next.filter(col("cluster") < col("old"))
        .select("id", "cluster")
      done = changed.isEmpty
      // the superseded round's checkpoint blocks are dead the moment
      // `next` materializes — release them now instead of waiting for
      // the ContextCleaner to notice the GC'd RDD (ADVICE r2)
      SparkInternals.unpersistCheckpoint(labels)
      labels = next.select("id", "cluster")
      it += 1
    }
    edges.unpersist()
    if (!done)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"dupClusters exited after maxIter=$maxIter with labels still " +
          "changing — a component's diameter exceeds the iteration " +
          "budget and its cluster ids are NOT converged; raise maxIter")
    labels
  }

  /** Near-dup pairs at Hamming distance <= maxDist via pigeonhole
    * band-pair keys (see SimhashBands) over DISTINCT fingerprints.
    *
    * Duplicate-heavy corpora concentrate fingerprints: a template
    * cluster of s docs shares ONE fingerprint but would put s copies in
    * every band bucket, so banding doc-level rows costs Σs²·keys join
    * rows before the distinct — measured 219s at 500k docs (100×)
    * vs 12s at 50k: super-linear purely from multiplicity. Instead:
    *  1. candidate generation runs on the distinct-fingerprint table
    *     (band-pair equi-join, fingerprint-ordered, Hamming-filtered,
    *     then distinct on the FINGERPRINT pair — |D|² collision floor,
    *     |D| ≤ corpus and typically far smaller);
    *  2. dist-0 pairs come from an exact fingerprint self-join of the
    *     doc table — an equi-join whose cost IS the output size;
    *  3. cross-fingerprint candidates expand to doc pairs by joining
    *     members on each side — also output-sized.
    * The three parts are disjoint (strict fingerprint order in 1/3,
    * equality in 2), so no doc-level distinct is ever needed, and the
    * result set is identical to banding doc-level rows (equal
    * fingerprints match every band, and band values are a function of
    * the fingerprint). The oracle mirrors doc-level banding for exactly
    * that reason.
    */
  def simhashPairs(sim: DataFrame, maxDist: Int): DataFrame = {
    val bandBits = SimhashBits / SimhashBands
    // integer shift+mask, NOT divide: Column.divide is double division,
    // which silently corrupts bits beyond 2^53 on a wide fingerprint
    def bandVal(b: Int) =
      shiftright(col("simhash"), bandBits * b)
        .bitwiseAND(lit((1L << bandBits) - 1))
    val fps = sim.select(col("simhash")).distinct()
    val banded = fps.select(col("simhash"),
      posexplode(array(SimhashBandPairs.map { case (a, b) =>
        bandVal(a) * lit(1L << bandBits) + bandVal(b)
      }: _*))
        .as(Seq("band_id", "band_val")))
    // No broadcast hints anywhere: every side is either O(|D|) slim or
    // output-sized; AQE still broadcasts the small sides at small SF.
    val a = banded.as("a"); val b = banded.as("b")
    val fpPairs = a.join(b, col("a.band_id") === col("b.band_id") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.simhash") < col("b.simhash"))
      .select(col("a.simhash").as("fa"), col("b.simhash").as("fb"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
    val within = sim.as("x").join(sim.as("y"),
        col("x.simhash") === col("y.simhash") && col("x.id") < col("y.id"))
      .select(col("x.id").as("i"), col("y.id").as("j"),
        lit(0).as("dist"))
    val cross = fpPairs
      .join(sim.select(col("id").as("ia"), col("simhash").as("fa")), "fa")
      .join(sim.select(col("id").as("ib"), col("simhash").as("fb")), "fb")
      .select(least(col("ia"), col("ib")).as("i"),
        greatest(col("ia"), col("ib")).as("j"), col("dist"))
    within.unionByName(cross)
  }

  /** Duplicated-SPAN removal: OVERLAPPING word k-grams whose corpus-
    * wide occurrence count is ≥ [[SpanMinCount]] mark every token they
    * cover; covered tokens merge into maximal spans and are removed.
    * The any-alignment upgrade over [[segmentDedup]]'s disjoint
    * blocks (the "deduplicating training data" substring-dedup shape
    * at k-token granularity): a duplicate caught at ANY offset, and
    * counting is GLOBAL occurrences — a passage repeated twice inside
    * ONE document is removed too, where segmentDedup's distinct-doc
    * rule keeps it.
    *
    * Output per document: (idCol, n_tokens, n_dup_tokens, n_spans,
    * clean_digest) — n_spans counts maximal covered runs, clean_digest
    * is md5 of the surviving tokens space-rejoined in order (md5("")
    * when everything was covered).
    *
    * 100 TB shape: gram rows ≈ token count (k-wide but stride-1, one
    * md5 per position, built map-side); ONE shuffle counts grams
    * globally; only DUPLICATED positions — sparse in a healthy corpus
    * — shuffle back to their documents (groupBy id, collect sorted
    * positions), and everything per-document after that is map-side
    * array math: span stats from consecutive-position deltas (equal-
    * length intervals sorted by start ⇒ merged spans break exactly
    * where delta > k), the rebuilt text from an exists()-filter over
    * the duplicated-position array. No all-token reassembly shuffle
    * (segmentDedup pays one) and never all-pairs. Worst case — a
    * fully duplicated document — makes the exists() filter
    * O(tokens · positions) for THAT document; acceptable because such
    * documents are exactly what exact dedup removed upstream.
    */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, textOut: Boolean = false): DataFrame =
    spanDedupTokens(df, idCol, TextOps.wsTokens(col(textCol)), k, textOut)

  /** [[spanDedup]] over an arbitrary token-array column — the
    * substring-dedup literature (and this engine's own packSequences)
    * operate on BPE TOKEN streams, not whitespace words: pass
    * `Bpe.bpeTokens(col(textCol), table)` and duplicated spans are
    * caught at sub-word granularity and any byte alignment the
    * tokenizer produces. Geometry, cost shape and output schema are
    * identical to [[spanDedup]] (clean_digest = md5 of the surviving
    * TOKENS space-rejoined — BPE tokens never contain spaces).
    */
  def spanDedupTokens(df: DataFrame, idCol: String, toks: Column,
      k: Int = 8, textOut: Boolean = false): DataFrame = {
    require(k >= 2, s"span gram width must be >= 2, got $k")
    val base = df.select(col(idCol).cast("long").as("id"),
      toks.as("ws"))
    // (id, pos, h): md5 of each stride-1 k-token window; short docs
    // guarded inside spanGramTable (sequence(0, negative) enumerates
    // DESCENDING — the same trap shingleArrays fixed)
    val grams = spanGramTable(base, k)
    // count-over-window on the gram hash, NOT groupBy(h) + self-join:
    // the join form re-derives the gram table on its other side — a
    // second corpus scan + tokenize + md5 pass (plan audit, PLANS.md
    // r11). One shuffle on h, grams computed once, identical result;
    // a skewed gram loads one partition exactly as a groupBy would.
    // The key shuffles as the 16-byte BINARY digest, not the 32-char
    // hex rendering — same 128 bits, half the key payload through the
    // query's one big exchange; materialized into its own column so
    // the exchange provably carries the binary, not the hex it would
    // re-derive for the window sort (SCALE.md r12e).
    val slim = grams.select(col("id"), col("pos"),
      unhex(col("h")).as("hb"))
    val wHash = Window.partitionBy(col("hb"))
    val dupPos = slim
      .withColumn("cnt", count(lit(1)).over(wHash))
      .filter(col("cnt") >= SpanMinCount)
      .groupBy("id")
      .agg(sort_array(collect_list(col("pos"))).as("dps"))
    spanAssemble(base, dupPos, k, idCol, textOut)
  }

  /** (id, pos, h) stride-1 k-gram rows of a (id, ws) frame — the
    * shared gram front of [[spanDedup]] and the incremental
    * [[DedupIndex.dedupBatchSpans]]. Since r15 the per-position
    * md5-of-window is ONE JVM loop ([[graft.functions.SpanGrams]],
    * byte-identical digests) instead of a
    * transform/slice/concat_ws/md5 composition — the composed form
    * allocated a k-token array + joined string + fresh MessageDigest
    * per position and was the dominant map-stage cost of the 100×
    * span lines (guide §1.2). Short docs (< k tokens) yield no rows,
    * exactly like the old `when(size >= k, …)` guard. */
  private[pipeline] def spanGramTable(base: DataFrame, k: Int)
      : DataFrame =
    base.select(col("id"),
        explode(graft.functions.SpanGrams.spanGrams(col("ws"), k))
          .as("g"))
      .select(col("id"), col("g.pos").as("pos"), col("g.h").as("h"))

  /** The span-dedup tail shared with [[DedupIndex.dedupBatchSpans]]:
    * given documents `(id, ws)` and their sorted duplicated-position
    * arrays `(id, dps)`, emit per-document span stats and the
    * rebuilt digest/text — all map-side array math (see
    * [[spanDedup]]'s scaladoc for the geometry). */
  private[pipeline] def spanAssemble(base: DataFrame, dupPos: DataFrame,
      k: Int, idCol: String, textOut: Boolean): DataFrame = {
    base.join(dupPos, Seq("id"), "left")
      .withColumn("dps",
        coalesce(col("dps"), array().cast("array<int>")))
      // deltas between consecutive duplicated positions: the whole
      // span geometry (equal-length intervals, sorted starts)
      .withColumn("deltas", when(size(col("dps")) >= 2,
        transform(sequence(lit(1), size(col("dps")) - 1),
          i => element_at(col("dps"), i + 1) - element_at(col("dps"), i)))
        .otherwise(array().cast("array<int>")))
      .select(
        col("id").as(idCol),
        size(col("ws")).cast("long").as("n_tokens"),
        when(size(col("dps")) === 0, lit(0L))
          .otherwise((lit(k) + aggregate(col("deltas"), lit(0),
            (acc, d) => acc + least(d, lit(k)))).cast("long"))
          .as("n_dup_tokens"),
        when(size(col("dps")) === 0, lit(0L))
          .otherwise((lit(1) + aggregate(col("deltas"), lit(0),
            (acc, d) => acc + when(d > k, 1).otherwise(0))).cast("long"))
          .as("n_spans"),
        {
          // the ingest path (textOut) emits the rewritten text itself;
          // the default digests it for hash-exact oracle compares.
          // ONE JVM sweep (r15, graft.functions.SpanClean) instead of
          // the transform/filter/exists/concat_ws composition — the
          // composed form allocated a struct per token and re-scanned
          // dps per token (O(tokens·|dps|)), and was measured as ~80%
          // of p_span_dedup_bpe's wall time at 10× (guide §1.2).
          // Byte-identical output, spec-pinned (SpanCleanSpec).
          val joined = graft.functions.SpanClean.spanClean(
            col("ws"), col("dps"), k)
          if (textOut) joined.as("clean_text")
          else md5(joined).as("clean_digest")
        })
  }
}
