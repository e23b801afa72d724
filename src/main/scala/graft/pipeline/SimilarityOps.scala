package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and sign-random-
  * projection LSH bucketing as the scale path (candidates come from a
  * banded bucket equi-join, never an n² cross join).
  *
  * Dot products use `zip_with` + `aggregate` — a sequential codegen'd
  * fold, no UDF. Cosines are rounded to 6 decimals before thresholding
  * or ranking so results are reproducible across engines and partition
  * orders.
  */
object SimilarityOps {

  /** Seeds of the independent chunk-ranking hyperplanes in
    * [[SimilarityOps.lshNearDupPairsGrouped]] — each disjoint from the
    * banding planes' seed and from each other. The first two are the
    * historical single/dual contract (RecallFloorSpec's adversarial
    * construction aims at them BY SEED, so they are part of the
    * observable behavior); the list's length caps `chunkRankings`.
    */
  val ChunkSeeds: Seq[Long] = Seq(9917L, 7753L, 5581L, 3371L)

  /** Dot product of two double arrays: native codegen'd Expression
    * (single fused loop, no intermediate array — see
    * graft.functions.DotProduct). Same sequential accumulation order and
    * null semantics (NULL on length mismatch or null element) as the
    * builtin composition below, so results are bit-identical.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot_product(a, b)

  /** Builtin-only composition (reference implementation for the spec). */
  def dotBuiltin(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def asDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** (id, vec, norm) with vec cast to double and L2 norm precomputed. */
  def withNorm(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = asDouble(col(vecCol))
    df.select(col(idCol).as("id"), v.as("vec"))
      .withColumn("norm", sqrt(dot(col("vec"), col("vec"))))
  }

  def cosine(va: Column, vb: Column, na: Column, nb: Column): Column =
    round(dot(va, vb) / (na * nb), 6)

  /** L2-normalized copy of a double vector (zero vectors pass through).
    * CAUTION (composition): the norm here is an expression referenced
    * inside the `transform` lambda — a higher-order lambda re-evaluates
    * outer NON-ATTRIBUTE references per element, so feed this a column
    * that is (or will stay) a plain attribute, or use
    * `normalizeQuantize` which stages every scalar as an attribute. */
  def l2Normalize(vec: Column): Column = {
    val n = sqrt(dot(vec, vec))
    when(n === 0.0, vec).otherwise(transform(vec, x => x / n))
  }

  /** Symmetric int8 quantization scale for a vector: max|x| / 127. */
  def int8Scale(vec: Column): Column =
    array_max(transform(vec, x => abs(x))) / 127.0

  /** Symmetric int8 quantization: q_i = floor(x_i/scale + 0.5). The
    * explicit floor(+0.5) avoids engine-specific ROUND half-way modes,
    * keeping results bit-reproducible (and DuckDB-oracle exact). The
    * 4x-smaller vectors are the standard memory/IO lever for ANN
    * serving over large corpora; |x - q*scale| <= scale/2.
    */
  def int8Quantize(vec: Column, scale: Column): Column =
    when(scale === 0.0, transform(vec, _ => lit(0L)))
      .otherwise(transform(vec, x => floor(x / scale + 0.5).cast("long")))

  /** Normalize + int8-quantize as a staged whole-table op:
    * (id, vn, sc, q). Each scalar (norm, scale) is materialized as an
    * ATTRIBUTE in its own projection before any lambda references it —
    * an outer expression inside a higher-order-function lambda is
    * re-evaluated per array element (measured 7.4s → 0.6s at sf0.1 on
    * 64-dim vectors), and each projection keeps ≥2 references to the
    * expensive alias so CollapseProject cannot inline it back into the
    * lambda. Still fully map-side: four stacked projections, one pass,
    * no shuffle.
    */
  def normalizeQuantize(df: DataFrame, idCol: String, vecCol: String)
      : DataFrame =
    df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("vec"))
      .select(col("id"), col("vec"),
        sqrt(dot(col("vec"), col("vec"))).as("norm"))
      .select(col("id"),
        when(col("norm") === 0.0, col("vec"))
          .otherwise(transform(col("vec"), x => x / col("norm"))).as("vn"))
      .select(col("id"), col("vn"),
        (array_max(transform(col("vn"), x => abs(x))) / 127.0).as("sc"))
      .select(col("id"), col("vn"), col("sc"),
        int8Quantize(col("vn"), col("sc")).as("q"))

  /** Exact top-k neighbors for each query id (queries × corpus — use for
    * small query sets or as the per-bucket step after LSH).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int)
      : DataFrame = {
    // query side is the small side by construction — broadcast it so the
    // corpus streams once with no shuffle
    val q = broadcast(queries).as("q"); val c = corpus.as("c")
    val scored = q.join(c, col("q.id") =!= col("c.id"))
      .select(col("q.id").as("q_id"), col("c.id").as("vec_id"),
        cosine(col("q.vec"), col("c.vec"), col("q.norm"), col("c.norm"))
          .as("cos"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "vec_id", "cos")
  }

  /** IVF (inverted-file) index: a deterministic coarse quantizer (the
    * centroid subset), each corpus vector assigned to its nearest
    * centroid — the inverted lists. Assignment is a broadcast of the
    * centroid set against the streamed corpus: the standard IVF build
    * shape, linear in |corpus| × |centroids| with no shuffle of the
    * corpus.
    */
  def ivfAssign(corpus: DataFrame, centroidFilter: Column): DataFrame =
    ivfAssignTo(corpus, corpus.filter(centroidFilter))

  /** [[ivfAssign]] against an EXPLICIT centroid table `(id, vec,
    * norm)` — the incremental path: a new batch must be assigned to
    * the same centroids the index was built with, which a filter over
    * the batch alone cannot produce.
    */
  def ivfAssignTo(corpus: DataFrame, centroids: DataFrame,
      keepScore: Boolean = false): DataFrame = {
    val cents = broadcast(centroids.select(
      col("id").as("cid"), col("vec").as("cvec"), col("norm").as("cnorm")))
    val w = Window.partitionBy("id")
      .orderBy(col("ccos").desc, col("cid"))
    val out = Seq(col("id"), col("vec"), col("norm"), col("cid")) ++
      (if (keepScore) Seq(col("ccos")) else Nil)
    corpus.join(cents)
      .withColumn("ccos",
        cosine(col("vec"), col("cvec"), col("norm"), col("cnorm")))
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") === 1)
      .select(out: _*)
  }

  /** One deterministic Lloyd (k-means) iteration over the cosine
    * quantizer — the centroid-TRAINING step the IVF family's
    * deterministic seed centroids feed into: assign every corpus
    * vector to its nearest current centroid ([[ivfAssignTo]] — max
    * rounded cosine, min-cid tie-break), then recompute each
    * centroid as the per-dimension mean of its members. Iterate by
    * feeding the output back as the next centroid table.
    *
    * Engine-exact: per-dimension sums accumulate in DECIMAL(38,12)
    * (double accumulation is partition-order-dependent), the mean is
    * one decimal division, and only the final value rounds to double
    * — so the same iteration is reproducible across engines,
    * partitionings and reruns, and the whole step has a DuckDB
    * oracle.
    *
    * 100 TB shape: assignment is a broadcast of the (bounded)
    * centroid table over the streamed corpus; the recompute is a
    * two-phase partial aggregate on (cid, dim) — k×dims result rows.
    * Returns (cid, dim, n_members, c_mean).
    */
  def kmeansStep(corpus: DataFrame, centroids: DataFrame): DataFrame =
    ivfAssignTo(corpus, centroids)
      .select(col("cid"), posexplode(col("vec")).as(Seq("dim", "x")))
      .groupBy("cid", "dim")
      .agg(count(lit(1)).as("n_members"),
        sum(col("x").cast("decimal(38,12)")).as("__s"))
      .select(col("cid"), col("dim").cast("long").as("dim"),
        col("n_members"),
        round((col("__s") / col("n_members")).cast("double"), 6)
          .as("c_mean"))

  /** Lloyd's k-means: iterate [[kmeansStep]], reassembling each
    * round's per-dimension means into the next centroid table.
    * Initialization is the deterministic id-subset quantizer (the
    * IVF seed), so the whole training run is reproducible. Each round
    * is one assignment + one aggregate; `localCheckpoint` breaks the
    * per-round lineage growth (MLlib's iterative discipline, as in
    * [[DedupOps.dupClusters]]).
    *
    * Returns the final centroid table (id=cid, vec, norm) — feed
    * straight into [[ivfAssignTo]] / [[IvfIndex]] as the trained
    * quantizer.
    */
  def kmeansTrain(corpus: DataFrame, initFilter: Column, iters: Int)
      : DataFrame = {
    import org.apache.spark.sql.graftbridge.SparkInternals
    require(iters >= 0, s"negative iters: $iters")
    var cents = corpus.filter(initFilter).select("id", "vec", "norm")
    var prev: Option[DataFrame] = None
    (1 to iters).foreach { _ =>
      val vecs = kmeansStep(corpus, cents)
        .groupBy("cid")
        .agg(sort_array(collect_list(struct(col("dim"), col("c_mean"))))
          .as("__kv"))
        .select(col("cid").as("id"),
          transform(col("__kv"), _.getField("c_mean")).as("vec"))
        .withColumn("norm", sqrt(dot(col("vec"), col("vec"))))
      val mat = vecs.localCheckpoint()
      prev.foreach(SparkInternals.unpersistCheckpoint)
      prev = Some(mat)
      cents = mat
    }
    cents
  }

  /** IVF top-k: rank centroids per query, probe the nProbe nearest
    * inverted lists, exact-search only those lists. Trades recall for a
    * |corpus|/|centroids|·nProbe-fold reduction in scored pairs.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
      centroidFilter: Column, nProbe: Int, k: Int): DataFrame = {
    val assigned = ivfAssign(corpus, centroidFilter)
    val cents = broadcast(corpus.filter(centroidFilter).select(
      col("id").as("cid"), col("vec").as("cvec"), col("norm").as("cnorm")))
    val wp = Window.partitionBy("q_id")
      .orderBy(col("pcos").desc, col("cid"))
    val probes = queries.select(col("id").as("q_id"), col("vec").as("qvec"),
        col("norm").as("qnorm"))
      .join(cents)
      .withColumn("pcos",
        cosine(col("qvec"), col("cvec"), col("qnorm"), col("cnorm")))
      .withColumn("prank", row_number().over(wp))
      .filter(col("prank") <= nProbe)
      .select("q_id", "qvec", "qnorm", "cid")
    val wk = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("vec_id"))
    probes.join(assigned, Seq("cid"))
      .filter(col("id") =!= col("q_id"))
      .select(col("q_id"), col("id").as("vec_id"),
        cosine(col("qvec"), col("vec"), col("qnorm"), col("norm")).as("cos"))
      .withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "vec_id", "cos")
  }

  /** Deterministic ±1 hyperplanes (fixed seed), used by both the Spark
    * plan and the generated oracle SQL. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** Sign-bit LSH bucket ids, banded: bit per plane, `planesPerBand`
    * bits concatenated into a band key; returns a slim (id, band_id,
    * bucket) table — candidates are pairs sharing any (band_id, bucket).
    *
    * Computed by ONE looped [[graft.functions.SignBands]] expression:
    * the former per-plane `when(dot(...) >= 0, ...)` composition
    * unrolled a fused loop per plane into the whole-stage-codegen
    * method, whose bytecode crossed the JIT compile ceiling between 24
    * and 48 planes — a measured 43× interpreted-execution cliff
    * landing exactly on the corpora (≥ ~16M vectors) whose
    * [[LshConfig.forCorpusSize]] width needs ≥ 48 planes. Bit-parity
    * with the composition (incl. null/ragged/NaN edges) is pinned by
    * SignBandsSpec against [[lshBandsComposed]].
    */
  def lshBands(df: DataFrame, planes: Seq[Seq[Double]], planesPerBand: Int,
      keep: Seq[String] = Nil): DataFrame =
    df.select(col("id") +: keep.map(col) :+
      posexplode(graft.functions.SignBands.sign_bands(
        col("vec"), planes, planesPerBand))
        .as(Seq("band_id", "bucket")): _*)

  /** The pre-r8 builtin composition of [[lshBands]] — retained as the
    * reference implementation its spec compares the looped expression
    * against (same role as [[dotBuiltin]] for [[dot]]). Do not use on
    * wide plane sets: see the cliff note on [[lshBands]].
    */
  private[graft] def lshBandsComposed(df: DataFrame,
      planes: Seq[Seq[Double]], planesPerBand: Int): DataFrame = {
    val bits: Seq[Column] = planes.map { p =>
      val pv = array(p.map(lit(_)): _*)
      when(dot(col("vec"), pv) >= 0, lit(1)).otherwise(lit(0))
    }
    val bands = bits.grouped(planesPerBand).toSeq.map(g =>
      concat(g.map(_.cast("string")): _*))
    df.select(col("id"),
      posexplode(array(bands: _*)).as(Seq("band_id", "bucket")))
  }

  /** Explicit bucket-occupancy diagnostic for the banded join: one row
    * per live (band_id, bucket) with its row count `n` — bounded by
    * bands × 2^planesPerBand rows. Run this (or aggregate it further)
    * when deciding whether a corpus has outgrown its key space; the
    * production sizing path is [[LshConfig.forCorpusSize]], and
    * [[lshNearDupPairs]] skips buckets over its cap silently.
    */
  def lshBucketStats(df: DataFrame, planes: Seq[Seq[Double]],
      planesPerBand: Int): DataFrame =
    lshBands(df, planes, planesPerBand)
      .groupBy("band_id", "bucket").agg(count(lit(1)).as("n"))

  /** Estimated hottest (band_id, bucket) size from a DETERMINISTIC
    * hash sample — the skew signal the expected-occupancy estimate
    * cannot have (a template-duplicated corpus concentrates one bucket
    * per band far past expectation). Sampling is by `xxhash64(id)`
    * (salted, disjoint from every banding/bucketing hash in the
    * family), so the estimate is reproducible; the sample rate is
    * `min(1, sampleRows / corpusCount)`, which bounds the probe's
    * work at ~`sampleRows · nBands` banded rows regardless of corpus
    * size — one cheap aggregate, scaled back up by 1/rate. A bucket
    * of s rows samples Binomial(s, rate), so for buckets anywhere
    * near a chunking decision (thousands of rows at default rates)
    * the estimate concentrates tightly; tiny buckets are noisy and
    * irrelevant. Corpora at or under `sampleRows` probe exactly
    * (rate 1).
    */
  def estimatedTopBucket(df: DataFrame, planes: Seq[Seq[Double]],
      planesPerBand: Int, corpusCount: Long,
      sampleRows: Long = LshConfig.ShapeProbeRows): Double = {
    require(corpusCount >= 0, s"corpusCount must be >= 0: $corpusCount")
    require(sampleRows > 0, s"sampleRows must be positive: $sampleRows")
    val denom = 1000000L
    val num = math.min(denom, math.max(1L,
      math.round(sampleRows.toDouble /
        math.max(1L, corpusCount) * denom)))
    val rate = num.toDouble / denom
    val sampled =
      if (num >= denom) df
      else df.filter(
        pmod(xxhash64(col("id"), lit(0x51575157L)), lit(denom)) <
          lit(num))
    // the FIRST band only: the skew this probe hunts (a template-
    // duplicated corpus) concentrates its hot bucket in EVERY band, so
    // one band carries the signal at 1/nBands of the banding work and
    // a slimmer aggregate; for skew-free corpora band 0's top sits
    // slightly under the max over all bands — an underestimate that
    // errs toward the fast shape, safely inside the cutover's margin
    // (the cutover is 4 chunks; the measured window-wins regime starts
    // far past that)
    val top = lshBands(sampled, planes.take(planesPerBand),
        planesPerBand)
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head()
    if (top.isNullAt(0)) 0.0 else top.getLong(0).toDouble / rate
  }

  /** Memoized [[estimatedTopBucket]] results (ADVICE r9): the probe is
    * one small Spark action but runs at DataFrame-CONSTRUCTION time,
    * so a hot caller re-building the same plan re-pays it on every
    * rebuild. Keyed by the input's canonicalized logical-plan hash +
    * the probe parameters; per-JVM. Staleness caveat, stated: a
    * source whose FILES change under an identical plan (a corpus
    * appended in place and re-read by path) keeps the old estimate
    * for the JVM's lifetime — the estimate only picks a task LAYOUT
    * (fast vs window), never affects the emitted pair set, and
    * callers in that regime can pass `autoShapeProbe = false` and
    * choose the shape themselves.
    */
  private val probeCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Int, Long), Double]
  // bound for long-lived sessions (ADVICE r10): the cache only saves a
  // small probe action, so wholesale eviction on overflow is fine
  private val ProbeCacheMax = 256

  private[pipeline] def cachedTopBucket(df: DataFrame,
      planes: Seq[Seq[Double]], planesPerBand: Int,
      corpusCount: Long): Double = {
    // full digest of the canonicalized plan, not the 32-bit
    // semanticHash (ADVICE r10): a semanticHash collision between two
    // different corpora would silently reuse the wrong top-bucket
    // estimate. The string walk is one driver-side pass per
    // construction — still far cheaper than the Spark action it
    // memoizes (probe inputs are corpus scans, not literal trees).
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(df.queryExecution.logical.canonicalized.toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    if (probeCache.size >= ProbeCacheMax) probeCache.clear()
    probeCache.getOrElseUpdate(
      (digest, planes.hashCode, planesPerBand, corpusCount),
      estimatedTopBucket(df, planes, planesPerBand, corpusCount))
  }

  /** Saturation fail-fast shared by both pair generators. Occupancy is
    * computed directly from the band widths — not via an [[LshConfig]]
    * constructor — so ragged plane sets (`planes.size` not a multiple
    * of `planesPerBand`, which [[lshBands]] supports via its grouped
    * final band) arm the check without tripping the config's
    * multiple-of invariant. The binding check is at the NARROWEST band
    * width: a ragged final band has FEWER bits → fewer buckets →
    * HIGHER occupancy, so gating only on the full width would err LAX
    * for ragged sets (a 1-bit leftover band puts the whole corpus in
    * two n/2-row buckets the full-width estimate never sees — a
    * straggler stage plus a silent recall hole when `maxBucketSize`
    * then drops them).
    *
    * `chunked = true` (the grouped rank-chunked loop) admits over-cap
    * occupancy exactly when even the NARROWEST band is at
    * `LshConfig.MaxBits`: no wider band space exists to widen INTO,
    * and the chunked loop bounds per-task work linearly — that is the
    * coded >MaxBits growth path ([[LshConfig.MaxBits]]). A ragged set
    * whose leftover band saturates is NOT admitted — the remedy there
    * is dropping/widening the ragged band, and the error names it.
    * The unchunked join form stays strict everywhere because its
    * in-bucket work is quadratic.
    */
  private def requireUnsaturated(op: String, n: Long, nPlanes: Int,
      planesPerBand: Int, chunked: Boolean): Unit = {
    require(planesPerBand > 0 && planesPerBand <= 62,
      s"planesPerBand must be in 1..62, got $planesPerBand")
    val rem = nPlanes % planesPerBand
    val minWidth = if (rem == 0) planesPerBand else rem
    val occ = n.toDouble / (1L << minWidth).toDouble
    val atCeiling = minWidth >= LshConfig.MaxBits
    // candidate estimate summed over the ACTUAL band widths
    val widths = Seq.fill(nPlanes / planesPerBand)(planesPerBand) ++
      (if (rem > 0) Seq(rem) else Nil)
    val expPairs = widths.map(w =>
      n.toDouble * n.toDouble / (2.0 * (1L << w).toDouble)).sum
    require(occ <= LshConfig.MaxExpectedBucketRows.toDouble ||
        (chunked && atCeiling),
      f"$op: band space saturated — $minWidth-bit " +
        (if (rem > 0) "(ragged final) " else "") +
        f"bands expect $occ%.0f rows/bucket for a $n-vector corpus " +
        f"(cap ${LshConfig.MaxExpectedBucketRows}, ~$expPairs%.3g " +
        "candidate pairs); widen the key space (LshConfig.forCorpusSize" +
        (if (rem > 0) "; or drop/widen the ragged final band" else "") +
        ")" +
        (if (chunked) "" else
          " or use the rank-chunked lshNearDupPairsGrouped") +
        " instead of running a quadratic join")
  }

  /** Near-duplicate pairs: LSH-banded candidates verified by exact
    * cosine >= threshold. The verification runs INSIDE the bucket
    * self-join — vectors ride on the banded rows (nBands-fold payload
    * replication of the corpus: bounded, linear) and the cosine +
    * threshold filter apply in the join's streamed output, so only
    * PASSING pairs ever reach a downstream shuffle (the cross-band
    * distinct). The alternative — dedup slim (i,j) pairs first, then
    * join vectors back — costs two candidate-cardinality shuffles
    * carrying vector payloads: at a 200k corpus that is ~200M pairs ×
    * 2 × 520-byte vectors ≈ 100+ GB of sort spill (the measured
    * round-6 disk-filling death), to save a ≤ nBands-fold (measured
    * 1.27×) redundancy in dot products. Dot products are codegen'd
    * arithmetic inside the join loop; candidate-scale SHUFFLES are
    * the thing that cannot scale.
    *
    * `maxBucketSize` is the skew backstop: a degenerate bucket of s
    * rows contributes s²/2 candidate pairs, so one hot bucket (a
    * template-duplicated corpus, or a band space too narrow for the
    * corpus — the [[LshConfig]] contract) can quadratically spill
    * the join. Oversized buckets are SKIPPED (standard LSH practice;
    * near-dups inside them go unpaired — the remedy for systematic
    * saturation is wider planes/bands, not a bigger cap). The skip is
    * a lazy single-pass window over the SAME (band_id, bucket) hash
    * partitioning the self-join requires, so per join side the guard
    * adds NO extra exchange — it rides the join's own shuffle
    * (audited in the executed plan: Exchange → Window → Filter feeds
    * the join directly, ENSURE_REQUIREMENTS satisfied) — and plan
    * construction runs no Spark action (ADVICE r5: the former eager
    * `sizes.head()` guard both doubled the pipeline and made
    * construction non-lazy). The two join SIDES each shuffle the
    * banded table once; AQE's stage reuse did not deduplicate the
    * identical subtrees in the audited sf0.01 final plan, so the
    * banding+shuffle cost is honestly 2× — both linear in
    * nBands·corpus, and included in the measured 100× numbers.
    * Skipped buckets
    * are a silent recall deduction by design; [[lshBucketStats]] is
    * the explicit diagnostic when occupancy needs eyes on it. The
    * default cap never triggers at driver scale factors, so oracle
    * parity is untouched.
    *
    * `corpusCount`, when the caller already knows it, arms the
    * SATURATION fail-fast: if the uniform-hash occupancy estimate
    * `n / 2^bits` exceeds [[LshConfig.MaxExpectedBucketRows]], the
    * band space is too narrow for the corpus and the join blows up
    * quadratically per bucket (the measured 200k-vector/6-bit death, SCALE.md
    * round-5d) — die here with the remedy named instead of filling
    * the disk. Occupancy, not total candidates, is the right gate:
    * a PROPERLY sized space keeps buckets ~constant while candidates
    * still grow linearly with the corpus (which is healthy). Pure
    * arithmetic: no action, laziness preserved.
    *
    * ENTRY-POINT GUIDANCE: prefer [[lshNearDupPairsGrouped]] — it is
    * the canonical production shape (single banding pass, rank-chunked
    * per-bucket tasks, and a saturation gate that stays runnable at
    * the [[LshConfig.MaxBits]] ceiling). THIS join form is retained as
    * the SQL-plannable reference the DuckDB oracle restates, and it
    * honestly pays the 2× banding+shuffle of its two identical join
    * sides (AQE stage reuse does not deduplicate them); its unchunked
    * in-bucket work is quadratic, so its gate stays strict everywhere.
    */
  def lshNearDupPairs(df: DataFrame, planes: Seq[Seq[Double]],
      planesPerBand: Int, threshold: Double,
      maxBucketSize: Int = 100000,
      corpusCount: Option[Long] = None): DataFrame = {
    require(maxBucketSize > 0,
      s"maxBucketSize must be positive, got $maxBucketSize")
    corpusCount.foreach { n =>
      requireUnsaturated("lshNearDupPairs", n, planes.size, planesPerBand,
        chunked = false)
    }
    // vectors ride the banded rows: the bucket join IS the verify step
    val banded0 = lshBands(df, planes, planesPerBand,
      keep = Seq("vec", "norm"))
    // lazy single-pass skew guard: bucket size via a window over the
    // SAME (band_id, bucket) hash partitioning the self-join requires,
    // so the guard rides each side's join shuffle with no extra
    // exchange (the former eager sizes.head() guard doubled the
    // pipeline and made construction non-lazy, ADVICE r5)
    val wb = Window.partitionBy("band_id", "bucket")
    val banded = banded0
      .withColumn("__bn", count(lit(1)).over(wb))
      .filter(col("__bn") <= maxBucketSize)
      .drop("__bn")
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b, col("a.band_id") === col("b.band_id") &&
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"),
        cosine(col("a.vec"), col("b.vec"),
          col("a.norm"), col("b.norm")).as("cos"))
      .filter(col("cos") >= threshold)
      // cross-band dedup AFTER the threshold: only passing pairs (a
      // near-dup-bounded set, not the candidate set) shuffle here; cos
      // is deterministic per (i, j), so the 3-column distinct is a
      // pair distinct
      .distinct()
  }

  /** The CANONICAL near-dup pair generator (one banding pass instead
    * of the join form's two) with a rank-chunked, bounded-task pair
    * loop: the banded table (vectors riding, nBands-fold) is ranked
    * within each (band_id, bucket) by a deterministic projection (one
    * extra hyperplane from a seed disjoint from the banding planes,
    * id tiebreak), cut into rank chunks of `chunkSize`, and each row
    * exploded to chunk keys {c, c+1}; groups form on (band_id,
    * bucket, chunk key), so a group holds members of TWO adjacent
    * chunks — ≤ 2·chunkSize rows — and the i<j pair loop + exact
    * cosine verify run inside `flatMapGroups` over that bounded set.
    * A pair is emitted in exactly one group (the
    * `ck == max(chunk_a, chunk_b)` rule, the [[semanticDupPairs]]
    * chunk-pair dedup as a loop predicate), and the cross-band
    * `distinct` dedups bands exactly as before.
    *
    * WHY (the 100 TB straggler bound, round-6 verdict): the former
    * single-group loop processed any bucket under `maxBucketSize` as
    * ONE task — a 90k-row template bucket is ~4×10⁹ dot products on
    * one core while the rest idle. Chunked, that bucket is ~23 chunk
    * groups of ≤ 1.5·chunkSize² pairs each — many bounded tasks. Work
    * per bucket drops from s²/2 to ≤ 2·s·chunkSize pairs (linear in
    * s), which also makes over-cap OCCUPANCY runnable: past
    * [[LshConfig.MaxBits]] there is no wider band space to size into,
    * so the saturation gate here admits it (the join form's cannot).
    * Near-dups at the threshold have near-identical projections,
    * hence near ranks: a pair is missed only when ≥ chunkSize other
    * bucket members rank strictly between them — and for DEDUP
    * consumption (connected components / keep-canonical) adjacent-rank
    * pairs still chain the whole duplicate set into one cluster, so
    * cluster membership survives chunking even when far-rank pairs
    * are dropped. `chunkSize` defaults to 8× the expected-occupancy
    * target ([[LshConfig.DefaultChunkRows]]), so a properly-sized
    * corpus NEVER chunks: single-chunk buckets emit every pair under
    * the ck=max rule in their c=0 group, bit-identical to the
    * unchunked loop (LshConfigSpec pins grouped == join parity at
    * driver SFs).
    *
    * CHAINING CAVEAT, stated honestly and MEASURED: the
    * cluster-membership claim above holds for DENSE duplicate clusters
    * (template corpora, the dedup hot case) where the rows ranked
    * between two members are themselves members and chain them
    * transitively. A SPARSE pair — two near-dups with ≥ chunkSize
    * unrelated bucket rows ranked strictly between them (one scalar
    * projection gives no tight rank bound at moderate thresholds) —
    * has no chaining path under that ranking and is missed. The
    * mitigation is `chunkRankings` INDEPENDENT rankings (default 2,
    * the historical `dualChunkProjections`; max bounded by
    * [[SimilarityOps.ChunkSeeds]]), each paid only inside buckets
    * that actually chunk, under which the same unrelated interlopers
    * land elsewhere — miss probabilities MULTIPLY once per ranking
    * instead of adding. Measured (RecallFloorSpec, buckets at 28×
    * chunkSize — far past anything the MaxBits ceiling produces):
    * single-ranking pair recall 0.543 vs unchunked ground truth, dual
    * 0.793, TRIPLE 0.924 — the dual miss 0.207 ≈ 0.457² and the
    * triple miss 0.076 ≤ 0.457³ validate the independence model twice
    * over. In-regime cost at the 100× over-cap shape: dual 1.7×
    * single, triple 1.36× dual (SCALE.md r10); a HEALTHY
    * (non-chunking) corpus pays nothing measurable for any K
    * (in-session min-of-3 A/B: 5.9/6.2/5.7 s single/dual/triple,
    * identical pair sets — SCALE.md "Retired experiment mains").
    * Properly sized corpora never enter this regime (buckets stay
    * under chunkSize); callers
    * running over-cap occupancy at the MaxBits ceiling choose their
    * residual miss rate: the default dual's 0.207, or 0.076 with
    * `chunkRankings = 3` at +36% in-regime wall.
    *
    * `maxBucketSize` keeps the join form's skip semantics (buckets
    * above it are dropped entirely) — with chunking it is an OUTPUT
    * bound, not a compute bound: a skipped mega-bucket is one whose
    * ~2·s·chunkSize emitted pairs the caller does not want to pay
    * for. Cost of chunking: one extra exchange (the rank window
    * partitions by (band_id, bucket); the group key adds the chunk) —
    * two shuffles of the banded table, same count as the join form,
    * but with NO second banding pass and no candidate-scale sort.
    * Three further costs are engineered away rather than paid (the
    * measured r7 overheads: 1.48× at sf0.1, 55.8s vs 41.0s at the
    * 100× bench): the chunk projection is computed ONCE per vector
    * BEFORE banding (banding replicates rows nBands-fold — computing
    * it after would redo the dot product per copy); the explode is
    * CONDITIONAL — a bucket's top chunk (hence every single-chunk
    * bucket) gets exactly one copy, because its {c+1} group would
    * hold only rows of chunk c and the `ck == max` rule emits nothing
    * there; and above all the OCCUPANCY-GATED FAST PATH (see the
    * inline note at the gate) drops the rank window + explode
    * entirely while expected occupancy × [[LshConfig.FastPathHeadroom]]
    * stays ≤ chunkSize — a surprise hot bucket then chunks by the
    * same (projection, id) rank IN-TASK, so the emitted set is
    * bit-identical to the window path on any data; only task
    * granularity differs. The inner loop sums the dot product in
    * index order with the same 6-dp HALF_UP rounding as the
    * [[cosine]] Column, so pair sets and cosines match the join form
    * exactly wherever chunking does not bind.
    *
    * The chunk plane is drawn from a seed disjoint from the banding
    * planes'; at SMALL dim the ±1 plane can still coincide with a
    * banding plane, which only weakens rank discrimination inside a
    * bucket (ties fall to the deterministic id tiebreak — correct,
    * just less spread).
    */
  def lshNearDupPairsGrouped(df: DataFrame, planes: Seq[Seq[Double]],
      planesPerBand: Int, threshold: Double,
      maxBucketSize: Int = 100000,
      corpusCount: Option[Long] = None,
      chunkSize: Int = LshConfig.DefaultChunkRows,
      assumeTemplateSkew: Boolean = false,
      dualChunkProjections: Boolean = true,
      autoShapeProbe: Boolean = true,
      chunkRankings: Int = 2)
      : DataFrame = {
    require(maxBucketSize > 0,
      s"maxBucketSize must be positive, got $maxBucketSize")
    require(chunkSize > 1, s"chunkSize must be > 1, got $chunkSize")
    // effective independent chunk rankings: dualChunkProjections=false
    // forces 1 (the historical single-ranking switch); otherwise
    // chunkRankings (2 = the measured default; 3 squares the residual
    // miss again for over-cap callers — see SCALE.md r10 for the A/B)
    val nRank =
      if (!dualChunkProjections) 1
      else {
        require(chunkRankings >= 1 &&
            chunkRankings <= SimilarityOps.ChunkSeeds.size,
          s"chunkRankings must be in [1, ${SimilarityOps.ChunkSeeds.size}]" +
            s", got $chunkRankings")
        chunkRankings
      }
    require(planes.nonEmpty,
      "lshNearDupPairsGrouped needs at least one hyperplane — " +
        "LshConfig.forCorpusSize sizes a plane set")
    corpusCount.foreach { n =>
      requireUnsaturated("lshNearDupPairsGrouped", n, planes.size,
        planesPerBand, chunked = true)
    }
    val spark = df.sparkSession
    import spark.implicits._
    // deterministic chunk-rank direction: a single extra hyperplane
    // from a seed disjoint from the banding planes' (near-identical
    // vectors project near-identically, so near-dups land in the same
    // or adjacent rank chunks); normalized so the ordering is scale-free
    val dim = planes.head.size
    // nRank INDEPENDENT chunk rankings (each its own disjoint seed): a
    // sparse pair missed because ≥ chunkSize unrelated bucket rows
    // rank between its members under ONE scalar projection is
    // recovered unless the same rows also crowd between them under
    // EVERY ranking — for unrelated interlopers the events are
    // near-independent, so the miss probability multiplies once per
    // ranking instead of adding (measured on the adversarial
    // seeded-bucket corpus, RecallFloorSpec / SCALE.md r9-r10).
    // Computed and paid ONLY where chunking can bind: single-chunk
    // buckets never emit pass-k>0 copies, so a properly-sized corpus
    // pays nRank-1 extra projection doubles per row and nothing else.
    val chunkPlanes = SimilarityOps.ChunkSeeds.take(nRank)
      .map(s => hyperplanes(1, dim, seed = s).head)
    val wb = Window.partitionBy("band_id", "bucket")
    // chunk projections computed ONCE per vector, BEFORE the
    // nBands-fold banding replication, and carried through `keep`
    // `+ 0.0` collapses IEEE -0.0 to 0.0: the fast path's in-task sort
    // (Ordering[Double]: -0.0 < 0.0) and the window path's Spark sort
    // (SortOrder: -0.0 == 0.0, id breaks the tie) must rank a
    // zero-projection tie identically, or chunk membership — and the
    // emitted pair set — could diverge at a chunk boundary
    def bandedProj = lshBands(
      df.withColumn("__projs", array(chunkPlanes.map { p =>
        dot(col("vec"), array(p.map(lit(_)): _*)) / col("norm") + lit(0d)
      }: _*)),
      planes, planesPerBand, keep = Seq("vec", "norm", "__projs"))
    // FAST PATH (the measured-default shape): when the caller-supplied
    // corpus count says expected occupancy stays ≤ chunkSize /
    // FastPathHeadroom, skip the rank WINDOW and the explode entirely
    // and group once per (band, bucket) — the window's per-partition
    // sort of the whole banded table (8M rows at the 100× bench) was
    // pure overhead when no bucket can chunk. Chunk semantics do NOT
    // change: a surprise hot bucket (skew the estimate cannot see)
    // sorts by the SAME (projection, id) rank in-task and pairs only
    // same/adjacent chunks — output is bit-identical to the window
    // path on any data (spec-pinned), work stays linear in bucket
    // size; the single concession is task granularity (one task per
    // hot bucket instead of one per chunk), which is why the path is
    // GATED on occupancy rather than unconditional: corpora whose
    // expected occupancy approaches chunkSize — including everything
    // past the MaxBits ceiling — keep the many-bounded-tasks window
    // shape. corpusCount = None keeps the window path (no estimate,
    // no shortcut).
    // `assumeTemplateSkew` is the caller's a-priori skew knowledge: a
    // corpus with a heavily duplicated template concentrates one
    // bucket per band far past expectation, and there the window
    // shape's many chunk-tasks beat the fast path's
    // one-task-per-hot-bucket (measured 1.38× on a 17%-template
    // corpus, SCALE.md r8d and "Retired experiment mains"). Passing it
    // keeps the saturation gate armed via corpusCount. Since r9 the
    // DEFAULT discovers the same skew from the data (the sampled
    // probe below), so the knob is an override for callers who know —
    // or need the probe's Spark action not to run.
    val rem = planes.size % planesPerBand
    val minBits = if (rem == 0) planesPerBand else rem
    val occupancyFast = !assumeTemplateSkew && corpusCount.exists(n =>
      n.toDouble / (1L << math.min(minBits, 62)).toDouble *
        LshConfig.FastPathHeadroom <= chunkSize.toDouble)
    // AUTO shape selection (round-9 verdict): when the occupancy gate
    // says fast, a sampled top-bucket probe ([[estimatedTopBucket]])
    // looks for the skew the expectation cannot see; a hottest bucket
    // past SkewCutoverChunks × chunkSize flips to the window shape —
    // its one-task-per-chunk layout beats the fast path's
    // one-task-per-hot-bucket exactly there (measured: window 4.5 s
    // vs fast 7.8 s on the template-skew corpus, SCALE.md "Retired
    // experiment mains"; probe ≪ 5% of query time). The probe is ONE
    // small Spark action, run only on this gate-fast branch —
    // `autoShapeProbe = false` restores the action-free construction
    // (and is how a caller FORCES the fast shape, e.g. for parity
    // testing); `assumeTemplateSkew = true` remains the probe-free
    // window override.
    // exactness shortcut, not a heuristic: a bucket cannot hold more
    // rows than the corpus, so when corpusCount itself sits under the
    // cutover NO probe outcome could flip the decision — skip the
    // probe's Spark action entirely (small corpora keep action-free
    // fast-path construction and pay nothing)
    val probeCouldFlip = corpusCount.exists(
      _ >= LshConfig.SkewCutoverChunks * chunkSize)
    val fastPath = occupancyFast && (!autoShapeProbe || !probeCouldFlip ||
      cachedTopBucket(df, planes, planesPerBand, corpusCount.get) <
        LshConfig.SkewCutoverChunks * chunkSize)
    val pairs =
      if (fastPath) {
        // the fast path carries NO window at all: the maxBucketSize
        // skip runs IN-TASK instead (bounded materialization below),
        // because even the unordered count window forces its own
        // Exchange + Sort of the whole vector-carrying banded table
        // (audited plan, PLANS.md r8) — in-task skipping halves the
        // banded shuffle traffic while the memory bound stays exactly
        // maxBucketSize rows
        bandedProj
          .select(col("band_id"), col("bucket"), col("id"),
            col("vec"), col("norm"), col("__projs"))
          .as[(Int, String, Long, Array[Double], Double, Array[Double])]
          .groupByKey(r => (r._1, r._2))
          .flatMapGroups { (_, it) =>
            // collect at most maxBucketSize + 1 rows: an over-cap
            // bucket is SKIPPED (same semantics as the window filter)
            // without ever materializing past the bound
            val buf = new scala.collection.mutable.ArrayBuffer[
              (Int, String, Long, Array[Double], Double, Array[Double])](
              64)
            var over = false
            while (it.hasNext && !over) {
              buf += it.next()
              if (buf.length > maxBucketSize) over = true
            }
            val rows = if (over) Array.empty[(Int, String, Long,
              Array[Double], Double, Array[Double])] else buf.toArray
            if (rows.length < 2) Iterator.empty
            else if (rows.length <= chunkSize) {
              // single-chunk bucket: every pair, identical to the
              // window path's lone c = 0 group
              java.util.Arrays.sort(rows, Ordering.by((r: (Int, String,
                Long, Array[Double], Double, Array[Double])) => r._3))
              val n = rows.length
              Iterator.range(0, n).flatMap { a =>
                val ra = rows(a)
                Iterator.range(a + 1, n).flatMap { b =>
                  val rb = rows(b)
                  emitPair(ra._3, ra._4, ra._5, rb._3, rb._4, rb._5,
                    threshold)
                }
              }
            } else {
              // in-task chunking: the same (projection, id) rank and
              // adjacent-chunk rule as the window path, so the emitted
              // set is identical — work ≤ 2·s·chunkSize pairs per pass
              def chunkLoop(sorted: Array[(Int, String, Long,
                  Array[Double], Double, Array[Double])])
                  : Iterator[(Long, Long, Double)] = {
                val n = sorted.length
                Iterator.range(0, n).flatMap { a =>
                  val ra = sorted(a); val ca = a / chunkSize
                  Iterator.range(a + 1,
                      math.min(n, (ca + 2) * chunkSize)).flatMap { b =>
                    val rb = sorted(b)
                    val ia = ra._3; val ib = rb._3
                    emitPair(math.min(ia, ib),
                      if (ia <= ib) ra._4 else rb._4,
                      if (ia <= ib) ra._5 else rb._5,
                      math.max(ia, ib), if (ia <= ib) rb._4 else ra._4,
                      if (ia <= ib) rb._5 else ra._5, threshold)
                  }
                }
              }
              // one pass per ranking over the SAME rows, each cloned
              // and sorted by its own projection (the passes are lazy
              // iterators — an in-place re-sort would corrupt an
              // earlier pass); cross-pass duplicate pairs die in the
              // terminal distinct
              Iterator.range(0, nRank).flatMap { k =>
                val rk = if (k == 0) rows else rows.clone()
                java.util.Arrays.sort(rk, Ordering.by((r: (Int,
                  String, Long, Array[Double], Double,
                  Array[Double])) => (r._6(k), r._3)))
                chunkLoop(rk)
              }
            }
          }
      } else {
        val wrs = (0 until nRank).map(k =>
          wb.orderBy(col("__projs")(k), col("id")))
        val topChunk = ((col("__bn") - 1) / chunkSize).cast("int")
        // one exploded copy per (pass, chunk key): pass p's copies
        // carry the row's chunk under pass p's ranking. The explode
        // stays conditional twice over — the bucket's TOP chunk (hence
        // every single-chunk bucket) gets exactly one {c} copy per
        // pass, because its {c+1} group would hold only chunk-c rows
        // and the `ck == max` rule emits nothing there; and pass-k>0
        // copies exist ONLY for buckets that actually chunk
        // (__bn > chunkSize), so the extra rankings cost nothing
        // where chunking cannot bind
        def copies(p: Int, c: Column) =
          when(c === topChunk,
            array(struct(lit(p).as("p"), c.as("c"), c.as("ck"))))
          .otherwise(array(
            struct(lit(p).as("p"), c.as("c"), c.as("ck")),
            struct(lit(p).as("p"), c.as("c"),
              (c + 1).cast("int").as("ck"))))
        val withChunks0 = bandedProj
          // skip cap: single-pass window trick shared with the join
          // form — rides the rank window's own (band_id, bucket)
          // exchange, so the guard adds no exchange of its own here
          // (the nRank rank windows share that one exchange too: same
          // partitioning, one in-partition sort each)
          .withColumn("__bn", count(lit(1)).over(wb))
          .filter(col("__bn") <= maxBucketSize)
          .withColumn("__c0",
            ((row_number().over(wrs(0)) - 1) / chunkSize).cast("int"))
        val withCopies =
          if (nRank == 1)
            withChunks0.withColumn("__copies", copies(0, col("__c0")))
          else {
            val withCs = (1 until nRank).foldLeft(withChunks0) {
              (d, k) => d.withColumn(s"__c$k",
                ((row_number().over(wrs(k)) - 1) / chunkSize).cast("int"))
            }
            withCs.withColumn("__copies",
              when(col("__bn") <= chunkSize, copies(0, col("__c0")))
              .otherwise(concat((0 until nRank).map(k =>
                copies(k, col(s"__c$k"))): _*)))
          }
        val banded = withCopies
          .select(col("band_id"), col("bucket"), col("id"),
            col("vec"), col("norm"),
            explode(col("__copies")).as("__e"))
          .select(col("band_id"), col("bucket"), col("id"),
            col("vec"), col("norm"), col("__e.p").as("__p"),
            col("__e.c").as("__chunk"), col("__e.ck").as("__ck"))
          .as[(Int, String, Long, Array[Double], Double, Int, Int, Int)]
        banded.groupByKey(r => (r._1, r._2, r._6, r._8))
          .flatMapGroups { (key, it) =>
            val ck = key._4
            // bounded by construction: members of the pass's chunks
            // ck-1 and ck only, ≤ 2·chunkSize rows per group
            val rows = it.toArray
            if (rows.length < 2) Iterator.empty
            else {
              val n = rows.length
              // id-sorted so emitted (i, j) is (min, max) like the
              // join's a.id < b.id predicate
              java.util.Arrays.sort(rows,
                Ordering.by((r: (Int, String, Long, Array[Double],
                  Double, Int, Int, Int)) => r._3))
              Iterator.range(0, n).flatMap { a =>
                val ra = rows(a); val ca = ra._7
                Iterator.range(a + 1, n).flatMap { b =>
                  val rb = rows(b)
                  // each pair counted once per pass across its
                  // exploded copies: only the group keyed by the
                  // LATER member's chunk emits (cross-pass and
                  // cross-band duplicates die in the distinct)
                  if (math.max(ca, rb._7) != ck) Iterator.empty
                  else emitPair(ra._3, ra._4, ra._5, rb._3, rb._4,
                    rb._5, threshold)
                }
              }
            }
          }
      }
    pairs.toDF("i", "j", "cos").distinct()
  }

  /** Shared inner emit of both grouped-path pair loops: fused dot
    * product in index order with the same 6-dp HALF_UP rounding as the
    * [[cosine]] Column (threshold applied AFTER it, like the join
    * path), so every implementation is bit-identical. Caller passes
    * ids already ordered (i < j).
    */
  @inline private def emitPair(ia: Long, va: Array[Double], na: Double,
      ib: Long, vb: Array[Double], nb: Double, threshold: Double)
      : Iterator[(Long, Long, Double)] = {
    var s = 0.0
    var k = 0
    while (k < va.length) { s += va(k) * vb(k); k += 1 }
    val cos = java.math.BigDecimal.valueOf(s / (na * nb))
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue()
    if (cos >= threshold && ia != ib) Iterator.single((ia, ib, cos))
    else Iterator.empty
  }

  /** Cluster-scoped semantic dedup (the SemDeDup shape: coarse
    * semantic clustering, then pairwise cosine ONLY within a cluster).
    * Candidates come from the clustering itself — near-duplicates land
    * on the same centroid. One shuffle on cid per side; no all-pairs
    * cross join, no broadcast of anything corpus-sized.
    *
    * Pair-budget contract (the 100 TB guard): the caller keeps the
    * centroid count ∝ corpus size (k ~ √n, the same knob as IVF) so
    * clusters stay roughly constant-sized — and `maxClusterSize` is
    * the skew BACKSTOP when a degenerate cluster forms anyway. Each
    * cluster's members are ranked by centroid cosine (id tiebreak)
    * and cut into rank chunks of `maxClusterSize`; pairs are compared
    * within a chunk and across ADJACENT chunks only, so the budget is
    * provably ≤ 2·|cluster|·maxClusterSize pairs per cluster — linear
    * in the corpus, never Σ|cluster|². Near-duplicates at the
    * threshold have near-identical centroid cosines, hence adjacent
    * ranks: a pair is missed only when ≥ maxClusterSize other members
    * rank strictly between them — at exactly maxClusterSize between,
    * the two land in chunks c and c+2 and are no longer adjacent (the
    * documented SemDeDup-style approximation). Clusters at or under
    * the cap are compared exhaustively — identical output to the
    * unchunked self-join.
    *
    * NOTE (behavior contract since the cap landed): clusters larger
    * than `maxClusterSize` have far-rank pairs DROPPED — callers that
    * previously saw the exhaustive self-join on degenerate clusters
    * see fewer pairs. The sizing discipline that keeps the cap from
    * ever binding is [[centroidFilterForCorpus]] (k ∝ √n); when
    * occupancy needs eyes on it, [[semanticClusterStats]] is the
    * explicit truncation diagnostic (the truncation itself stays
    * lazy/silent by design — same contract as lshNearDupPairs'
    * bucket cap).
    *
    * `dualChunkProjections` (default on, round 9 — the same remedy
    * [[lshNearDupPairsGrouped]] measured): members of an OVER-CAP
    * cluster are additionally rank-chunked under a SECOND, independent
    * ordering (a deterministic index-hashed ±1 projection of the
    * vector, dimension-free so no plan-time dim is needed) and paired
    * under both rankings — a sparse pair is lost only when ≥
    * maxClusterSize members rank between it in BOTH orderings, so the
    * miss probability multiplies instead of adding. Pass-1 copies
    * exist only for rows of clusters past the cap: a healthy corpus
    * pays one extra projection column and nothing else; clusters at
    * or under the cap emit bit-identically to the single-ranking
    * form.
    *
    * The chunk-pair dedup is the `greatest(chunk_a, chunk_b)` key
    * rule per pass, a join-side predicate instead of a distinct
    * shuffle: a same-chunk pair co-occurs under both its keys
    * (c, c+1) and is kept only at c; an adjacent-chunk pair shares
    * exactly one key. Cross-PASS duplicates (a pair found under both
    * rankings) are removed by a terminal distinct — present only in
    * dual mode, and a no-op whenever no cluster chunks.
    */
  def semanticDupPairs(corpus: DataFrame, centroidFilter: Column,
      threshold: Double, maxClusterSize: Int = 4096,
      dualChunkProjections: Boolean = true): DataFrame = {
    require(maxClusterSize > 0,
      s"maxClusterSize must be positive, got $maxClusterSize")
    val assigned =
      ivfAssignTo(corpus, corpus.filter(centroidFilter), keepScore = true)
    val wcid = Window.partitionBy("cid")
    val w = wcid.orderBy(col("ccos").desc, col("id"))
    val chunked = assigned
      .withColumn("__chunk",
        ((row_number().over(w) - 1) / maxClusterSize).cast("int"))
    val keyed =
      if (!dualChunkProjections)
        chunked.select(col("id"), col("vec"), col("norm"), col("cid"),
          lit(0).as("__p"), col("__chunk"),
          explode(array(col("__chunk"), col("__chunk") + 1)).as("__ck"))
      else {
        // second independent in-cluster ranking: an index-hashed ±1
        // projection (locality-preserving like any fixed projection —
        // near-identical vectors project near-identically — but
        // needing no plan-time dimension); `+ 0.0` collapses -0.0 as
        // in the LSH chunk projections
        val pm = (i: Column) =>
          when(pmod(xxhash64(i, lit(7753L)), lit(2L)) === 0L, lit(1.0))
            .otherwise(lit(-1.0))
        val proj2 = aggregate(
          zip_with(col("vec"),
            transform(col("vec"), (_, i) => pm(i)), (x, s) => x * s),
          lit(0.0), (acc, x) => acc + x) / col("norm") + lit(0d)
        val w2 = wcid.orderBy(col("__proj2"), col("id"))
        chunked
          .withColumn("__proj2", proj2)
          .withColumn("__cn", count(lit(1)).over(wcid))
          .withColumn("__chunk2",
            ((row_number().over(w2) - 1) / maxClusterSize).cast("int"))
          .withColumn("__copies",
            when(col("__cn") <= maxClusterSize,
              array(
                struct(lit(0).as("p"), col("__chunk").as("c"),
                  col("__chunk").as("ck")),
                struct(lit(0).as("p"), col("__chunk").as("c"),
                  (col("__chunk") + 1).cast("int").as("ck"))))
            .otherwise(array(
              struct(lit(0).as("p"), col("__chunk").as("c"),
                col("__chunk").as("ck")),
              struct(lit(0).as("p"), col("__chunk").as("c"),
                (col("__chunk") + 1).cast("int").as("ck")),
              struct(lit(1).as("p"), col("__chunk2").as("c"),
                col("__chunk2").as("ck")),
              struct(lit(1).as("p"), col("__chunk2").as("c"),
                (col("__chunk2") + 1).cast("int").as("ck")))))
          .select(col("id"), col("vec"), col("norm"), col("cid"),
            explode(col("__copies")).as("__e"))
          .select(col("id"), col("vec"), col("norm"), col("cid"),
            col("__e.p").as("__p"), col("__e.c").as("__chunk"),
            col("__e.ck").as("__ck"))
      }
    val a = keyed.as("a"); val b = keyed.as("b")
    val joined = a.join(b, col("a.cid") === col("b.cid") &&
        col("a.__p") === col("b.__p") &&
        col("a.__ck") === col("b.__ck") &&
        col("a.__ck") === greatest(col("a.__chunk"), col("b.__chunk")) &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"),
        cosine(col("a.vec"), col("b.vec"), col("a.norm"), col("b.norm"))
          .as("cos"))
      .filter(col("cos") >= threshold)
    if (dualChunkProjections) joined.distinct() else joined
  }

  private val CentroidIdStep = 25L
  private val MinCentroids = 200L
  private val MaxCentroids = 1000000L

  /** The semantic-dedup / IVF k-sizing contract AS CODE (SCALE.md:
    * production keeps centroids ~√n so clusters stay constant-sized
    * and [[semanticDupPairs]]' chunk cap never binds): deterministic
    * id-subset quantizer predicate `id % CentroidIdStep == 0 && id <
    * CentroidIdStep·k` with `k = clamp(ceil(√n), MinCentroids,
    * MaxCentroids)`. The floor is the historical fixed cap
    * (CentroidCap 5000 = 25·200), so every driver scale factor (n ≤
    * 200k... √n ≤ 448 only binds past n = MinCentroids² = 40k)
    * resolves to a SUPERSET cap of its id range or the exact
    * historical predicate — centroid sets at driver SFs are unchanged
    * and every oracle stays byte-identical (pinned by spec).
    */
  def centroidFilterForCorpus(n: Long): Column = {
    require(n >= 0, s"corpus size must be >= 0, got $n")
    val k = math.min(MaxCentroids,
      math.max(MinCentroids, math.ceil(math.sqrt(n.toDouble)).toLong))
    col("id") % CentroidIdStep === 0 && col("id") < CentroidIdStep * k
  }

  /** Explicit cluster-occupancy diagnostic for [[semanticDupPairs]]:
    * one row per cluster with member count `n` and whether the given
    * chunk cap would truncate its pair set — bounded by the centroid
    * count. Run when auditing whether a corpus has outgrown its
    * centroid set; the sizing path is [[centroidFilterForCorpus]].
    */
  def semanticClusterStats(corpus: DataFrame, centroidFilter: Column,
      maxClusterSize: Int = 4096): DataFrame =
    ivfAssign(corpus, centroidFilter)
      .groupBy("cid").agg(count(lit(1)).as("n"))
      .withColumn("truncated", col("n") > maxClusterSize)

  // ------------------------------------------------------------------
  // Product quantization (the FAISS IVFADC shape): vectors compressed
  // to M sub-codes, search scored against a per-query lookup table.
  // At 100 TB this is what makes a vector index FIT — M bytes/vector
  // (64× smaller than float64[64]) means inverted lists stay in page
  // cache and the probe scan is pure integer-indexed lookups.
  // ------------------------------------------------------------------

  /** Deterministic PQ codebook: the K codeword vectors are the corpus
    * rows with `id % idStep == 0 && id < idStep*K` (the same
    * data-derived deterministic-quantizer trick as the IVF coarse
    * centroids, so the DuckDB oracle can reproduce it), each split
    * into M contiguous subvectors. Driver-bounded collect: M×K
    * subvectors total. Returns cb(m)(k) = the ds-dim codeword.
    */
  def pqCodebook(corpus: DataFrame, m: Int, k: Int, idStep: Long)
      : Array[Array[Array[Double]]] = {
    val rows = corpus
      .filter(col("id") % idStep === 0 && col("id") < idStep * k)
      .orderBy("id").select("vec").collect()
    require(rows.length == k,
      s"PQ codebook wants $k codewords, corpus yielded ${rows.length}")
    val dim = rows.head.getSeq[Double](0).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val ds = dim / m
    Array.tabulate(m, k) { (mi, ki) =>
      rows(ki).getSeq[Double](0).slice(mi * ds, (mi + 1) * ds).toArray
    }
  }

  private def round6(c: Column): Column = round(c, 6)

  /** `Σ_j vec[off+j+1] * lit(w(j))` — left-associated scalar
    * multiply-adds (bit-identical to a sequential dot loop, so the
    * oracle's `list_dot_product` agrees), fully codegen'd. */
  private def litDot(vec: Column, off: Int, w: Array[Double]): Column =
    w.zipWithIndex.map { case (x, j) =>
      element_at(vec, off + j + 1) * lit(x) }.reduce(_ + _)

  /** Map-side PQ encode: appends `codes` (int array, length M — the
    * argmin codeword per subspace under L2, distances rounded to 6
    * decimals with smallest-k tie-break so Spark and the oracle pick
    * identically) and `rnorm` (the reconstructed vector's norm, used
    * as the cosine denominator at search time). No shuffle, no UDF:
    * per-subspace distance arrays are staged as attributes, argmin is
    * `array_position(d, array_min(d))`.
    *
    * L2 argmin drops the `sub·sub` term (constant across codewords):
    * dist(k) = cb2(k) − 2·(sub·cb_k).
    */
  def pqEncode(df: DataFrame, cb: Array[Array[Array[Double]]])
      : DataFrame = {
    val m = cb.length; val k = cb(0).length
    val cb2: Array[Array[Double]] =
      cb.map(_.map(w => math.rint(w.map(x => x * x).sum * 1e6) / 1e6))
    val keep = df.columns.filterNot(_ == "vec").map(col)
    // ALL m·k rounded subspace dots from ONE looped expression (plan
    // size constant in m·k·ds — the literal composition's ~2k-node
    // tree cost a flat ~4 s of per-build optimizer time at ANY data
    // size); staged as an attribute so the m per-subspace distance
    // arrays below reference it instead of re-evaluating it
    val staged0 = df.select((keep :+
      graft.functions.PqDots.pq_dots(col("vec"), cb).as("__dots")): _*)
    val dCols = (0 until m).map { mi =>
      zip_with(array(cb2(mi).map(lit(_)): _*),
        slice(col("__dots"), mi * k + 1, k),
        (c2, dv) => c2 - lit(2.0) * dv).as(s"__d$mi")
    }
    val staged = staged0.select(keep ++ dCols: _*)
    val codeCols = (0 until m).map { mi =>
      (array_position(col(s"__d$mi"), array_min(col(s"__d$mi"))) - 1)
        .cast("int").as(s"__c$mi")
    }
    val staged2 = staged.select(keep ++ codeCols: _*)
    staged2.select((keep :+
      array((0 until m).map(mi => col(s"__c$mi")): _*).as("codes")) :+
      sqrt((0 until m).map(mi =>
          element_at(array(cb2(mi).map(lit(_)): _*), col(s"__c$mi") + 1)
            .cast("decimal(38,6)"))
        .reduce(_ + _).cast("double")).as("rnorm"): _*)
  }

  /** Per-query ADC lookup table, FLAT: `ltab[mi·k + ki] =
    * round6(q_mi · cb_mi_ki)` — one looped [[graft.functions.PqDots]]
    * expression (map-side, the codebook rides as a reference object,
    * primitive output). Rounded per entry so the oracle's
    * `list_dot_product` lands on identical values. */
  def pqLookupTable(qvec: Column, cb: Array[Array[Array[Double]]])
      : Column = graft.functions.PqDots.pq_dots(qvec, cb)

  /** The retained literal composition of [[pqLookupTable]] — the
    * reference implementation PqDotsSpec pins the expression against
    * (same role as SignBands' retained composition). */
  private[graft] def pqLookupTableComposed(qvec: Column,
      cb: Array[Array[Array[Double]]]): Column = {
    val ds = cb(0)(0).length
    array(cb.indices.map { mi =>
      array(cb(mi).indices.map { ki =>
        round6(litDot(qvec, mi * ds, cb(mi)(ki))) }: _*)
    }: _*)
  }

  /** IVF-PQ top-k (asymmetric distance computation): coarse-probe the
    * `nProbe` nearest inverted lists exactly as [[ivfTopK]], but score
    * candidates from their PQ codes against a per-query lookup table
    * `ltab[m][k] = round6(q_m · cb_mk)` — the corpus vectors are never
    * touched at search time. The per-entry rounding plus an exact
    * DECIMAL(38,6) accumulation across subspaces makes the score
    * engine- and order-exact, so ranking is reproducible.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
      centroidFilter: Column, cb: Array[Array[Array[Double]]],
      nProbe: Int, k: Int): DataFrame = {
    val m = cb.length
    val encoded = pqEncode(ivfAssign(corpus, centroidFilter), cb)
      .select("id", "cid", "codes", "rnorm")
    val cents = broadcast(corpus.filter(centroidFilter).select(
      col("id").as("cid"), col("vec").as("cvec"), col("norm").as("cnorm")))
    val wp = Window.partitionBy("q_id")
      .orderBy(col("pcos").desc, col("cid"))
    val ltab = pqLookupTable(col("qvec"), cb)
    val probes = queries.select(col("id").as("q_id"), col("vec").as("qvec"),
        col("norm").as("qnorm"))
      .join(cents)
      .withColumn("pcos",
        cosine(col("qvec"), col("cvec"), col("qnorm"), col("cnorm")))
      .withColumn("prank", row_number().over(wp))
      .filter(col("prank") <= nProbe)
      .select(col("q_id"), ltab.as("ltab"), col("qnorm"), col("cid"))
    val kw = cb(0).length
    val approx = (0 until m).map(mi =>
        element_at(col("ltab"),
          element_at(col("codes"), mi + 1) + lit(mi * kw) + 1)
          .cast("decimal(38,6)"))
      .reduce(_ + _).cast("double")
    val wk = Window.partitionBy("q_id")
      .orderBy(col("cos_pq").desc, col("vec_id"))
    probes.join(encoded, Seq("cid"))
      .filter(col("id") =!= col("q_id"))
      .select(col("q_id"), col("id").as("vec_id"),
        round6(approx / (col("qnorm") * col("rnorm"))).as("cos_pq"))
      .withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "vec_id", "cos_pq")
  }
}
