package graft.pipeline

/** Sign-projection key-space configuration for the embedding near-dup
  * family ([[SimilarityOps.lshNearDupPairs]],
  * [[DedupIndex.buildEmbedding]]/`probeEmbedding`).
  *
  * The banded candidate join produces a random-collision floor of
  * roughly `nBands · n² / 2^(planesPerBand+1)` pairs for an
  * n-vector corpus — a FIXED band width therefore saturates once the
  * corpus outgrows it (measured: 6-bit bands die at a 200k-vector
  * corpus with a disk-filling candidate spill, SCALE.md round-5d).
  * Every 2 extra band bits cut that floor 4×, so the key width is a
  * function of corpus size, not a constant. [[forCorpusSize]] is that
  * function as code: it sizes band bits so the EXPECTED uniform bucket
  * holds ~[[LshConfig.TargetBucketRows]] rows, clamped so small
  * corpora keep the historical 24×6 shape (oracle parity at every
  * driver scale factor is pinned by LshConfigSpec).
  *
  * Recall trade-off (standard LSH): wider bands lower the chance two
  * vectors at the cosine threshold share a band, while exact
  * duplicates (cosine 1) collide at any width. Callers wanting a
  * fixed recall curve across corpus sizes should raise `nBands`
  * alongside the corpus rather than pinning the band width.
  */
final case class LshConfig(nPlanes: Int, planesPerBand: Int) {
  require(planesPerBand > 0 && nPlanes > 0 &&
    nPlanes % planesPerBand == 0,
    s"nPlanes=$nPlanes must be a positive multiple of " +
      s"planesPerBand=$planesPerBand")

  def nBands: Int = nPlanes / planesPerBand

  /** Buckets per band (the key space one band can spread rows over). */
  def bucketsPerBand: Long = 1L << planesPerBand

  /** Expected banded candidate pairs for an n-vector corpus under a
    * uniform hash: `nBands · n²/2 / 2^planesPerBand`. The arithmetic
    * behind the saturation fail-fast — no Spark action required.
    */
  def expectedCandidatePairs(n: Long): Double =
    nBands.toDouble * n.toDouble * n.toDouble /
      (2.0 * bucketsPerBand.toDouble)
}

object LshConfig {
  /** Band count: recall knob, kept at the historical 4 bands. */
  val DefaultBands = 4

  /** Rank-chunk size for the grouped pair loop
    * ([[SimilarityOps.lshNearDupPairsGrouped]]): 8× the expected
    * bucket target, so a properly-sized corpus NEVER chunks (bit-parity
    * with the unchunked loop at every driver SF) while a hot bucket —
    * template skew, or occupancy past the [[MaxBits]] ceiling — becomes
    * ⌈s/4000⌉ bounded tasks instead of one s²/2 straggler.
    */
  val DefaultChunkRows = 4000

  /** Floor = the historical 6-bit bands: every corpus up to
    * `TargetBucketRows · 2^6 = 32k` vectors resolves to the exact
    * 24×6 config all driver-SF oracles were built against.
    */
  val MinBits = 6

  /** 2^20 buckets/band — beyond this, grow `nBands`, not bits (a
    * 20-bit band already keeps million-row buckets sub-target for
    * corpora up to ~5×10^8 vectors, and wider bands crater sub-unity
    * recall). Past the clamp, expected occupancy grows linearly with
    * the corpus: [[SimilarityOps.lshNearDupPairsGrouped]]'s rank-chunked
    * pair loop keeps per-task work bounded there (its saturation gate
    * admits over-cap occupancy exactly when bits are already maxed),
    * and [[bandsForRecall]] is the coded nBands growth path for
    * callers holding a recall floor.
    */
  val MaxBits = 20

  /** Target EXPECTED rows per bucket; 500 keeps the candidate floor
    * `nBands · n · target/2` — linear in the corpus.
    */
  val TargetBucketRows = 500L

  /** Saturation cap of the LSH pair operators' fail-fast: a band space
    * whose uniform-hash occupancy estimate exceeds this many rows per
    * bucket is too narrow for the corpus. */
  private[pipeline] val MaxExpectedBucketRows: Long = 4L * TargetBucketRows

  /** Row budget for the grouped pair loop's sampled shape probe
    * ([[SimilarityOps.estimatedTopBucket]]): the probe bands at most
    * this many sampled vectors regardless of corpus size, so its cost
    * is a small constant fraction of the query's own banding pass
    * (measured ≤ ~2% of the template-skew bench's query time at this
    * budget, SCALE.md "Retired experiment mains"). At the decision
    * boundary the estimate needs only ~10% relative accuracy — a
    * bucket at the 4-chunk cutover samples hundreds of rows even at a
    * 2.5% rate — so a small budget loses nothing.
    */
  val ShapeProbeRows = 50000L

  /** Window-vs-fast cutover for the AUTO shape probe: the window
    * shape is chosen when the estimated hottest bucket exceeds this
    * many chunks. At 1 chunk the fast path never even in-task-chunks;
    * the measured crossover sits well past that (template-skew bench,
    * SCALE.md "Retired experiment mains": the window shape wins
    * clearly at a 16-chunk hot bucket, r8's 1.38× at ~34 chunks), and
    * 4 chunks is conservatively inside the
    * window-wins region while far above sampling noise.
    */
  val SkewCutoverChunks = 4.0

  /** Occupancy headroom for the grouped pair loop's fast path
    * ([[SimilarityOps.lshNearDupPairsGrouped]]): the no-window shape
    * is taken only while `expected occupancy × headroom ≤ chunkSize`,
    * i.e. a bucket must exceed its expectation 8-fold (skew the
    * estimate cannot see) before it even needs in-task chunking —
    * and past the [[MaxBits]] ceiling, where occupancy grows linearly
    * with the corpus, the gate flips back to the many-bounded-tasks
    * window shape. 8 = DefaultChunkRows / TargetBucketRows by
    * construction, so a [[forCorpusSize]]-sized corpus always takes
    * the fast path until the clamp binds.
    */
  val FastPathHeadroom = 8.0

  /** Size the band width for an n-vector corpus:
    * `bits = clamp(ceil(log2(n / TargetBucketRows)), MinBits, MaxBits)`,
    * `nPlanes = DefaultBands · bits`. The test-data scale factors
    * (500 / 2k / 20k vectors) all resolve to the historical 24×6; the
    * 200k corpus that killed the fixed config resolves to 36×9 (512
    * buckets/band).
    */
  def forCorpusSize(n: Long): LshConfig = {
    require(n >= 0, s"corpus size must be >= 0, got $n")
    val raw =
      if (n <= TargetBucketRows) MinBits
      else math.ceil(
        math.log(n.toDouble / TargetBucketRows) / math.log(2.0)).toInt
    val bits = math.min(MaxBits, math.max(MinBits, raw))
    LshConfig(DefaultBands * bits, bits)
  }

  /** Per-band collision probability of two vectors at cosine `t` under
    * sign-random-projection with `bits` planes per band: `p^bits` with
    * `p = 1 - acos(t)/π` (the standard SRP-LSH collision model,
    * Charikar 2002). Exact duplicates (t = 1) collide at any width.
    */
  def bandCollisionProb(t: Double, bits: Int): Double = {
    require(t >= -1.0 && t <= 1.0, s"cosine must be in [-1, 1], got $t")
    require(bits > 0, s"bits must be positive, got $bits")
    math.pow(1.0 - math.acos(t) / math.Pi, bits.toDouble)
  }

  /** The >MaxBits growth path AS CODE: the band count that holds
    * recall ≥ `targetRecall` for pairs at cosine `t` with `bits`-wide
    * bands — `L = ⌈ln(1-R) / ln(1-p^bits)⌉` from
    * `R = 1-(1-p^bits)^L`. Once [[forCorpusSize]]'s bits clamp at
    * [[MaxBits]] (occupancy then grows linearly with the corpus and
    * the CHUNKED grouped pair loop bounds the per-task work), widening
    * bands further would crater sub-unity recall — the remaining
    * recall knob is MORE BANDS, and this is that knob's sizing
    * function. Compute scales linearly with the result (nBands·n
    * banded rows), which is the honest cost of holding a recall floor
    * on a 10⁹⁺-vector corpus.
    */
  def bandsForRecall(t: Double, bits: Int,
      targetRecall: Double = 0.9): Int = {
    require(targetRecall > 0 && targetRecall < 1,
      s"targetRecall must be in (0, 1), got $targetRecall")
    val pBand = bandCollisionProb(t, bits)
    if (pBand >= 1.0) 1
    else {
      require(pBand > 0,
        f"collision probability vanished at cosine $t%.3f × $bits bits" +
          " — no band count can reach the recall target")
      math.max(1, math.ceil(
        math.log1p(-targetRecall) / math.log1p(-pBand)).toInt)
    }
  }
}
