package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.pipeline._

/** Training-data pipeline operators over the documents/embeddings
  * tables: deduplication (exact, MinHash+LSH, SimHash, exact n-gram
  * Jaccard, embedding-LSH near-dup), similarity search (brute-force
  * cosine top-k), text analysis (language ID, quality, tokens,
  * fingerprints) and multimodal binary-column decode plumbing.
  *
  * Every query has an exact DuckDB oracle; the approximate methods'
  * oracles replicate the same bucketing/hashing (md5-string minima,
  * integer bit votes, fixed hyperplanes embedded as literals in both
  * plans), so hash-equality checks the full algorithm, not just shapes.
  */
object PipelineQueries {

  private val NumHashes = 12
  private val MinhashBands = 4
  private val JaccardThreshold = 0.8
  private val ExactJaccardThreshold = 0.5
  private val SimhashMaxDist = 3
  // Sign-projection key width bounds the random-collision floor of the
  // banded candidate join (~bands·n²/2^(bits+1) pairs): 4-bit bands
  // (16 buckets) measured 29s at a 50k-vector corpus — the same band
  // saturation the simhash family hit and fixed in r3, and the fixed
  // 6-bit width in turn died at a 200k-vector corpus (SCALE.md r5d).
  // The knob is now CODE: queries size the key space from the corpus
  // via LshConfig.forCorpusSize (lshCfg below). These two constants
  // are the DRIVER-SF resolution of that sizing (every driver corpus
  // ≤ 32k vectors → 24×6, pinned by LshConfigSpec) and exist only to
  // generate the static oracle SQL, which the driver runs at driver
  // SFs by contract.
  private val NPlanes = 24
  private val PlanesPerBand = 6
  private val CosThreshold = 0.4
  /** Semantic-dedup rank-chunk size — deliberately below the driver-SF
    * cluster sizes (~25 members at sf0.01) so the bounded-budget path
    * runs and is oracle-gated at every driver SF. */
  private val SemanticChunk = 8
  private val TopK = 5
  private val NQueryVecs = 20
  private val SampleRateEn = 0.5
  private val SampleRateDefault = 0.25
  private val EvalRate = 0.1
  private[graft] val ContamN = 5
  // boilerplate signal: trigram shingles present in >= 20 docs count
  // as template text (selective but non-trivial at every driver SF)
  private val BoilerN = 3
  private val BoilerDfMin = 20L
  private val CapPerLang = 30
  private val PackShards = 8
  private val PackCapacity = 256
  // ~54 tokens/doc → a 1500-token shard budget keeps the best ~27
  // docs of each shard at sf0.01 (selective at every driver SF)
  private val TokenBudget = 1500L
  private val TopNgrams = 20
  private val ResizeLen = 32
  // p_pipeline_e2e re-crawl duplicate shift: divisible by 5·7·11·13
  // (so a copy lands in the SAME clean-injection branch as its
  // original — the copies are true exact duplicates of the cleaned
  // text) and far above every real doc_id.
  private val DupShift = 1001000000L
  // crawl-day re-crawl duplicate shift: far above every real doc_id
  // and distinct from DupShift (different fixture namespaces)
  private val CrawlDupShift = 2002000000L
  // Coarse-quantizer predicate: FIXED centroid count at any corpus
  // size (ids < CentroidCap at every driver SF, so small-SF results
  // are unchanged). A pure `id % 25` set grows linearly with the
  // corpus and makes brute-force assignment n²/25 — measured 13.5×
  // at 10× data (SCALE.md r4b); production IVF keeps centroids ~√n.
  private val CentroidCap = 5000L
  // PQ config (p_ann_ivfpq): 64 dims → 8 subspaces × 8 dims, 16
  // codewords each (codes fit a nibble per subspace — 4 bytes/vector
  // vs 512 for float64[64]). Codewords = every 5th id, like the coarse
  // quantizer a data-derived deterministic set the oracle reproduces.
  private val PqM = 8
  private val PqK = 16
  private val PqStep = 5L
  // Lexical retrieval (RetrievalOps): fixed query strings over the
  // fixture vocabulary — literals shared verbatim by the Spark frame
  // and the oracle's VALUES list. Top-10 per query; the hybrid RRF
  // fusion pools top-20 from each arm over the first 5 documents
  // (doc_id ↔ vec_id aligned by the fixture generator).
  private val Bm25Queries: Seq[(Long, String)] = Seq(
    0L -> "fast table scan",
    1L -> "stream window agg",
    2L -> "customer query join order",
    3L -> "hash merge sort batch",
    4L -> "vector filter group")
  private val Bm25K = 10
  private val HybridNQ = 5L
  private val RrfPool = 20
  private val FusedK = 10
  // Duplicated-span removal (DedupOps.spanDedup): the synthetic corpus
  // has no cross-doc k-gram repeats of its own (30-word vocabulary →
  // 8-gram space ≈ 30^8), so the query injects deterministic shared
  // tails — two boilerplates at different periods (docs on both get
  // two separate spans, plus seam grams shared across %12 docs) and a
  // doubled phrase exercising the global-occurrence rule.
  private val SpanK = 8
  // p_seq_pack training-sequence length (BPE tokens per sequence)
  private val SeqLen = 64
  private val SpanBoilerA =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
  private val SpanBoilerB = "north south east west up down left right center"
  private val SpanRepeat = "red orange yellow green blue indigo violet white"

  /** One-time fixture build (see SparkEntry.prepare). */
  def prepare(s: SparkSession, d: String): Unit = {
    ensureIvfIndex(s, d): Unit
    ensurePqIndex(s, d): Unit
    ensureDigestIndex(s, d): Unit
    ensureBm25Index(s, d): Unit
    ensureSpanIndex(s, d): Unit
    ensureLshIndex(s, d): Unit
    ensureSimhashIndex(s, d): Unit
    ensureEmbeddingIndex(s, d): Unit
    ensureStreamingDedup(s, d): Unit
    ensureStreamingPipeline(s, d): Unit
    ensureContamIndex(s, d): Unit
    ensureFuzzyContamIndex(s, d): Unit
  }

  /** DuckDB oracle shared by p_decontaminate and its Bloom-prefiltered
    * variant (identical results by construction). */
  private def decontaminateSql: String = {
    val hex = SampleOps.thresholdHex(EvalRate)
    val gram = (0 until ContamN).map(k => s"ws[i+$k]")
      .mkString(" || ' ' || ")
    s"""WITH tr AS (SELECT doc_id, string_split(text, ' ') AS ws
             FROM documents
             WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) >= '$hex'),
       ev AS (SELECT doc_id, string_split(text, ' ') AS ws
             FROM documents
             WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '$hex'),
       tsh AS (SELECT DISTINCT doc_id, $gram AS g
               FROM tr,
                 unnest(generate_series(1, len(ws) - ${ContamN - 1})) t(i)),
       esh AS (SELECT DISTINCT $gram AS g
               FROM ev,
                 unnest(generate_series(1, len(ws) - ${ContamN - 1})) t(i))
     SELECT tsh.doc_id, count(*) AS n_shared
     FROM tsh JOIN esh USING (g)
     GROUP BY 1 ORDER BY doc_id"""
  }

  /** Fixture-dir suffix fingerprinting the INPUT parquet (path + file
    * sizes + mtimes): a regenerated source table changes the
    * fingerprint, so index fixtures can never go stale across rounds —
    * they are simply rebuilt under a fresh dir. */
  private def inputTag(d: String, table: String): String = {
    val f = new java.io.File(s"$d/$table.parquet")
    val parts =
      if (f.isDirectory)
        f.listFiles().sortBy(_.getName)
          .map(p => s"${p.getName}:${p.length}:${p.lastModified}")
      else Array(s"${f.getName}:${f.length}:${f.lastModified}")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(s"$d|${parts.mkString("|")}".getBytes("UTF-8"))
    md.digest().take(6).map("%02x".format(_)).mkString
  }

  /** Build the store-backed IVF index once per scale dir (idempotent,
    * sidecar-guarded). Small rowsPerFile so the sf0.01/0.1 fixtures get
    * several files and the range-read pruning is actually exercised. */
  private def ensureIvfIndex(s: SparkSession, d: String): String =
    synchronized {
      // centroid config in the tag: a config change must rebuild the
      // fixture, not collide with a stale one
      val dir = s"/tmp/graft_ivf_c${CentroidCap}_${inputTag(d, "embeddings")}"
      val ds = new graft.store.OrderedDataset(s, dir)
      if (!ds.exists) {
        val v = SimilarityOps.withNorm(embs(s, d), "vec_id", "embedding")
        IvfIndex.build(s, dir, v, centroidPred, rowsPerFile = 200)
      }
      dir
    }

  /** Build the store-backed PQ-compressed IVF index (idempotent per
    * scale dir; codes only, no vector payloads). */
  private def ensurePqIndex(s: SparkSession, d: String): String =
    synchronized {
      val dir = s"/tmp/graft_ivfpq_c${CentroidCap}_m${PqM}k${PqK}_" +
        inputTag(d, "embeddings")
      val ds = new graft.store.OrderedDataset(s, dir)
      if (!ds.exists) {
        val v = SimilarityOps.withNorm(embs(s, d), "vec_id", "embedding")
        val cb = SimilarityOps.pqCodebook(v, PqM, PqK, PqStep)
        IvfIndex.buildPq(s, dir, v, centroidPred, cb, rowsPerFile = 200)
      }
      dir
    }

  /** Build the store-backed exact-digest dedup index over the full
    * documents table (idempotent per scale dir; small rowsPerFile so
    * the zone-map probe pruning is exercised across several files). */
  private def ensureDigestIndex(s: SparkSession, d: String): String =
    synchronized {
      val dir = s"/tmp/graft_digest_${inputTag(d, "documents")}"
      val ds = new graft.store.OrderedDataset(s, dir)
      if (!ds.exists)
        DedupIndex.buildDigest(s, dir, docs(s, d), "doc_id", "text",
          rowsPerFile = 200)
      dir
    }

  /** The span-dedup corpus: deterministic shared tails injected (see
    * SpanBoiler constants) — shared by p_span_dedup, the incremental
    * variant and their common oracle CTEs. */
  private def injectedSpanDocs(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 4 === 0, lit(" " + SpanBoilerA))
          .otherwise(lit("")),
        when(col("doc_id") % 6 === 0, lit(" " + SpanBoilerB))
          .otherwise(lit("")),
        when(col("doc_id") % 9 === 0,
          lit(" " + SpanRepeat + " " + SpanRepeat))
          .otherwise(lit(""))).as("text"))

  /** Overlapping-gram occurrence index over the injected corpus SPLIT
    * (doc_id % 5 != 0) — p_span_dedup_inc's fixture. */
  private def ensureSpanIndex(s: SparkSession, d: String): String =
    synchronized {
      val dir = s"/tmp/graft_spanidx_${inputTag(d, "documents")}"
      val ds = new graft.store.OrderedDataset(s, dir)
      if (!ds.exists)
        DedupIndex.buildSpanGrams(s, dir,
          injectedSpanDocs(s, d).filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text", SpanK,
          rowsPerFile = math.max(4000L, nEmbs(s, d) * 8L))
      dir
    }

  /** Count-kind takedown fixture (r14): the span-gram occurrence
    * index over the injected corpus split (doc_id % 5 != 0), then
    * [[DedupIndex.removeCountedDocs]] of its doc_id % 7 == 3
    * sub-split — the removed docs' gram contributions recomputed from
    * their text and landed as ONE negative decrement segment; NO
    * compaction, so p_spans_takedown gates the LIVE summed-decrement
    * probe path (base + negative segment, zero clamp) against an
    * oracle whose universe simply never held the removed docs. */
  private def ensureSpanTakedownIndex(s: SparkSession, d: String)
      : String =
    synchronized {
      val root = s"/tmp/graft_spantd_${inputTag(d, "documents")}"
      val marker = new java.io.File(s"$root/_done")
      if (marker.exists()) return s"$root/idx"
      graft.LocalFs.rmTree(new java.io.File(root))
      DedupIndex.buildSpanGrams(s, s"$root/idx",
        injectedSpanDocs(s, d).filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", SpanK,
        rowsPerFile = math.max(4000L, nEmbs(s, d) * 8L))
      DedupIndex.removeCountedDocs(s, s"$root/idx",
        injectedSpanDocs(s, d)
          .filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 3),
        "doc_id", "text")
      java.nio.file.Files.createFile(marker.toPath): Unit
      s"$root/idx"
    }

  /** BM25 postings index built INCREMENTALLY on purpose — corpus split
    * (doc_id % 5 != 0) built, the rest added (an LSM delta segment
    * since r12) — so the oracle-equality of p_bm25_indexed gates
    * build + add + scalar bump + segmented pruned-probe scoring
    * together. rowsPerFile is CORPUS-SIZED toward ~10 postings files:
    * small enough that the multi-point zone-map read skips files at
    * every driver SF, but scaling with the corpus — a fixed 2000
    * meant ~10k files at 100× (500k docs × ~40 postings), which the
    * r11-era in-place add turned into a ~10k-file rewrite (the
    * measured pathology that motivated the delta-segment write path,
    * SCALE.md r12a). */
  private def ensureBm25Index(s: SparkSession, d: String): String =
    synchronized {
      val dir = s"/tmp/graft_bm25_${inputTag(d, "documents")}"
      val ds = new graft.store.OrderedDataset(s, dir)
      if (!ds.exists) {
        val rpf = math.max(2000L, nEmbs(s, d) * 4L)
        Bm25Index.build(s, dir,
          docs(s, d).filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
          rowsPerFile = rpf)
        Bm25Index.add(s, dir,
          docs(s, d).filter(col("doc_id") % 5 === 0), "doc_id", "text",
          rowsPerFile = rpf)
      }
      dir
    }

  /** The composed "daily crawl day" fixture (VERDICT r12 #7): one run
    * of the full incremental loop the engine's story claims, each step
    * the REAL operator —
    *
    *  1. yesterday's state: contamination index over the eval split
    *     (doc_id % 50 == 17), exact-digest index + BM25 postings index
    *     over the corpus split (% 50 != 17, % 5 != 0);
    *  2. today's crawl: the % 5 == 0 split plus injected exact
    *     re-crawls of corpus docs (% 15 == 1, id-shifted) — the
    *     duplicates a real crawl drags in;
    *  3. the day: probe the contamination index (drop any doc sharing
    *     an eval n-gram) → probe the digest index (drop exact
    *     re-crawls) → batch-internal keep-first by digest → add the
    *     survivors to the digest AND BM25 indexes as delta segments
    *     (maxSegments self-bounding enabled, the production shape).
    *
    * p_crawl_day then scores the fixed query set against the POST-ADD
    * BM25 index, so the oracle equality gates the whole loop: a wrong
    * drop, a lost survivor, or a mis-bumped corpus scalar shifts the
    * rankings. CrawlDaySpec additionally asserts post-add index state
    * equals a one-shot build over corpus ∪ survivors.
    */
  private[graft] def ensureCrawlDay(s: SparkSession, d: String): String =
    synchronized {
      val root = s"/tmp/graft_crawlday_${inputTag(d, "documents")}"
      val marker = new java.io.File(s"$root/_done")
      if (marker.exists()) return root
      graft.LocalFs.rmTree(new java.io.File(root))
      val (corpus, crawl, eval) = crawlDaySplits(s, d)
      val rpf = math.max(2000L, nEmbs(s, d) * 4L)
      ContaminationOps.buildIndex(s, s"$root/contam", eval,
        "doc_id", "text", ContamN, rowsPerFile = 20000L)
      DedupIndex.buildDigest(s, s"$root/digest", corpus,
        "doc_id", "text", rowsPerFile = math.max(2000L, nEmbs(s, d)))
      Bm25Index.build(s, s"$root/bm25", corpus, "doc_id", "text", rpf)
      val survivors = crawlDaySurvive(s, root, crawl)
      Bm25Index.add(s, s"$root/bm25", survivors, "doc_id", "text", rpf,
        maxSegments = Some(4))
      DedupIndex.buildDigest(s, s"$root/digest", survivors,
        "doc_id", "text", rowsPerFile = math.max(2000L, nEmbs(s, d)),
        maxSegments = Some(4))
      java.nio.file.Files.createFile(marker.toPath): Unit
      root
    }

  /** The crawl-day table splits (shared by the fixture and
    * CrawlDaySpec's independent one-shot reference). */
  private[graft] def crawlDaySplits(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val all = docs(s, d).filter(col("text").isNotNull)
    val eval = all.filter(col("doc_id") % 50 === 17)
    val rest = all.filter(col("doc_id") % 50 =!= 17)
    val corpus = rest.filter(col("doc_id") % 5 =!= 0)
    val crawl = rest.filter(col("doc_id") % 5 === 0)
      .unionByName(corpus.filter(col("doc_id") % 15 === 1)
        .select((col("doc_id") + CrawlDupShift).as("doc_id"),
          col("text")))
    (corpus, crawl, eval)
  }

  /** The day's curation: decontaminate → index-dedup → batch-internal
    * keep-first, each via the persisted indexes under `root`.
    *
    * PINNED end to end (VERDICT r13 #7 stretch): each index is
    * captured ONCE ([[DedupIndex.pinIndex]]) when the day's plan is
    * built, and every step probes that capture — a concurrent
    * compaction or add committing mid-day (between plan construction
    * and execution, or between executions of the composed plan's
    * stages) provably cannot shift any step's view: captured file
    * lists stay readable for `retireGraceMs` past replacement.
    * CrawlDaySpec injects a compaction between plan and execution and
    * asserts identical survivors. */
  private[graft] def crawlDaySurvive(s: SparkSession, root: String,
      crawl: DataFrame): DataFrame = {
    val contamPin = DedupIndex.pinIndex(s, s"$root/contam",
      "contamination", Some(s"n=$ContamN"))
    val digestPin = DedupIndex.pinIndex(s, s"$root/digest", "digest")
    val contaminated = ContaminationOps.probeIndex(s, contamPin,
        crawl, "doc_id", "text", ContamN, 65536, autoRepair = false)
      .select(col("id").as("doc_id"))
    val clean = crawl.join(contaminated, Seq("doc_id"), "left_anti")
    // same (new_id, digest) shape probeDigest derives internally
    val dups = DedupIndex.probeDigestKeyed(digestPin,
        clean.select(col("doc_id").cast("long").as("new_id"),
          md5(col("text")).as("digest")), 65536)
      .select(col("new_id").as("doc_id")).distinct()
    clean.join(dups, Seq("doc_id"), "left_anti")
      .withColumn("__rn", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Takedown fixture (r13): a BM25 index over the FULL documents
    * table, then `Bm25Index.remove` of the doc_id % 13 == 2 split —
    * tombstone registered, corpus scalars decremented; no compaction,
    * so p_bm25_takedown gates the LIVE tombstone path (anti-join +
    * decremented normalizers) against an oracle that simply never saw
    * the removed docs. */
  private def ensureTakedownIndex(s: SparkSession, d: String): String =
    synchronized {
      val root = s"/tmp/graft_bm25td_${inputTag(d, "documents")}"
      val marker = new java.io.File(s"$root/_done")
      if (marker.exists()) return s"$root/idx"
      graft.LocalFs.rmTree(new java.io.File(root))
      val rpf = math.max(2000L, nEmbs(s, d) * 4L)
      Bm25Index.build(s, s"$root/idx", docs(s, d), "doc_id", "text", rpf)
      Bm25Index.remove(s, s"$root/idx",
        docs(s, d).filter(col("doc_id") % 13 === 2).select("doc_id"))
      java.nio.file.Files.createFile(marker.toPath): Unit
      s"$root/idx"
    }

  /** Build the segment document-frequency index over the corpus split
    * (doc_id % 5 != 0); the batch split probes it incrementally. */
  private def ensureSegmentIndex(s: SparkSession, d: String): String =
    synchronized {
      val dir = s"/tmp/graft_segidx_${inputTag(d, "documents")}"
      val ds = new graft.store.OrderedDataset(s, dir)
      if (!ds.exists)
        DedupIndex.buildSegments(s, dir,
          docs(s, d).filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
          rowsPerFile = 20000L)
      dir
    }

  /** Build the persisted decontamination index over the eval split
    * (distinct eval grams ordered on hkey + the `_bloom` blob). */
  private def ensureContamIndex(s: SparkSession, d: String): String =
    synchronized {
      val dir = s"/tmp/graft_contam_n${ContamN}_${inputTag(d, "documents")}"
      val ds = new graft.store.OrderedDataset(s, dir)
      if (!ds.exists) {
        val base = docs(s, d)
        val bucket = SampleOps.hashBucket(col("doc_id"))
        val thr = lit(SampleOps.thresholdHex(EvalRate))
        ContaminationOps.buildIndex(s, dir, base.filter(bucket < thr),
          "doc_id", "text", ContamN, rowsPerFile = 20000L)
      }
      dir
    }

  /** The fuzzy-decontamination eval fixture: every %10==3 doc with
    * junk tokens appended under a fresh id — KNOWN leaks whose
    * Jaccard the mutation controls (long docs clear the 0.8 bar,
    * short ones honestly fall below it). */
  private def fuzzyEval(base: DataFrame): DataFrame =
    base.filter(col("doc_id") % 10 === 3)
      .select((col("doc_id") + 2000000000L).as("doc_id"),
        concat(col("text"), lit(" qq yy zz ww")).as("text"))

  /** Build the persisted fuzzy-decontamination screen: a minhash band
    * index over the (derived) eval set. */
  private def ensureFuzzyContamIndex(s: SparkSession, d: String): String =
    synchronized {
      val dir = s"/tmp/graft_fuzzycontam_${inputTag(d, "documents")}"
      val ds = new graft.store.OrderedDataset(s, dir)
      if (!ds.exists)
        DedupIndex.buildMinhash(s, dir, fuzzyEval(docs(s, d)),
          "doc_id", "text", shingleN = 3, numHashes = NumHashes,
          bands = MinhashBands, rowsPerFile = 800)
      dir
    }

  /** Build the store-backed MinHash LSH band index over the full
    * documents table (one row per doc × band). */
  private def ensureLshIndex(s: SparkSession, d: String): String =
    synchronized {
      val dir = s"/tmp/graft_lshband_${inputTag(d, "documents")}"
      val ds = new graft.store.OrderedDataset(s, dir)
      if (!ds.exists)
        DedupIndex.buildMinhash(s, dir, docs(s, d), "doc_id", "text",
          shingleN = 3, numHashes = NumHashes, bands = MinhashBands,
          rowsPerFile = 800)
      dir
    }

  /** Build the store-backed SimHash two-level index (distinct
    * fingerprints × band pairs + fingerprint members). */
  private def ensureSimhashIndex(s: SparkSession, d: String): String =
    synchronized {
      val dir = s"/tmp/graft_simidx_${inputTag(d, "documents")}"
      // gate on BOTH level datasets: a crash between the two build
      // commits must not leave a half-built index that never heals
      if (!new graft.store.OrderedDataset(s, s"$dir/bands").exists ||
          !new graft.store.OrderedDataset(s, s"$dir/members").exists)
        DedupIndex.buildSimhash(s, dir, docs(s, d), "doc_id", "text",
          rowsPerFile = 2000)
      dir
    }

  /** Build the store-backed embedding sign-projection index (band rows
    * + vector members). */
  private def ensureEmbeddingIndex(s: SparkSession, d: String): String =
    synchronized {
      // plane config in the tag: the probe validates its parameters
      // against the build-time config, so a config change must land in
      // a fresh fixture dir, not collide with a stale one. The config
      // is corpus-size-adaptive (lshCfg) — driver SFs keep the 24x6
      // fixture dirs, a 100x corpus builds a wider-keyed index
      val cfg = lshCfg(s, d)
      val dir = s"/tmp/graft_embidx_${cfg.nPlanes}x${cfg.planesPerBand}_" +
        inputTag(d, "embeddings")
      if (!new graft.store.OrderedDataset(s, s"$dir/bands").exists ||
          !new graft.store.OrderedDataset(s, s"$dir/members").exists) {
        val v = SimilarityOps.withNorm(embs(s, d), "vec_id", "embedding")
        DedupIndex.buildEmbedding(s, dir, v,
          SimilarityOps.hyperplanes(cfg.nPlanes, 64), cfg.planesPerBand,
          rowsPerFile = 2000)
      }
      dir
    }

  /** Stage the 4-chunk crawl shape (three ascending doc_id thirds + a
    * full re-crawl) as timestamp-ordered parquet files under
    * `base/stream_src` — shared by every streaming-ingest fixture.
    * Returns the source dir. */
  private def stageCrawlChunks(s: SparkSession, base: String,
      all: DataFrame): String = {
    val maxIdRow = all.agg(max("doc_id")).first()
    require(!maxIdRow.isNullAt(0),
      "documents table is empty — cannot stage the streaming fixture")
    val maxId = maxIdRow.getLong(0)
    val cuts = Seq(maxId / 3, 2 * maxId / 3)
    val chunks = Seq(
      all.filter(col("doc_id") <= cuts(0)),
      all.filter(col("doc_id") > cuts(0) && col("doc_id") <= cuts(1)),
      all.filter(col("doc_id") > cuts(1)),
      all) // day-2 re-crawl: all duplicates, index must reject 100%
    val srcDir = new java.io.File(s"$base/stream_src")
    srcDir.mkdirs()
    chunks.zipWithIndex.foreach { case (c, i) =>
      val tmp = s"$base/_stage_$i"
      c.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, f"chunk_$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // explicit mtimes: the file stream source orders by timestamp
      dst.setLastModified(1000000L * (i + 1)): Unit
      graft.LocalFs.rmTree(new java.io.File(tmp))
    }
    srcDir.toString
  }

  /** Run the streaming-dedup ingest once per scale dir: the documents
    * table staged as four stream files — three ascending id-range
    * chunks ("crawl days"), then the FULL table again (a day-2
    * re-crawl whose every digest the index probe must reject) — fed
    * through [[graft.streaming.StreamingDedup]] one file per
    * micro-batch. Ascending id chunks make arrival-order keep-first
    * coincide with min-id-per-digest, which is what the SQL oracle
    * states. Returns the corpus dataset dir.
    */
  private def ensureStreamingDedup(s: SparkSession, d: String): String =
    synchronized {
      val base = s"/tmp/graft_sdedup_${inputTag(d, "documents")}"
      val corpus = s"$base/corpus"
      // gate on a marker written AFTER the stream completes: the corpus
      // dataset exists from the first micro-batch commit on, so its
      // existence alone would freeze an interrupted ingest half-built
      // (the ensureSimhashIndex two-commit lesson)
      val done = new java.io.File(s"$base/_ingest_done")
      if (!done.exists()) {
        val all = Tables.documents(s, d)
          .select("doc_id", "text", "lang", "source", "n_chars")
        val srcDir = stageCrawlChunks(s, base, all)
        val stream = s.readStream.schema(all.schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir)
        val q = graft.streaming.StreamingDedup.run(stream, "doc_id",
          "text", corpus, s"$base/index", s"$base/_ckpt",
          rowsPerFile = 200)
        q.awaitTermination() // Trigger.AvailableNow: ends when caught up
        done.createNewFile(): Unit
      }
      corpus
    }

  /** Fixture for t19_streaming_block: the t13 crawl shape with a
    * BLOCKLIST at the door — a digest index over the recalled split
    * (doc_id % 9 == 4, non-null text) built BEFORE the stream starts;
    * arrivals matching recalled content by digest never enter the
    * corpus, re-crawls of everything else dedup as usual. */
  private def ensureStreamingBlock(s: SparkSession, d: String): String =
    synchronized {
      val base = s"/tmp/graft_sblock_${inputTag(d, "documents")}"
      val corpus = s"$base/corpus"
      val done = new java.io.File(s"$base/_ingest_done")
      if (!done.exists()) {
        val all = docs(s, d)
        DedupIndex.buildDigest(s, s"$base/block",
          all.filter(col("doc_id") % 9 === 4 && col("text").isNotNull),
          "doc_id", "text", rowsPerFile = 2000)
        val srcDir = stageCrawlChunks(s, base, all)
        val stream = s.readStream.schema(all.schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir)
        val q = graft.streaming.StreamingDedup.run(stream, "doc_id",
          "text", corpus, s"$base/index", s"$base/_ckpt",
          rowsPerFile = 200, blockIndexDir = Some(s"$base/block"))
        q.awaitTermination()
        done.createNewFile(): Unit
      }
      corpus
    }

  /** Fixture for t18_streaming_pipeline: the COMPOSED curation chain
    * running AS A STREAM — the same clean → quality-gate stages as
    * p_pipeline_e2e expressed as ordinary transformations of the
    * streaming frame (map-side projections are streaming-safe as-is),
    * feeding the store-backed probe-and-append dedup ingest
    * ([[graft.streaming.StreamingDedup]]). Four micro-batches (three
    * ascending crawl-day chunks + a full re-crawl the index must
    * reject) over the documents table; the accepted corpus carries the
    * CLEANED text and the classifier score. Batch order ascends by
    * doc_id, so first-accepted == min-id and the result is exactly
    * SQL-expressible (the t13 equivalence argument, now for the whole
    * chain).
    */
  private def ensureStreamingPipeline(s: SparkSession, d: String): String =
    synchronized {
      val base = s"/tmp/graft_spipe_${inputTag(d, "documents")}"
      val corpus = s"$base/corpus"
      val done = new java.io.File(s"$base/_ingest_done")
      if (!done.exists()) {
        val all = Tables.documents(s, d).select("doc_id", "text")
        val maxIdRow = all.agg(max("doc_id")).first()
        require(!maxIdRow.isNullAt(0),
          s"documents table at $d is empty — cannot stage the " +
            "streaming-pipeline fixture")
        val maxId = maxIdRow.getLong(0)
        val cuts = Seq(maxId / 3, 2 * maxId / 3)
        val chunks = Seq(
          all.filter(col("doc_id") <= cuts(0)),
          all.filter(col("doc_id") > cuts(0) && col("doc_id") <= cuts(1)),
          all.filter(col("doc_id") > cuts(1)),
          all) // re-crawl: all duplicates, the index must reject 100%
        val srcDir = new java.io.File(s"$base/stream_src")
        srcDir.mkdirs()
        chunks.zipWithIndex.foreach { case (c, i) =>
          val tmp = s"$base/_stage_$i"
          c.coalesce(1).write.mode("overwrite").parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .find(_.getName.endsWith(".parquet")).get
          val dst = new java.io.File(srcDir, f"chunk_$i%02d.parquet")
          java.nio.file.Files.move(part.toPath, dst.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          dst.setLastModified(1000000L * (i + 1)): Unit
          graft.LocalFs.rmTree(new java.io.File(tmp))
        }
        val stream = s.readStream.schema(all.schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
        // the curation stages, composed ON the stream
        val cleaned = stream.select(col("doc_id"),
          cleanText(injectNoise(col("doc_id"), col("text"))).as("text"))
        val gated = TextOps.classifierScoreDF(cleaned, "doc_id", "text",
            keep = Seq("text"))
          .filter(col("w_sum") > 0)
          .select("doc_id", "text", "w_sum")
        val q = graft.streaming.StreamingDedup.run(gated, "doc_id",
          "text", corpus, s"$base/index", s"$base/_ckpt",
          rowsPerFile = 200)
        q.awaitTermination()
        done.createNewFile(): Unit
      }
      corpus
    }

  // The test tables arrive as a single parquet file = ONE input split;
  // repartition so the hash/shingle work uses every core (on a real
  // corpus the source would already be many splits).
  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select("doc_id", "text")
      .repartition(s.sparkContext.defaultParallelism)

  private def embs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism)

  /** The hybrid queries' (q_id, q_text) set — the first [[HybridNQ]]
    * documents, COLLECTED into a local relation (bounded by
    * construction: HybridNQ = 5 rows, the same driver-read class as
    * the Bm25Queries literals). A scan-derived q made every broadcast
    * evaluation that touches the query set (query-vocabulary prune,
    * per-query term table) re-run the documents scan + repartition as
    * its own scheduler job; a local relation broadcasts job-free. */
  private def hybridQueryDocs(s: SparkSession, d: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = Tables.documents(s, d).select("doc_id", "text")
      .filter(col("doc_id") < HybridNQ)
      .select(col("doc_id").as("q_id"), col("text").as("q_text"))
      .collect().sortBy(_.getLong(0))
    s.createDataFrame(rows.toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("q_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("q_text",
          org.apache.spark.sql.types.StringType, nullable = true))))
  }

  /** The dense arms' (id, vec, norm) query set — the first `n`
    * vectors, COLLECTED into a local relation (bounded: n ≤ 20 —
    * NQueryVecs/HybridNQ — of 64-dim doubles, the same driver-read
    * class as [[hybridQueryDocs]]). A scan-derived query side made
    * the broadcast evaluation re-run the embeddings scan +
    * repartition as its own scheduler job; doubles round-trip the
    * driver exactly, so the cosine inputs are bit-identical. */
  private def queryVecs(s: SparkSession, d: String, n: Long): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = SimilarityOps.withNorm(embs(s, d), "vec_id", "embedding")
      .filter(col("id") < n).collect().sortBy(_.getLong(0))
    import org.apache.spark.sql.types._
    s.createDataFrame(rows.toSeq.asJava, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("vec", ArrayType(DoubleType, containsNull = true),
        nullable = true),
      StructField("norm", DoubleType, nullable = true))))
  }

  /** Deterministic scrub-target injection (the synthetic corpus has no
    * URLs/emails/phones/IPs of its own) — shared by p_text_clean and
    * the composed pipeline so both clean something real.
    */
  private def injectNoise(id: Column, text: Column): Column =
    when(id % 5 === 0,
      concat(text, lit(" visit https://example.com/a-b_c now")))
      .when(id % 7 === 0,
        concat(text, lit(" mail info@example.org today")))
      .when(id % 11 === 0,
        concat(text, lit(" call +1 555-014-2398 now")))
      .when(id % 13 === 0,
        concat(text, lit(" from 192.168.0.17 last night")))
      .otherwise(text)

  /** The full cleaning chain (URL/email/phone/IP scrub + whitespace
    * normalization) — the map-side stage-1 transform of the composed
    * pipeline, identical to p_text_clean's digest input.
    */
  private def cleanText(text: Column): Column =
    TextOps.normalizeWs(TextOps.scrubIps(TextOps.scrubPhones(
      TextOps.scrubEmails(TextOps.scrubUrls(text)))))

  /** See CentroidCap: every 25th id, capped to a fixed count. */
  private def centroidPred =
    col("id") % 25 === 0 && col("id") < CentroidCap

  /** Embedding-corpus size per scale dir, counted once per JVM — the
    * input to the adaptive key-space/centroid sizing below (a count()
    * over one slim parquet table; trivially cheap next to the joins it
    * protects).
    */
  private val embCountCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  /** Cache key = path + file fingerprint (size + mtime), NOT the path
    * alone: a corpus regenerated or appended in place must invalidate
    * the cached count, or lshCfg would size the band space for a
    * corpus that no longer exists (the index-vs-corpus drift this
    * round's probe guard also defends against).
    */
  private def embTag(d: String): String = {
    val f = new java.io.File(s"$d/embeddings.parquet")
    val parts =
      if (f.isDirectory)
        f.listFiles().sortBy(_.getName)
          .map(p => s"${p.getName}:${p.length}:${p.lastModified}")
          .mkString("|")
      else s"${f.length}:${f.lastModified}"
    s"$d|$parts"
  }
  private def nEmbs(s: SparkSession, d: String): Long =
    embCountCache.getOrElseUpdate(embTag(d),
      Tables.embeddings(s, d).count())

  /** Corpus-size-adaptive sign-projection config: every driver SF
    * resolves to the historical 24×6 (so the static oracle SQL above
    * stays exact), larger corpora widen per LshConfig.forCorpusSize.
    */
  private def lshCfg(s: SparkSession, d: String): LshConfig =
    LshConfig.forCorpusSize(nEmbs(s, d))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: hash-groupBy on content digest, keep-min-id winner.
    "p_dedup_exact" -> { (s, d) =>
      val base = docs(s, d)
      val dup = base.select((col("doc_id") + 1000000000L).as("doc_id"),
        col("text"))
      DedupOps.exactDedup(base.unionByName(dup), "text", "doc_id")
        .select(col("doc_id"), md5(col("text")).as("digest"))
        .orderBy("doc_id")
    },

    // MinHash + LSH: per-doc shingle arrays (map-side) → map-side
    // signatures → banded buckets → candidate pairs → array_intersect
    // Jaccard verification. The shingle-array table feeds three plan
    // branches (signature + both verify sides) → persist it.
    "p_dedup_minhash_lsh" -> { (s, d) =>
      val sh = DedupOps.shingleArrays(docs(s, d), "doc_id", "text", 3)
        .persist()
      val sig = DedupOps.minhashSignature(sh, NumHashes)
      val cand = DedupOps.lshCandidates(sig, NumHashes, MinhashBands)
      DedupOps.jaccardVerify(cand, sh, JaccardThreshold)
        .orderBy("i", "j")
    },

    // SimHash: map-side 32-bit majority fingerprint, pigeonhole-banded
    // Hamming join. The signature table feeds three branches (bands +
    // two hash joins) → persist it.
    "p_dedup_simhash" -> { (s, d) =>
      val sim = DedupOps.simhash(docs(s, d), "doc_id", "text").persist()
      DedupOps.simhashPairs(sim, SimhashMaxDist).orderBy("i", "j")
    },

    // Exact n-gram Jaccard baseline (distinct-shingle equi-join).
    "p_dedup_ngram_jaccard" -> { (s, d) =>
      val sh = DedupOps.shingleTable(docs(s, d), "doc_id", "text", 3)
        .persist()
      DedupOps.exactJaccardPairs(sh, ExactJaccardThreshold)
        .orderBy("i", "j")
    },

    // Near-dup cluster resolution: pairwise Jaccard verdicts → connected
    // components (min-label propagation) → cluster id per involved doc.
    "p_dedup_clusters" -> { (s, d) =>
      val sh = DedupOps.shingleTable(docs(s, d), "doc_id", "text", 3)
        .persist()
      val pairs = DedupOps.exactJaccardPairs(sh, ExactJaccardThreshold)
        .select("i", "j")
      DedupOps.dupClusters(pairs).orderBy("id")
    },

    // END-TO-END near-dup removal — the corpus-finalization deliverable:
    // candidate pairs → connected components → keep each cluster's
    // canonical (min-id) member, drop the rest. Everything bounded by
    // the pair set; the corpus itself is touched only by the final
    // anti-join.
    "p_corpus_dedup" -> { (s, d) =>
      val base = docs(s, d)
      val sh = DedupOps.shingleTable(base, "doc_id", "text", 3)
      val pairs = DedupOps.exactJaccardPairs(sh, ExactJaccardThreshold)
        .select("i", "j")
      val losers = DedupOps.dupClusters(pairs)
        .filter(col("id") =!= col("cluster"))
        .select(col("id").as("doc_id"))
      base.join(losers, Seq("doc_id"), "left_anti")
        .select("doc_id")
        .orderBy("doc_id")
    },

    // INCREMENTAL exact dedup: a new batch (exact copies of corpus docs
    // with shifted ids + perturbed non-dup decoys) probed against the
    // STORE-BACKED digest index — the daily-crawl-vs-100TB-corpus shape:
    // corpus hashing is done once at index build; the probe's I/O is
    // zone-map-pruned to files whose hkey range covers a batch digest.
    "p_dedup_inc_exact" -> { (s, d) =>
      val dir = ensureDigestIndex(s, d)
      val base = docs(s, d)
      val batch = base.filter(col("doc_id") % 8 === 7)
        .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
        .unionByName(base.filter(col("doc_id") % 8 === 3)
          .select((col("doc_id") + 2000000000L).as("doc_id"),
            concat(col("text"), lit(" zq")).as("text")))
      DedupIndex.probeDigest(s, dir, batch, "doc_id", "text")
        .orderBy("new_id", "corpus_id")
    },

    // INCREMENTAL near-dup: a perturbed batch probed against the
    // store-backed MinHash LSH band index; candidates from the banded
    // probe, exact-Jaccard verification re-shingles only candidate
    // corpus docs.
    "p_dedup_inc_lsh" -> { (s, d) =>
      val dir = ensureLshIndex(s, d)
      val base = docs(s, d)
      val batch = base.filter(col("doc_id") % 8 === 7)
        .select((col("doc_id") + 1000000000L).as("doc_id"),
          concat(col("text"), lit(" zq zq zq")).as("text"))
      DedupIndex.probeMinhash(s, dir, batch, base, "doc_id", "text",
        shingleN = 3, numHashes = NumHashes, bands = MinhashBands,
        threshold = JaccardThreshold)
        .orderBy("i", "j")
    },

    // INCREMENTAL simhash near-dup: batch fingerprints probed against
    // the two-level index (distinct-fingerprint band pairs, then
    // member expansion) — verification is self-contained in the
    // fingerprints, no text re-fetch at all.
    "p_dedup_inc_simhash" -> { (s, d) =>
      val dir = ensureSimhashIndex(s, d)
      val base = docs(s, d)
      val batch = base.filter(col("doc_id") % 8 === 7)
        .select((col("doc_id") + 1000000000L).as("doc_id"),
          concat(col("text"), lit(" zq zq zq")).as("text"))
      DedupIndex.probeSimhash(s, dir, batch, "doc_id", "text",
        SimhashMaxDist)
        .orderBy("i", "j")
    },

    // Embedding near-dup: sign-random-projection LSH bands + exact
    // cosine verification of candidates. The GROUPED shape (canonical
    // entry point): one banding pass, rank-chunked pair loop + verify
    // inside flatMapGroups so a hot bucket is many bounded tasks —
    // proven bit-identical to the self-join form wherever the chunk
    // cap has slack (LshConfigSpec parity; driver-SF buckets are far
    // under DefaultChunkRows) and measured faster at 10×/100×
    // (SCALE.md round-6i).
    "p_dedup_embedding_lsh" -> { (s, d) =>
      val n = nEmbs(s, d)
      val cfg = lshCfg(s, d)
      val v = SimilarityOps.withNorm(embs(s, d), "vec_id", "embedding")
        .persist()
      val planes = SimilarityOps.hyperplanes(cfg.nPlanes, 64)
      SimilarityOps.lshNearDupPairsGrouped(v, planes, cfg.planesPerBand,
          CosThreshold, corpusCount = Some(n))
        .orderBy("i", "j")
    },

    // INCREMENTAL embedding near-dup: a scaled batch (cosine-identical
    // to its originals, disjoint ids) probed against the store-backed
    // sign-projection index; cosine verify fetches only candidate
    // vectors from the members dataset.
    "p_dedup_inc_embedding" -> { (s, d) =>
      val dir = ensureEmbeddingIndex(s, d)
      val batch = SimilarityOps.withNorm(
        embs(s, d).filter(col("vec_id") % 8 === 7)
          .select((col("vec_id") + 1000000000L).as("vec_id"),
            col("embedding")),
        "vec_id", "embedding")
        .select(col("id"), transform(col("vec"), x => x * 1.5).as("vec"),
          (col("norm") * 1.5).as("norm"))
      val cfg = lshCfg(s, d)
      DedupIndex.probeEmbedding(s, dir, batch,
        SimilarityOps.hyperplanes(cfg.nPlanes, 64), cfg.planesPerBand,
        CosThreshold)
        .orderBy("i", "j")
    },

    // Brute-force cosine top-k for a query subset (the exact ANN baseline).
    "p_ann_topk" -> { (s, d) =>
      val v = SimilarityOps.withNorm(embs(s, d), "vec_id", "embedding")
      // query side as a local relation (bounded: NQueryVecs = 20 rows)
      // — see hybridQueryDocs; the corpus side is then referenced once
      // and needs no persist
      SimilarityOps.bruteForceTopK(
        queryVecs(s, d, NQueryVecs), v, TopK)
        .orderBy("q_id", "rank")
    },

    // Lexical retrieval: BM25 top-k over an inverted-postings build
    // (one (id, term) shuffle; query terms broadcast against the
    // postings so the corpus streams once). Integer micro-unit
    // contributions make the per-doc sum order-independent — see
    // RetrievalOps scaladoc for the determinism contract.
    "p_bm25_topk" -> { (s, d) =>
      val q = s.createDataFrame(Bm25Queries).toDF("q_id", "q_text")
      RetrievalOps.bm25TopK(docs(s, d), "doc_id", "text", q, Bm25K)
        .orderBy("q_id", "rank")
    },

    // INDEXED BM25: the same queries through the store-backed postings
    // index (built on the %5!=0 split, the rest ADDED incrementally —
    // kv scalars bumped under the lock); query terms hash to zone-map
    // points so only covering postings files are read. Results are
    // identical to p_bm25_topk by construction: ONE oracle gates both.
    "p_bm25_indexed" -> { (s, d) =>
      val dir = ensureBm25Index(s, d)
      val q = s.createDataFrame(Bm25Queries).toDF("q_id", "q_text")
      Bm25Index.topK(s, dir, q, Bm25K).orderBy("q_id", "rank")
    },

    // DOCUMENT TAKEDOWN (see ensureTakedownIndex): BM25 over the full
    // corpus, then Bm25Index.remove of the % 13 == 2 split — scored
    // BEFORE any compaction, so the oracle equality gates the live
    // tombstone anti-join AND the decremented N/Σdl normalizers (a
    // stale scalar shifts every score; a leaked posting shifts ranks).
    "p_bm25_takedown" -> { (s, d) =>
      val dir = ensureTakedownIndex(s, d)
      val q = s.createDataFrame(Bm25Queries).toDF("q_id", "q_text")
      Bm25Index.topK(s, dir, q, Bm25K).orderBy("q_id", "rank")
    },

    // THE COMPOSED DAILY CRAWL DAY (see ensureCrawlDay): probe every
    // index with the new batch -> decontaminate -> dedup survivors ->
    // add survivors to every index as delta segments -> score the
    // fixed queries against the POST-ADD BM25 index. The oracle
    // replays the whole loop in SQL (splits, gram overlap, digest
    // dedup, keep-first, BM25 over corpus ∪ survivors), so one hash
    // equality gates the full incremental pipeline end to end.
    "p_crawl_day" -> { (s, d) =>
      val root = ensureCrawlDay(s, d)
      val q = s.createDataFrame(Bm25Queries).toDF("q_id", "q_text")
      Bm25Index.topK(s, s"$root/bm25", q, Bm25K).orderBy("q_id", "rank")
    },

    // Hybrid retrieval: reciprocal-rank fusion of the lexical (BM25)
    // and dense (brute cosine) arms for the first HybridNQ documents
    // (doc_id ↔ vec_id aligned). Each arm contributes quantized
    // 1/(60+rank); the lexical arm naturally ranks the query document
    // itself first (its own text IS the query), the dense arm excludes
    // self — the fused list therefore mixes both behaviors, exactly
    // replayed by the oracle.
    "p_hybrid_rrf" -> { (s, d) =>
      val dd = docs(s, d)
      // the HybridNQ query docs are a bounded literal-sized set (5
      // rows): collect them ONCE into a local relation so the several
      // broadcast evaluations deriving from q (qterms, per-query term
      // explode) cost no scan+shuffle jobs — with the scan-derived q,
      // every broadcast re-ran the documents scan + repartition
      val q = hybridQueryDocs(s, d)
      // both arms LAZY since r14 (see bm25TopK): each feeds the fusion
      // union exactly once under the caller's single action, so the
      // eager persist/localCheckpoint pins (and their scheduler jobs)
      // bought nothing — the r11 leak they fixed is gone structurally
      val lex = RetrievalOps.bm25TopK(dd, "doc_id", "text", q, RrfPool)
        .select("q_id", "doc_id", "rank")
      val v = SimilarityOps.withNorm(embs(s, d), "vec_id", "embedding")
      val sem = SimilarityOps.bruteForceTopK(
          queryVecs(s, d, HybridNQ), v, RrfPool)
        .select(col("q_id"), col("vec_id").as("doc_id"), col("rank"))
      RetrievalOps.rrfFuse(lex, sem, FusedK).orderBy("q_id", "rank")
    },

    // THREE-arm hybrid: BM25 + dense cosine + a global document-length
    // prior (n_chars desc — "prefer substantial documents"), fused by
    // the N-ary RRF (one union + one groupBy-sum exchange regardless
    // of arm count). The prior arm is query-independent: every query
    // crosses the same ranked doc list — the recency/quality-prior
    // shape real hybrid stacks bolt onto lexical+dense retrieval.
    "p_hybrid_rrf3" -> { (s, d) =>
      val dd = docs(s, d)
      // local-relation query set + lazy arms — see p_hybrid_rrf
      val q = hybridQueryDocs(s, d)
      val lex = RetrievalOps.bm25TopK(dd, "doc_id", "text", q, RrfPool)
        .select("q_id", "doc_id", "rank")
      val v = SimilarityOps.withNorm(embs(s, d), "vec_id", "embedding")
      val sem = SimilarityOps.bruteForceTopK(
          queryVecs(s, d, HybridNQ), v, RrfPool)
        .select(col("q_id"), col("vec_id").as("doc_id"), col("rank"))
      // distributed top-k (TakeOrderedAndProject), NOT a global window
      // over the corpus: only the RrfPool survivors see the
      // single-partition rank window
      val topPrior = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("n_chars").desc, col("doc_id")).limit(RrfPool)
      val wPrior = Window.orderBy(col("n_chars").desc, col("doc_id"))
      val priorDocs = topPrior
        .withColumn("rank", row_number().over(wPrior))
        .select("doc_id", "rank")
      val prior = q.select(col("q_id")).crossJoin(broadcast(priorDocs))
      RetrievalOps.rrfFuseN(Seq(lex, sem, prior), FusedK)
        .orderBy("q_id", "rank")
    },

    // IVF ANN: deterministic coarse quantizer (every 25th id, fixed
    // cap — see CentroidCap),
    // nearest-centroid inverted lists, probe the 4 nearest lists.
    "p_ann_ivf" -> { (s, d) =>
      val v = SimilarityOps.withNorm(embs(s, d), "vec_id", "embedding")
        .persist()
      // local-relation query set (r15, VERDICT r14 #4) — see queryVecs:
      // a scan-derived query side re-ran the embeddings scan +
      // repartition per broadcast evaluation
      SimilarityOps.ivfTopK(
        queryVecs(s, d, NQueryVecs), v,
        centroidPred, nProbe = 4, k = TopK)
        .orderBy("q_id", "rank")
    },

    // Perceptual hash over the payload bytes (image-aHash shape at
    // byte granularity): evenly-sampled values, mean-threshold bits,
    // 60-bit pack — plugs into the simhash banding for perceptual
    // near-dup pairs. The hash computation is the gated part.
    "p_multimodal_phash" -> { (s, d) =>
      MultimodalOps.withAHash(
          docs(s, d).filter(length(col("text")) > 0),
          "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // Weighted mixture with deterministic fractional upsampling:
    // English 2.3 epochs (every doc twice, a fixed 30% thrice), the
    // rest downsampled to half an epoch — one operator covers both
    // sides of a Pile/Dolma-style mix.
    "p_data_mix" -> { (s, d) =>
      val base = Tables.documents(s, d).select("doc_id", "lang")
      SampleOps.upsampleMix(Seq(
          ("en", base.filter(col("lang") === "en"), 2.3),
          ("rest", base.filter(col("lang") =!= "en"), 0.5)),
        "doc_id")
        .orderBy("source", "id", "copy")
    },

    // Centroid TRAINING: one deterministic Lloyd iteration from the
    // seed centroids — assignment (broadcast quantizer) + decimal-
    // exact per-dimension means. Iterating this is distributed
    // k-means; one step is enough to oracle-gate both phases.
    "p_kmeans_step" -> { (s, d) =>
      val v = SimilarityOps.withNorm(embs(s, d), "vec_id", "embedding")
      SimilarityOps.kmeansStep(v, v.filter(centroidPred))
        .orderBy("cid", "dim")
    },

    // Semantic (cluster-scoped) near-dup: SemDeDup shape — coarse
    // semantic clusters from the IVF quantizer, exact cosine only
    // within a cluster. The cap is set BELOW the driver-SF cluster
    // sizes so the rank-chunk budget path (the 100 TB skew backstop)
    // is actively exercised and oracle-gated: the oracle replicates
    // the chunk rule (|chunk diff| <= 1 on the centroid-cosine rank),
    // not just the uncapped self-join.
    "p_dedup_semantic" -> { (s, d) =>
      val v = SimilarityOps.withNorm(embs(s, d), "vec_id", "embedding")
        .persist()
      // k ∝ √n centroid sizing as code: resolves to centroidPred at
      // every driver SF (floor 200 centroids = CentroidCap/25, pinned
      // by spec), grows past 40k vectors so cluster sizes — and with
      // them the chunk-cap recall deduction — stay flat with corpus
      // single-ranking form HERE because the oracle replicates the
      // rank-window rule in SQL; the dual-ranking default's extra
      // rescues hinge on xxhash64, which DuckDB cannot reproduce —
      // dual behavior is spec-gated instead (RecallFloorSpec,
      // CurationPropertySpec sandwich)
      SimilarityOps.semanticDupPairs(v,
          SimilarityOps.centroidFilterForCorpus(nEmbs(s, d)),
          CosThreshold, maxClusterSize = SemanticChunk,
          dualChunkProjections = false)
        .orderBy("i", "j")
    },

    // IVF-PQ (asymmetric distance): same coarse probes as p_ann_ivf,
    // but candidates scored from 4-byte PQ codes via a per-query
    // lookup table — corpus vectors untouched at search time. The
    // memory shape that keeps a 100 TB vector index in page cache.
    "p_ann_ivfpq" -> { (s, d) =>
      val v = SimilarityOps.withNorm(embs(s, d), "vec_id", "embedding")
        .persist()
      val cb = SimilarityOps.pqCodebook(v, PqM, PqK, PqStep)
      // local-relation query set — see p_ann_ivf
      SimilarityOps.ivfPqTopK(
        queryVecs(s, d, NQueryVecs), v,
        centroidPred, cb, nProbe = 4, k = TopK)
        .orderBy("q_id", "rank")
    },

    // IVF against the STORE-BACKED index: inverted lists persisted as
    // an OrderedDataset ordered on cid, probes become zone-map-pruned
    // range reads — same results as p_ann_ivf, different (serving)
    // plumbing.
    "p_ann_ivf_indexed" -> { (s, d) =>
      val dir = ensureIvfIndex(s, d)
      val v = SimilarityOps.withNorm(embs(s, d), "vec_id", "embedding")
        .persist()
      // search() collects the (bounded) probe table eagerly, so the
      // returned plan no longer references v — release the cache here
      // rather than leaking it for the session (ADVICE r2)
      // local-relation query set — see p_ann_ivf
      try IvfIndex.search(s, dir,
        queryVecs(s, d, NQueryVecs),
        v.filter(centroidPred), nProbe = 4, k = TopK)
        .orderBy("q_id", "rank")
      finally v.unpersist()
    },

    // IVF-PQ against the STORE-BACKED code lists: probes are zone-map-
    // pruned range reads as p_ann_ivf_indexed, but the lists hold only
    // 4-byte PQ codes (no vector payloads on disk at all) — same
    // results as p_ann_ivfpq by construction.
    "p_ann_ivfpq_indexed" -> { (s, d) =>
      val dir = ensurePqIndex(s, d)
      val v = SimilarityOps.withNorm(embs(s, d), "vec_id", "embedding")
        .persist()
      val cb = SimilarityOps.pqCodebook(v, PqM, PqK, PqStep)
      // local-relation query set — see p_ann_ivf
      try IvfIndex.searchPq(s, dir,
        queryVecs(s, d, NQueryVecs),
        v.filter(centroidPred), cb, nProbe = 4, k = TopK)
        .orderBy("q_id", "rank")
      finally v.unpersist()
    },

    // Embedding normalization + symmetric int8 quantization (map-side,
    // no shuffle): the standard 4x compression step before ANN serving.
    "p_embed_quantize" -> { (s, d) =>
      SimilarityOps.normalizeQuantize(embs(s, d), "vec_id", "embedding")
        .select(
          col("id").as("vec_id"),
          round(col("sc"), 6).as("scale6"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
          md5(array_join(transform(col("q"), _.cast("string")), ",")
            .cast("binary")).as("q_digest"))
        .orderBy("vec_id")
    },

    // n-gram-profile language ID (deterministic heuristic + tie-break).
    "p_text_langid" -> { (s, d) =>
      TextOps.withLangId(docs(s, d), "text")
        .select("doc_id", "lang_guess", "best_score")
        .orderBy("doc_id")
    },

    // Deterministic stratified sampling: md5-prefix membership with a
    // per-language rate (50% en, 25% rest) — reproducible across runs,
    // engines and partitionings; map-side predicate, no shuffle.
    "p_sample_stratified" -> { (s, d) =>
      val withLang = TextOps.withLangId(docs(s, d), "text")
      SampleOps.stratifiedSample(withLang, col("lang_guess"), "doc_id",
        Map("en" -> SampleRateEn), SampleRateDefault)
        .select("doc_id", "lang_guess")
        .orderBy("doc_id")
    },

    // Quality scoring: exact counts + rounded ratios.
    "p_text_quality" -> { (s, d) =>
      docs(s, d).select(col("doc_id") +: TextOps.qualityCols(col("text")): _*)
        .orderBy("doc_id")
    },

    // Token counting: whitespace + BPE-ish regex tokens.
    "p_text_tokens" -> { (s, d) =>
      docs(s, d).select(
        col("doc_id"),
        size(TextOps.wsTokens(col("text"))).cast("long").as("n_ws_tokens"),
        size(TextOps.regexTokens(col("text"))).cast("long")
          .as("n_regex_tokens"))
        .orderBy("doc_id")
    },

    // REAL BPE token counting (VERDICT r10 #3): the greedy merge loop
    // under a loadable merges table, one codegen'd map-side call per
    // row; the DuckDB oracle replays the same merges as a rank-ordered
    // replace chain (equivalence: Bpe scaladoc + BpeSpec).
    "p_text_tokens_bpe" -> { (s, d) =>
      docs(s, d).select(
        col("doc_id"),
        size(TextOps.wsTokens(col("text"))).cast("long").as("n_ws_tokens"),
        TextOps.nTokensBpe(col("text")).as("n_bpe_tokens"))
        .orderBy("doc_id")
    },

    // The token SEQUENCE itself ('|'-joined for the hash compare):
    // what a downstream training-data writer materializes.
    "p_text_bpe_encode" -> { (s, d) =>
      docs(s, d).select(
        col("doc_id"),
        array_join(graft.functions.Bpe.bpeTokens(col("text"),
          graft.functions.Bpe.fixtureTable), "|").as("bpe_tokens"))
        .orderBy("doc_id")
    },

    // Cleaning: URL scrub + email (PII) masking + whitespace
    // normalization over deterministically injected patterns (the
    // synthetic corpus has none of its own). Map-side regexp chains.
    "p_text_clean" -> { (s, d) =>
      val injected = docs(s, d).select(col("doc_id"),
        injectNoise(col("doc_id"), col("text")).as("text"))
      injected.select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(TextOps.UrlRe), lit(0)))
            .cast("long").as("n_urls"),
          size(regexp_extract_all(col("text"), lit(TextOps.EmailRe), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(col("text"), lit(TextOps.PhoneRe), lit(0)))
            .cast("long").as("n_phones"),
          size(regexp_extract_all(col("text"), lit(TextOps.Ipv4Re), lit(0)))
            .cast("long").as("n_ips"),
          md5(cleanText(col("text"))).as("clean_digest"))
        .orderBy("doc_id")
    },

    // Rolling 8-gram fingerprint (min/max md5 shingle).
    "p_text_fingerprint" -> { (s, d) =>
      TextOps.fingerprintDF(docs(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Segment-level dedup: 10-word blocks occurring in >= 2 distinct
    // docs are dropped corpus-wide, docs reassembled (digested).
    "p_segment_dedup" -> { (s, d) =>
      DedupOps.segmentDedup(docs(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Duplicated-SPAN removal: overlapping k-grams, any alignment,
    // GLOBAL occurrence counting (a doubled passage inside one doc is
    // removed too); maximal covered runs merged. Injected shared tails
    // — see SpanBoiler constants.
    "p_span_dedup" -> { (s, d) =>
      DedupOps.spanDedup(injectedSpanDocs(s, d), "doc_id", "text",
          SpanK)
        .orderBy("doc_id")
    },

    // INCREMENTAL span dedup: the %5==0 batch stripped against the
    // persisted gram-occurrence index built over the rest — the
    // spanDedup rule evaluated over corpus ∪ batch restricted to the
    // batch (SpanIndexSpec proves the equality), so the oracle is
    // p_span_dedup's CTE chain filtered to batch documents.
    "p_span_dedup_inc" -> { (s, d) =>
      val dir = ensureSpanIndex(s, d)
      DedupIndex.dedupBatchSpans(s, dir,
          injectedSpanDocs(s, d).filter(col("doc_id") % 5 === 0),
          "doc_id", "text", SpanK)
        .orderBy("doc_id")
    },

    // COUNT-KIND TAKEDOWN (see ensureSpanTakedownIndex): the %7==3
    // sub-split of the indexed corpus taken down as a NEGATIVE
    // decrement segment — contributions recomputed from its text at
    // cost ∝ removed docs, never an index rewrite or rebuild. The
    // batch probes the live base+decrement sum; the oracle's universe
    // never held the removed docs, so one hash equality gates the
    // recompute, the cross-segment sum, and the zero clamp together.
    "p_spans_takedown" -> { (s, d) =>
      val dir = ensureSpanTakedownIndex(s, d)
      DedupIndex.dedupBatchSpans(s, dir,
          injectedSpanDocs(s, d).filter(col("doc_id") % 5 === 0),
          "doc_id", "text", SpanK)
        .orderBy("doc_id")
    },

    // BPE-TOKEN span dedup (VERDICT r11 stretch): the same
    // duplicated-span geometry over the BPE token stream — the
    // representation the substring-dedup literature (and packSequences)
    // actually operate on. Sub-word grams catch duplicates word-level
    // graming can't see across tokenizer merges; oracle replays the
    // merge chain, then the identical lag-window CTEs.
    "p_span_dedup_bpe" -> { (s, d) =>
      DedupOps.spanDedupTokens(injectedSpanDocs(s, d), "doc_id",
          graft.functions.Bpe.bpeTokens(col("text"),
            graft.functions.Bpe.fixtureTable), SpanK)
        .orderBy("doc_id")
    },

    // INCREMENTAL segment dedup: the batch split (doc_id % 5 == 0)
    // boilerplate-stripped against the persisted segment-frequency
    // index of the corpus split — identical to whole-corpus
    // segmentDedup restricted to the batch, at probe cost ∝ batch.
    "p_segment_dedup_inc" -> { (s, d) =>
      val dir = ensureSegmentIndex(s, d)
      DedupIndex.dedupBatchSegments(s, dir,
          docs(s, d).filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Char-trigram LM scoring (CCNet-style perplexity filter): the
    // corpus-trained add-one-smoothed trigram model broadcast to a
    // per-occurrence scoring join; fixed-point integer accumulation
    // keeps the per-doc sum engine/partition-order exact.
    "p_text_perplexity" -> { (s, d) =>
      TextOps.trigramLmDF(docs(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Deterministic per-group cap: at most N docs per detected
    // language, chosen by md5-bucket order (WindowGroupLimit keeps
    // per-partition top-N before the stratum shuffle).
    "p_sample_capped" -> { (s, d) =>
      val withLang = TextOps.withLangId(docs(s, d), "text")
      SampleOps.capPerGroup(withLang, col("lang_guess"), "doc_id",
          CapPerLang)
        .select("doc_id", "lang_guess")
        .orderBy("doc_id")
    },

    // Hashed-linear quality classifier (fasttext-filter shape):
    // map-side integer weight sum over distinct words, one
    // division+round at the end; keep = sign of the integer sum (no
    // double-rounding ambiguity).
    "p_quality_classifier" -> { (s, d) =>
      TextOps.classifierScoreDF(docs(s, d), "doc_id", "text")
        .withColumn("keep", col("w_sum") > 0)
        .orderBy("doc_id")
    },

    // Intra-document repetition signals (Gopher-style filters at word
    // granularity): duplicate-word fraction map-side, top-bigram mode
    // via explode + partial-agg, joined on doc_id.
    "p_text_repetition" -> { (s, d) =>
      TextOps.repetitionDF(docs(s, d), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // Deterministic corpus shuffle: reproducible (shard, pos)
    // coordinates — round-robin shard, md5-rank position. One keyed
    // window, no global sort, partitioning-independent.
    "p_shuffle_coords" -> { (s, d) =>
      SampleOps.shuffleCoords(docs(s, d), "doc_id", PackShards)
        .select("doc_id", "shard", "pos")
        .orderBy("doc_id")
    },

    // Proportional curation gate: the best half of every LABELED
    // language by classifier score (integer w_sum order, id tiebreak;
    // the kept count per stratum is decided in integer arithmetic).
    // Scoring keeps `lang` in its projection — ONE map-side pass, no
    // corpus×corpus self-join to reunite score and label.
    "p_quality_topfrac" -> { (s, d) =>
      val base = Tables.documents(s, d).select("doc_id", "text", "lang")
        .repartition(s.sparkContext.defaultParallelism)
      val scored = TextOps.classifierScoreDF(base, "doc_id", "text",
        keep = Seq("lang"))
      SampleOps.topFracPerGroup(scored, col("lang"),
          Seq(col("w_sum").desc, col("doc_id")), 1, 2)
        .select("doc_id", "lang", "w_sum")
        .orderBy("doc_id")
    },

    // Greedy token-budget selection: best docs first (classifier
    // order) until each shard's token budget fills — "the best B
    // tokens per training file". The token count rides through the
    // scoring projection (keep), so the whole query is one map-side
    // pass + one per-shard window shuffle.
    "p_token_budget" -> { (s, d) =>
      val withTok = docs(s, d)
        .select(col("doc_id"), col("text"),
          size(TextOps.wsTokens(col("text"))).cast("long").as("n_tokens"))
      val scored = TextOps.classifierScoreDF(withTok, "doc_id", "text",
        keep = Seq("n_tokens"))
      SampleOps.tokenBudgetPerShard(scored, "doc_id", col("n_tokens"),
          Seq(col("w_sum").desc), PackShards, TokenBudget)
        .select("doc_id", "shard", "n_tokens", "cum_tokens")
        .orderBy("doc_id")
    },

    // The budget twin under REAL tokenizer tokens (VERDICT r10 #3):
    // identical greedy best-first selection, but the per-doc cost is
    // the BPE count — what a training-data budget is actually set in.
    // Same plan shape as p_token_budget: one map-side scoring pass +
    // one per-shard window shuffle.
    "p_token_budget_bpe" -> { (s, d) =>
      val withTok = docs(s, d)
        .select(col("doc_id"), col("text"),
          TextOps.nTokensBpe(col("text")).as("n_tokens"))
      val scored = TextOps.classifierScoreDF(withTok, "doc_id", "text",
        keep = Seq("n_tokens"))
      SampleOps.tokenBudgetPerShard(scored, "doc_id", col("n_tokens"),
          Seq(col("w_sum").desc), PackShards, TokenBudget)
        .select("doc_id", "shard", "n_tokens", "cum_tokens")
        .orderBy("doc_id")
    },

    // Per-doc contamination FRACTION (not just the hit set): every
    // train doc's matched-gram share against the eval split — the
    // number a curation policy actually thresholds. Single shingling
    // pass, left join on the AQE-broadcast eval grams, one aggregate.
    "p_contam_fraction" -> { (s, d) =>
      val base = docs(s, d)
      val bucket = SampleOps.hashBucket(col("doc_id"))
      val thr = lit(SampleOps.thresholdHex(EvalRate))
      ContaminationOps.overlapFraction(
          base.filter(bucket >= thr), base.filter(bucket < thr),
          "doc_id", "text", ContamN)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // Corpus-internal boilerplate: fraction of each doc's trigram
    // shingles whose document frequency reaches BoilerDfMin — template
    // text scores high; a keep-filter on boiler_frac is the curation
    // knob.
    "p_text_boilerplate" -> { (s, d) =>
      TextOps.boilerplateFrac(docs(s, d), "doc_id", "text",
          BoilerN, BoilerDfMin)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // Benchmark decontamination: training docs sharing any word 5-gram
    // with the (md5-deterministic 10%) eval split. Train-side shingles
    // equi-join the distinct eval-gram set; AQE broadcasts the
    // benchmark-sized eval side on its own.
    "p_decontaminate" -> { (s, d) =>
      val base = docs(s, d)
      val bucket = SampleOps.hashBucket(col("doc_id"))
      val thr = lit(SampleOps.thresholdHex(EvalRate))
      ContaminationOps.overlap(
        base.filter(bucket >= thr), base.filter(bucket < thr),
        "doc_id", "text", ContamN)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // Decontamination at the 100 TB plan shape: eval n-grams collected
    // once into a driver-built Bloom filter, applied as a codegen'd
    // map-side predicate over the training shingles BEFORE the join;
    // the exact equi-join removes Bloom false positives, so the result
    // (and oracle) is identical to p_decontaminate.
    "p_decontaminate_bloom" -> { (s, d) =>
      val base = docs(s, d)
      val bucket = SampleOps.hashBucket(col("doc_id"))
      val thr = lit(SampleOps.thresholdHex(EvalRate))
      ContaminationOps.bloomOverlap(
        base.filter(bucket >= thr), base.filter(bucket < thr),
        "doc_id", "text", ContamN)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // Decontamination against the PERSISTED index: the eval grams were
    // shingled once at index build (fixture); the probe pays only the
    // batch's shingling + Bloom prefilter + a zone-map-pruned index
    // read. Same split, same semantics, same oracle as p_decontaminate.
    "p_decontaminate_inc" -> { (s, d) =>
      val dir = ensureContamIndex(s, d)
      val base = docs(s, d)
      val bucket = SampleOps.hashBucket(col("doc_id"))
      val thr = lit(SampleOps.thresholdHex(EvalRate))
      ContaminationOps.probeIndex(s, dir, base.filter(bucket >= thr),
        "doc_id", "text", ContamN)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // FUZZY decontamination: near-duplicates of eval docs (benchmark
    // items leaked into training data with light edits) caught by a
    // banded minhash-LSH screen with the eval bands broadcast, exact
    // whole-doc Jaccard verified. The eval fixture is a derived
    // mutation — every %10==3 doc with junk tokens appended under a
    // fresh id — so the flagged pairs are KNOWN leaks whose Jaccard
    // the mutation controls (long docs pass the 0.8 bar, short ones
    // honestly fall below it).
    "p_decontaminate_fuzzy" -> { (s, d) =>
      val base = docs(s, d)
      ContaminationOps.fuzzyOverlap(base, fuzzyEval(base), "doc_id",
          "text", 3, NumHashes, MinhashBands, JaccardThreshold)
        .select(col("i").as("doc_id"), col("j").as("eval_id"),
          col("jac"))
        .orderBy("doc_id", "eval_id")
    },

    // FUZZY decontamination against the PERSISTED eval screen, at its
    // designed regime — the INGEST DOOR: the eval set's banded
    // minhash signatures are indexed ONCE (and grow incrementally as
    // new benchmark versions land — the same LSM segment adds every
    // store-backed index uses), and each ARRIVING BATCH (here the
    // day's 40% slice, chosen to contain every planted leak origin)
    // pays only its own map-side signatures + a band probe of the
    // benchmark-sized index. Probing the WHOLE corpus through the
    // batch API instead is the wrong tool and measured as such —
    // 68 vs 26 s at 100× (SCALE.md r14e): probeMinhash deliberately
    // does not persist the batch lineage (cost ∝ increment by
    // design), so a corpus-sized "batch" re-pays its signatures;
    // the index-free screen above IS the whole-corpus shape.
    "p_decontaminate_fuzzy_inc" -> { (s, d) =>
      val dir = ensureFuzzyContamIndex(s, d)
      val base = docs(s, d)
      DedupIndex.probeMinhash(s, dir,
          base.filter(col("doc_id") % 5 >= 3), fuzzyEval(base),
          "doc_id", "text", 3, NumHashes, MinhashBands,
          JaccardThreshold, checkpointCandidates = true)
        .select(col("j").as("doc_id"), col("i").as("eval_id"),
          col("jac"))
        .orderBy("doc_id", "eval_id")
    },

    // Streaming ingest dedup: the documents table replayed as four
    // micro-batches (three crawl-day chunks + a full re-crawl) through
    // foreachBatch probe-and-append against the store-backed digest
    // index; readback of the accepted corpus. Equals one-shot exact
    // dedup keeping the min doc_id per digest.
    "t13_streaming_dedup" -> { (s, d) =>
      val corpus = ensureStreamingDedup(s, d)
      new graft.store.OrderedDataset(s, corpus).df
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    // The t13 crawl with a BLOCKLIST at the door (the ingest twin of
    // p_bm25_takedown's index takedown): recalled content — the
    // doc_id % 9 == 4 split's digests, persisted as a digest index
    // BEFORE the stream — never enters the corpus, across the initial
    // chunks AND the full re-crawl; everything else dedups keep-first
    // exactly as t13. The oracle filters by content digest, so docs
    // merely SHARING a recalled doc's text are rejected too (content
    // recall, not id recall).
    "t19_streaming_block" -> { (s, d) =>
      val corpus = ensureStreamingBlock(s, d)
      new graft.store.OrderedDataset(s, corpus).df
        .select("doc_id", "text").orderBy("doc_id")
    },

    // The COMPOSED curation chain AS A STREAM: clean + classifier
    // quality gate are ordinary transformations of the streaming
    // frame, the store-backed digest dedup ingests what survives, and
    // the re-crawl batch is rejected wholesale by the index. Readback
    // of the accepted corpus equals the one-shot batch chain (clean →
    // gate → keep-min-id dedup) — the streaming twin of
    // p_pipeline_e2e's front half, oracle-gated end to end.
    "t18_streaming_pipeline" -> { (s, d) =>
      val corpus = ensureStreamingPipeline(s, d)
      new graft.store.OrderedDataset(s, corpus).df
        .select(col("doc_id"), md5(col("text")).as("digest"),
          col("w_sum"))
        .orderBy("doc_id")
    },

    // Concat-and-chunk sequence packing: deterministic shards, running
    // token offsets per shard (keyed window — no global sort), chunk
    // span per doc at a fixed token capacity.
    "p_pack_chunks" -> { (s, d) =>
      PackOps.packChunks(docs(s, d), "doc_id",
          size(TextOps.wsTokens(col("text"))), PackShards, PackCapacity)
        .select("doc_id", "shard", "n_tokens", "start_off",
          "chunk_first", "chunk_last")
        .orderBy("doc_id")
    },

    // Materialized training sequences from REAL BPE token arrays:
    // per-shard concat in id order, cut every SeqLen tokens, document
    // boundaries carried (n_docs), digest standing in for the written
    // sequence. The emit half of p_pack_chunks' coordinates.
    "p_seq_pack" -> { (s, d) =>
      PackOps.packSequences(docs(s, d), "doc_id",
          graft.functions.Bpe.bpeTokens(col("text"),
            graft.functions.Bpe.fixtureTable),
          PackShards, SeqLen)
        .orderBy("shard", "seq_id")
    },

    // Corpus-wide top-k word trigrams by document frequency: partial
    // agg on the gram, then TakeOrderedAndProject (per-partition top-k,
    // no global sort materialization).
    "p_topk_ngrams" -> { (s, d) =>
      DedupOps.shingleTable(docs(s, d), "doc_id", "text", 3)
        .groupBy("g").agg(count(lit(1)).as("doc_freq"))
        .orderBy(col("doc_freq").desc, col("g")).limit(TopNgrams)
    },

    // Whole-corpus summary stats in one exploded pass: totals are
    // map-side partial aggregates; the two exact count-distincts
    // expand to Catalyst's standard two-stage distinct aggregate (one
    // shuffle of slim distinct pairs, no driver-side set). Every doc
    // has >= 1 token (split of "" is [""]), so count_distinct(doc_id)
    // over the exploded rows is the exact doc count.
    "p_corpus_stats" -> { (s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          explode(TextOps.wsTokens(col("text"))).as("w"))
        .agg(
          count_distinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_words_total"),
          count_distinct(col("w")).as("vocab"))
    },

    // Multimodal frame sampling: every 7th payload byte, fingerprinted —
    // the video-frame-sample analog over opaque binary columns.
    "p_multimodal_framesample" -> { (s, d) =>
      val bin = docs(s, d).select(col("doc_id"),
        col("text").cast("binary").as("payload"))
      MultimodalOps.frameSample(s, bin, "doc_id", "payload", 7)
        .toDF().withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // Multimodal resize: nearest-neighbor byte resample to a fixed
    // length — the image-resize analog, deterministic integer math.
    "p_multimodal_resize" -> { (s, d) =>
      val bin = docs(s, d).select(col("doc_id"),
        col("text").cast("binary").as("payload"))
      MultimodalOps.resize(s, bin, "doc_id", "payload", ResizeLen)
        .toDF().withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // Multimodal: opaque binary payload → partition-wise decode (fake
    // deterministic decoder exercising the generic Decoder plumbing;
    // the REAL image path is p_multimodal_decode_real).
    "p_multimodal_decode" -> { (s, d) =>
      val bin = docs(s, d).select(col("doc_id"),
        col("text").cast("binary").as("payload"))
      MultimodalOps.decodeFeatures(s, bin, "doc_id", "payload")
        .toDF().withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // REAL image decode round trip: deterministic synthetic PNGs
    // (every pixel closed-form in doc_id) encoded and decoded with
    // actual javax.imageio inside the partition iterator — the oracle
    // verifies width/height/luma analytically without touching bytes.
    "p_multimodal_decode_real" -> { (s, d) =>
      val imgs = MultimodalOps.synthImages(
        s, docs(s, d).select("doc_id"), "doc_id")
      MultimodalOps.decodeImages(s, imgs, "doc_id", "payload")
        .toDF().withColumnRenamed("id", "doc_id")
        .select(col("doc_id"), col("ok"), col("width"), col("height"),
          col("luma_sum"),
          round(col("luma_sum").cast("double") /
            (col("width") * col("height")), 6).as("mean_luma"))
        .orderBy("doc_id")
    },

    // REAL audio decode round trip: deterministic synthetic WAV clips
    // (every PCM sample closed-form in doc_id) through actual
    // javax.sound decoding — integer-exact sample features the oracle
    // recomputes analytically.
    "p_multimodal_audio" -> { (s, d) =>
      val clips = MultimodalOps.synthAudio(
        s, docs(s, d).select("doc_id"), "doc_id")
      MultimodalOps.decodeAudio(s, clips, "doc_id", "payload")
        .toDF().withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // REAL multi-frame sampling round trip: deterministic animated
    // GIFs (2 + id%4 solid-gray frames, every frame value closed-form
    // in doc_id) through actual ImageIO sequence decoding, every 2nd
    // frame materialized — the oracle recomputes frame counts and
    // sampled-luma analytically. The generic (no-codec) video path
    // remains the byte-stride p_multimodal_framesample stub.
    "p_multimodal_frames_real" -> { (s, d) =>
      val clips = MultimodalOps.synthGifs(
        s, docs(s, d).select("doc_id"), "doc_id")
      MultimodalOps.sampleFrames(s, clips, "doc_id", "payload", 2)
        .toDF().withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // THE COMPOSED CURATION PIPELINE — every stage above chained as
    // ONE job, the workload the engine exists for: a re-crawl batch
    // (train split + exact duplicates of a sixth of it) is cleaned
    // (scrub + ws-normalize, map-side), quality-filtered (classifier
    // w_sum > 0, one map-side scoring pass with the text riding
    // along), exact-deduped (keep-min-id per cleaned digest), embed-
    // near-dup'd (sign-LSH bands + cosine verify over the SURVIVORS'
    // vectors only), decontaminated against the held-out eval split
    // (word 5-grams of the CLEANED text vs eval's raw text), and
    // greedily packed to a per-shard token budget, best classifier
    // score first. Cross-stage plan discipline: two STAGE-BOUNDARY
    // persists — `survivors` (feeds the vector semi-join, the
    // near-dup anti-join and, through it, everything downstream) and
    // `s4` (feeds the contamination shingles and the final pack) —
    // plus the survivor-vector cache `v` the multi-pass LSH needs, so
    // the corpus is scanned once per stage boundary, not once per
    // operator; every other stage is a map-side projection or a
    // single keyed shuffle riding the chain
    // (PipelineE2eShapeSpec pins this as a failing test).
    "p_pipeline_e2e" -> { (s, d) =>
      pipelineBudgeted(s, d)
        .select("doc_id", "shard", "n_tokens", "cum_tokens")
        .orderBy("doc_id")
    },

    // The pipeline's LAST mile: the budgeted survivors BPE-tokenized
    // and emitted as fixed-length training sequences — corpus in,
    // training shards out, one composed job. Shares every stage with
    // p_pipeline_e2e (pipelineBudgeted); only the tail differs.
    // Text is tokenized UNMODIFIED — the oracle's replace-chain replay
    // wraps symbols in control chars no document contains (Bpe.WrapL/
    // WrapR since r12), so the cleaner's '<URL>' scrub markers no
    // longer need pre-stripping (the ADVICE-r11 harness-leak fix).
    "p_pipeline_shards" -> { (s, d) =>
      PackOps.packSequences(
          pipelineBudgeted(s, d).select(col("doc_id"), col("text")),
          "doc_id",
          graft.functions.Bpe.bpeTokens(col("text"),
            graft.functions.Bpe.fixtureTable),
          PackShards, SeqLen)
        .orderBy("shard", "seq_id")
    }
  )

  /** The composed curation pipeline through its token-budget stage
    * (the shared body of p_pipeline_e2e and p_pipeline_shards): split
    * → re-crawl dup injection → clean → classifier gate → exact dedup
    * → survivor-scoped embedding near-dup → decontamination → greedy
    * per-shard budget. Output keeps text/w_sum so tails can keep
    * composing. Scan/cache discipline pinned by PipelineE2eShapeSpec.
    */
  private def pipelineBudgeted(s: SparkSession, d: String): DataFrame = {
      val base = docs(s, d)
      val thr = lit(SampleOps.thresholdHex(EvalRate))
      val evalDocs = base.filter(SampleOps.hashBucket(col("doc_id")) < thr)
      val train0 = base.filter(SampleOps.hashBucket(col("doc_id")) >= thr)
      // re-crawl duplicates injected via a conditional explode, not a
      // union: the union's second branch would re-scan the whole
      // documents table (a %-predicate never pushes down) — one scan
      // feeds both the originals and their shifted copies
      val crawl = train0.select(
        explode(when(col("doc_id") % 6 === 1,
            array(col("doc_id"), col("doc_id") + DupShift))
          .otherwise(array(col("doc_id")))).as("doc_id"),
        col("text"))
      // stage 1 — clean (map-side): inject scrub targets, scrub, trim
      val cleaned = crawl.select(col("doc_id"),
        cleanText(injectNoise(col("doc_id"), col("text"))).as("text"))
      // stage 2 — quality gate: one scoring pass, w_sum carried along
      val scored = TextOps.classifierScoreDF(cleaned, "doc_id", "text",
          keep = Seq("text"))
        .filter(col("w_sum") > 0)
        .select("doc_id", "text", "w_sum")
      // stage 3 — exact dedup on the cleaned text (re-crawl copies die
      // here: min doc_id wins, originals are below DupShift)
      val survivors = DedupOps.exactDedup(scored, "text", "doc_id")
        .persist()
      // stage 4 — embedding near-dup over the survivor subset only:
      // semi-join prunes the vector table to survivors, the banded
      // grouped LSH never sees a dropped doc. corpusCount uses the
      // cached full-table count — a safe UPPER bound for the survivor
      // corpus (saturation and shape gates are conservative under it,
      // and no extra Spark action runs at plan-construction time).
      val cfg = lshCfg(s, d)
      val v = SimilarityOps.withNorm(
        embs(s, d).join(survivors.select(col("doc_id").as("vec_id")),
          Seq("vec_id"), "left_semi"),
        "vec_id", "embedding").persist()
      val pairs = SimilarityOps.lshNearDupPairsGrouped(v,
        SimilarityOps.hyperplanes(cfg.nPlanes, 64), cfg.planesPerBand,
        CosThreshold, corpusCount = Some(nEmbs(s, d)))
      val lshLosers = pairs.select(col("j").as("doc_id")).distinct()
      val s4 = survivors.join(lshLosers, Seq("doc_id"), "left_anti")
        .persist()
      // stage 5 — decontaminate: drop survivors sharing any word
      // 5-gram with the held-out eval split (AQE broadcasts the
      // benchmark-sized eval gram set on its own)
      val contaminated = ContaminationOps.overlap(s4, evalDocs,
          "doc_id", "text", ContamN)
        .select(col("id").as("doc_id"))
      val s5 = s4.join(contaminated, Seq("doc_id"), "left_anti")
      // stage 6 — pack: greedy per-shard token budget, best w_sum first
      SampleOps.tokenBudgetPerShard(
          s5.withColumn("n_tokens",
            size(TextOps.wsTokens(col("text"))).cast("long")),
          "doc_id", col("n_tokens"), Seq(col("w_sum").desc),
          PackShards, TokenBudget)
  }

  // ---------------- DuckDB oracles ----------------

  /** Distinct word-3-gram shingle CTE body. */
  private val ShingleCte =
    """sh AS (SELECT DISTINCT doc_id AS id,
              ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
         FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
              unnest(generate_series(1, len(ws) - 2)) t(i))"""

  /** DuckDB CTEs reproducing [[TextOps.classifierScoreDF]]'s integer
    * per-doc weight sum (`cagg(doc_id, n_feats, w_sum)`) — shared by
    * the classifier oracle and the curation oracles built on it. */
  private def classifierCte: String = classifierCteFrom("documents")

  /** Same classifier CTEs over an arbitrary (doc_id, text) source —
    * the composed-pipeline oracle scores CLEANED text, not raw. */
  private def classifierCteFrom(src: String): String = {
    val hexVal = (0 until 6).map { k =>
      s"(strpos('0123456789abcdef', substr(h, ${k + 1}, 1)) - 1) * " +
        s"${1L << (4 * (5 - k))}"
    }.mkString(" + ")
    s"""wrds AS (SELECT DISTINCT doc_id,
              unnest(string_split(text, ' ')) AS w FROM $src),
       wt AS (SELECT doc_id,
                CAST(($hexVal) % 2001 AS BIGINT) - 1000 AS wgt
              FROM (SELECT doc_id, md5(w) AS h FROM wrds)),
       cagg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
                 CAST(sum(wgt) AS BIGINT) AS w_sum
               FROM wt GROUP BY 1)"""
  }

  private def minhashOracle: String = {
    val sigExprs = (0 until NumHashes)
      .map(i => s"min(md5('$i|' || g)) AS s$i").mkString(", ")
    val rows = NumHashes / MinhashBands
    val bandSelects = (0 until MinhashBands).map { b =>
      val cc = (b * rows until (b + 1) * rows).map(i => s"s$i")
        .mkString(" || ")
      s"SELECT id, $b AS band_id, $cc AS sig FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH $ShingleCte,
       sig AS (SELECT id, $sigExprs FROM sh GROUP BY id),
       banded AS ($bandSelects),
       cand AS (SELECT DISTINCT a.id AS i, b.id AS j
                FROM banded a JOIN banded b
                  ON a.band_id = b.band_id AND a.sig = b.sig AND a.id < b.id),
       cnt AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
       inter AS (SELECT c.i, c.j, count(*) AS inter
                 FROM cand c
                 JOIN sh sa ON sa.id = c.i
                 JOIN sh sb ON sb.id = c.j AND sa.g = sb.g
                 GROUP BY c.i, c.j)
     SELECT inter.i, inter.j,
            inter * 1.0 / (ca.n + cb.n - inter) AS jac
     FROM inter JOIN cnt ca ON ca.id = inter.i
                JOIN cnt cb ON cb.id = inter.j
     WHERE inter * 1.0 / (ca.n + cb.n - inter) >= $JaccardThreshold
     ORDER BY i, j"""
  }

  /** Fuzzy-decontamination oracle: the cross-frame minhash screen
    * restated index-free — corpus and derived eval set shingled and
    * signed independently, banded candidates joined corpus × eval,
    * exact Jaccard verified at [[JaccardThreshold]]. Mirrors the
    * Spark side's [[ContaminationOps.fuzzyOverlap]] exactly (the
    * broadcast is a plan choice, never an answer change).
    * `batchPred` restricts the TRAIN side (the persisted-screen
    * variant probes one arriving batch) — filtering the signature CTE
    * alone suffices: candidates, verify and counts all reach train
    * docs through the candidate ids. */
  private def fuzzyDecontaminateOracle(batchPred: String = ""): String = {
    val sigExprs = (0 until NumHashes)
      .map(i => s"min(md5('$i|' || g)) AS s$i").mkString(", ")
    val rows = NumHashes / MinhashBands
    def bandSelects(src: String) = (0 until MinhashBands).map { b =>
      val cc = (b * rows until (b + 1) * rows).map(i => s"s$i")
        .mkString(" || ")
      s"SELECT id, $b AS band_id, $cc AS sig FROM $src"
    }.mkString(" UNION ALL ")
    s"""WITH $ShingleCte,
       edocs AS (SELECT doc_id + 2000000000 AS doc_id,
                   text || ' qq yy zz ww' AS text
                 FROM documents WHERE doc_id % 10 = 3),
       esh AS (SELECT DISTINCT doc_id AS id,
                 ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
               FROM (SELECT doc_id, string_split(text, ' ') AS ws
                     FROM edocs),
                    unnest(generate_series(1, len(ws) - 2)) t(i)),
       tsig AS (SELECT id, $sigExprs FROM sh $batchPred GROUP BY id),
       esig AS (SELECT id, $sigExprs FROM esh GROUP BY id),
       tband AS (${bandSelects("tsig")}),
       eband AS (${bandSelects("esig")}),
       cand AS (SELECT DISTINCT a.id AS i, b.id AS j
                FROM tband a JOIN eband b
                  ON a.band_id = b.band_id AND a.sig = b.sig),
       tcnt AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
       ecnt AS (SELECT id, count(*) AS n FROM esh GROUP BY id),
       inter AS (SELECT c.i, c.j, count(*) AS inter
                 FROM cand c
                 JOIN sh sa ON sa.id = c.i
                 JOIN esh sb ON sb.id = c.j AND sa.g = sb.g
                 GROUP BY c.i, c.j)
     SELECT inter.i AS doc_id, inter.j AS eval_id,
            inter * 1.0 / (ca.n + cb.n - inter) AS jac
     FROM inter JOIN tcnt ca ON ca.id = inter.i
                JOIN ecnt cb ON cb.id = inter.j
     WHERE inter * 1.0 / (ca.n + cb.n - inter) >= $JaccardThreshold
     ORDER BY doc_id, eval_id"""
  }

  /** Incremental-LSH oracle: the minhash pipeline run independently on
    * the corpus (`sh`, from [[ShingleCte]]) and on the derived batch
    * (`bsh`), banded candidates joined corpus × batch, exact Jaccard
    * verified — the index-free restatement of probeMinhash (the stored
    * band index IS the corpus side's banded table).
    */
  private def minhashIncOracle: String = {
    val sigExprs = (0 until NumHashes)
      .map(i => s"min(md5('$i|' || g)) AS s$i").mkString(", ")
    val rows = NumHashes / MinhashBands
    def bandSelects(src: String) = (0 until MinhashBands).map { b =>
      val cc = (b * rows until (b + 1) * rows).map(i => s"s$i")
        .mkString(" || ")
      s"SELECT id, $b AS band_id, $cc AS sig FROM $src"
    }.mkString(" UNION ALL ")
    s"""WITH $ShingleCte,
       bdocs AS (SELECT doc_id + 1000000000 AS doc_id,
                   text || ' zq zq zq' AS text
                 FROM documents WHERE doc_id % 8 = 7),
       bsh AS (SELECT DISTINCT doc_id AS id,
                 ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
               FROM (SELECT doc_id, string_split(text, ' ') AS ws
                     FROM bdocs),
                    unnest(generate_series(1, len(ws) - 2)) t(i)),
       csig AS (SELECT id, $sigExprs FROM sh GROUP BY id),
       bsig AS (SELECT id, $sigExprs FROM bsh GROUP BY id),
       cband AS (${bandSelects("csig")}),
       bband AS (${bandSelects("bsig")}),
       cand AS (SELECT DISTINCT a.id AS i, b.id AS j
                FROM cband a JOIN bband b
                  ON a.band_id = b.band_id AND a.sig = b.sig),
       ccnt AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
       bcnt AS (SELECT id, count(*) AS n FROM bsh GROUP BY id),
       inter AS (SELECT c.i, c.j, count(*) AS inter
                 FROM cand c
                 JOIN sh sa ON sa.id = c.i
                 JOIN bsh sb ON sb.id = c.j AND sa.g = sb.g
                 GROUP BY c.i, c.j)
     SELECT inter.i, inter.j,
            inter * 1.0 / (ca.n + cb.n - inter) AS jac
     FROM inter JOIN ccnt ca ON ca.id = inter.i
                JOIN bcnt cb ON cb.id = inter.j
     WHERE inter * 1.0 / (ca.n + cb.n - inter) >= $JaccardThreshold
     ORDER BY i, j"""
  }

  /** The word→digit→vote→fingerprint CTE chain of the simhash oracles,
    * parameterized by source table and CTE-name prefix (so the
    * incremental oracle can run it on two doc sets in one query);
    * produces `<p>sim(id, simhash)`. */
  private def simhashSimCtes(src: String, p: String): String = {
    val bits = DedupOps.SimhashBits
    val digits = (0 until bits / 4).map(q =>
      s"(strpos('0123456789abcdef', substr(h, ${q + 1}, 1)) - 1) AS d$q")
      .mkString(", ")
    val votes = (0 until bits).map { bit =>
      val q = bit / 4; val b = bit % 4
      s"SUM((d$q // ${1L << b}) % 2) AS v$bit"
    }.mkString(", ")
    val simbits = (0 until bits).map { bit =>
      s"(CASE WHEN 2 * v$bit >= nw THEN ${1L << bit} ELSE 0 END)"
    }.mkString(" + ")
    s"""${p}words AS (SELECT DISTINCT doc_id AS id,
              unnest(string_split(text, ' ')) AS w FROM $src),
       ${p}h AS (SELECT id, md5(w) AS h FROM ${p}words),
       ${p}digits AS (SELECT id, $digits FROM ${p}h),
       ${p}voted AS (SELECT id, count(*) AS nw, $votes FROM ${p}digits
                     GROUP BY id),
       ${p}sim AS (SELECT id, $simbits AS simhash FROM ${p}voted)"""
  }

  /** Band-PAIR key selects over a sim table, mirroring
    * DedupOps.SimhashBandPairs: key = bandVal(a)·2^bandBits + bandVal(b)
    * (fingerprint is positive, so floor division == logical shift). */
  private def simhashBandSelects(simTbl: String): String = {
    val bandBits = DedupOps.SimhashBits / DedupOps.SimhashBands
    def bv(b: Int) =
      s"((simhash // ${1L << (bandBits * b)}) % ${1L << bandBits})"
    DedupOps.SimhashBandPairs.zipWithIndex.map {
      case ((a, b), p) =>
        s"SELECT id, simhash, $p AS band_id, " +
          s"${bv(a)} * ${1L << bandBits} + ${bv(b)} AS band_val FROM $simTbl"
    }.mkString(" UNION ALL ")
  }

  private def simhashOracle: String = {
    s"""WITH ${simhashSimCtes("documents", "")},
       banded AS (${simhashBandSelects("sim")}),
       cand AS (SELECT DISTINCT a.id AS i, b.id AS j,
                       a.simhash AS sa, b.simhash AS sb
                FROM banded a JOIN banded b
                  ON a.band_id = b.band_id AND a.band_val = b.band_val
                 AND a.id < b.id)
     SELECT i, j, CAST(bit_count(xor(sa, sb)) AS INT) AS dist
     FROM cand WHERE bit_count(xor(sa, sb)) <= $SimhashMaxDist
     ORDER BY i, j"""
  }

  /** Incremental-simhash oracle: fingerprints computed independently
    * for the corpus and the derived batch, band-pair candidates joined
    * corpus × batch, Hamming-filtered — the index-free restatement of
    * probeSimhash (doc-level banding ≡ the index's distinct-fingerprint
    * banding + member expansion, see DedupOps.simhashPairs). */
  private def simhashIncOracle: String =
    s"""WITH bdocs AS (SELECT doc_id + 1000000000 AS doc_id,
                text || ' zq zq zq' AS text
              FROM documents WHERE doc_id % 8 = 7),
       ${simhashSimCtes("documents", "c")},
       ${simhashSimCtes("bdocs", "b")},
       cband AS (${simhashBandSelects("csim")}),
       bband AS (${simhashBandSelects("bsim")}),
       cand AS (SELECT DISTINCT a.id AS i, b.id AS j,
                       a.simhash AS sa, b.simhash AS sb
                FROM cband a JOIN bband b
                  ON a.band_id = b.band_id AND a.band_val = b.band_val)
     SELECT i, j, CAST(bit_count(xor(sa, sb)) AS INT) AS dist
     FROM cand WHERE bit_count(xor(sa, sb)) <= $SimhashMaxDist
     ORDER BY i, j"""

  private def planeLiteral(p: Seq[Double]): String =
    p.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]")

  private def embeddingLshOracle: String = {
    val planes = SimilarityOps.hyperplanes(NPlanes, 64)
    val bitExprs = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product(vec, ${planeLiteral(p)}) >= 0 " +
        s"THEN 1 ELSE 0 END) AS b$i"
    }.mkString(", ")
    val nBands = NPlanes / PlanesPerBand
    val bandSelects = (0 until nBands).map { b =>
      val cc = (b * PlanesPerBand until (b + 1) * PlanesPerBand)
        .map(i => s"b$i::VARCHAR").mkString(" || ")
      s"SELECT id, vec, norm, $b AS band_id, $cc AS bucket FROM bits"
    }.mkString(" UNION ALL ")
    s"""WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
              FROM embeddings),
       n AS (SELECT id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM v),
       bits AS (SELECT id, vec, norm, $bitExprs FROM n),
       banded AS ($bandSelects),
       cand AS (SELECT DISTINCT a.id AS i, b.id AS j,
              round(list_dot_product(a.vec, b.vec) / (a.norm * b.norm), 6)
                AS cos
              FROM banded a JOIN banded b
                ON a.band_id = b.band_id AND a.bucket = b.bucket
               AND a.id < b.id)
     SELECT i, j, cos FROM cand WHERE cos >= $CosThreshold
     ORDER BY i, j"""
  }

  /** DuckDB restatement of [[cleanText]] (over a column named `text`)
    * — shared by the p_text_clean, p_pipeline_e2e and
    * t18_streaming_pipeline oracles. */
  private val CleanSqlExpr =
    """trim(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(text,
             'https?://[\w./-]+', '<URL>', 'g'),
             '[\w.+-]+@[\w.-]+', '<EMAIL>', 'g'),
             '\+[0-9][0-9 -]{6,}[0-9]', '<PHONE>', 'g'),
             '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
             ' {2,}', ' ', 'g'))"""

  /** DuckDB CTE chain `inj` → `cleaned` shared by the composed
    * pipeline oracles: the deterministic injection plus the full
    * cleaning chain over `documents` (or a sub-CTE). */
  private def injectCleanCtes(src: String): String =
    s"""inj AS (SELECT doc_id,
           CASE WHEN doc_id % 5 = 0
                THEN text || ' visit https://example.com/a-b_c now'
                WHEN doc_id % 7 = 0
                THEN text || ' mail info@example.org today'
                WHEN doc_id % 11 = 0
                THEN text || ' call +1 555-014-2398 now'
                WHEN doc_id % 13 = 0
                THEN text || ' from 192.168.0.17 last night'
                ELSE text END AS text FROM $src),
       cleaned AS (SELECT doc_id, $CleanSqlExpr AS text FROM inj)"""

  /** The streaming composed-chain oracle: the batch restatement of the
    * clean → quality-gate → keep-min-id-dedup ingest (the re-crawl
    * batch contributes nothing — every digest already accepted; batch
    * order ascends by doc_id, so streaming first-accepted ==
    * min-id). */
  private def streamingPipelineOracle: String =
    s"""WITH ${injectCleanCtes("documents")},
       ${classifierCteFrom("cleaned")},
       q AS (SELECT c.doc_id, c.text, a.w_sum
             FROM cleaned c JOIN cagg a USING (doc_id)
             WHERE a.w_sum > 0),
       dd AS (SELECT doc_id, text, w_sum FROM (
             SELECT q.*, row_number() OVER (PARTITION BY md5(text)
               ORDER BY doc_id) AS rn FROM q) WHERE rn = 1)
     SELECT doc_id, md5(text) AS digest, w_sum FROM dd
     ORDER BY doc_id"""

  /** The composed-pipeline oracle CTE chain through `cum` (the budget
    * coordinates), shared by pipelineE2eOracle and
    * pipelineShardsOracle — the SQL twin of [[pipelineBudgeted]];
    * exposes `s5` (survivors: doc_id, text, w_sum) and `cum`. */
  private def pipelineE2eCtes: String = {
    val hex = SampleOps.thresholdHex(EvalRate)
    val planes = SimilarityOps.hyperplanes(NPlanes, 64)
    val bitExprs = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product(vec, ${planeLiteral(p)}) >= 0 " +
        s"THEN 1 ELSE 0 END) AS b$i"
    }.mkString(", ")
    val nBands = NPlanes / PlanesPerBand
    val bandSelects = (0 until nBands).map { b =>
      val cc = (b * PlanesPerBand until (b + 1) * PlanesPerBand)
        .map(i => s"b$i::VARCHAR").mkString(" || ")
      s"SELECT id, vec, norm, $b AS band_id, $cc AS bucket FROM bits"
    }.mkString(" UNION ALL ")
    val gram = (0 until ContamN).map(k => s"ws[i+$k]")
      .mkString(" || ' ' || ")

    s"""train0 AS (SELECT doc_id, text FROM documents
             WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) >= '$hex'),
       ev AS (SELECT doc_id, string_split(text, ' ') AS ws
             FROM documents
             WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '$hex'),
       crawl AS (SELECT doc_id, text FROM train0
             UNION ALL
             SELECT doc_id + $DupShift, text FROM train0
             WHERE doc_id % 6 = 1),
       ${injectCleanCtes("crawl")},
       ${classifierCteFrom("cleaned")},
       q AS (SELECT c.doc_id, c.text, a.w_sum
             FROM cleaned c JOIN cagg a USING (doc_id)
             WHERE a.w_sum > 0),
       dd AS (SELECT doc_id, text, w_sum FROM (
             SELECT q.*, row_number() OVER (PARTITION BY md5(text)
               ORDER BY doc_id) AS rn FROM q) WHERE rn = 1),
       v AS (SELECT e.vec_id AS id, CAST(e.embedding AS DOUBLE[]) AS vec
             FROM embeddings e JOIN dd ON e.vec_id = dd.doc_id),
       nrm AS (SELECT id, vec, sqrt(list_dot_product(vec, vec)) AS norm
             FROM v),
       bits AS (SELECT id, vec, norm, $bitExprs FROM nrm),
       banded AS ($bandSelects),
       cand AS (SELECT DISTINCT a.id AS i, b.id AS j,
              round(list_dot_product(a.vec, b.vec) / (a.norm * b.norm), 6)
                AS cos
              FROM banded a JOIN banded b
                ON a.band_id = b.band_id AND a.bucket = b.bucket
               AND a.id < b.id),
       losers AS (SELECT DISTINCT j AS doc_id FROM cand
             WHERE cos >= $CosThreshold),
       s4 AS (SELECT dd.* FROM dd
             WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
       tws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM s4),
       tsh AS (SELECT DISTINCT doc_id, $gram AS g
               FROM tws,
                 unnest(generate_series(1, len(ws) - ${ContamN - 1})) t(i)),
       esh AS (SELECT DISTINCT $gram AS g
               FROM ev,
                 unnest(generate_series(1, len(ws) - ${ContamN - 1})) t(i)),
       contam AS (SELECT DISTINCT tsh.doc_id FROM tsh JOIN esh USING (g)),
       s5 AS (SELECT s4.* FROM s4
             WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
       t AS (SELECT doc_id, CAST(doc_id % $PackShards AS BIGINT) AS shard,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               w_sum FROM s5),
       cum AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY shard
               ORDER BY w_sum DESC, doc_id ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS cum_tokens FROM t)"""
  }

  /** The composed-pipeline oracle — the full chain restated in DuckDB:
    * split → re-crawl duplicates → inject+clean → classifier gate →
    * exact dedup (min-id per cleaned digest) → sign-LSH near-dup over
    * survivor vectors (same plane literals as the Spark side, losers =
    * the j of every verified pair) → 5-gram decontamination vs the
    * held-out eval split → per-shard token-budget prefix. Like
    * [[embeddingLshOracle]], the banded self-join form is exact
    * wherever the grouped form's chunk cap has slack — survivor
    * buckets are a subset of the full-corpus buckets, which sit far
    * under DefaultChunkRows at every driver SF.
    */
  private def pipelineE2eOracle: String =
    s"""WITH $pipelineE2eCtes
     SELECT doc_id, shard, n_tokens, cum_tokens FROM cum
     WHERE cum_tokens <= $TokenBudget ORDER BY doc_id"""

  /** p_pipeline_shards: the budgeted survivors' CLEANED text through
    * the BPE replace chain and the packSequences re-pack. */
  private def pipelineShardsOracle: String =
    s"""WITH $pipelineE2eCtes,
       kept AS (SELECT s5.doc_id, s5.text FROM s5
          JOIN (SELECT doc_id FROM cum WHERE cum_tokens <= $TokenBudget)
            k USING (doc_id)),
       kt AS (SELECT doc_id,
            ${graft.functions.Bpe.duckdbTokensExpr("text")} AS tokstr
          FROM kept),
       ${packSequencesOracleTail("kt")}"""

  /** Incremental-embedding oracle: sign bits computed independently
    * for corpus and the scaled batch, banded candidates joined corpus ×
    * batch, exact cosine verified — the index-free restatement of
    * probeEmbedding. The batch norm is 1.5·sqrt(dot(orig, orig)),
    * mirroring the Spark side's scalar-scaled norm exactly. */
  private def embeddingIncOracle: String = {
    val planes = SimilarityOps.hyperplanes(NPlanes, 64)
    val bitExprs = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product(vec, ${planeLiteral(p)}) >= 0 " +
        s"THEN 1 ELSE 0 END) AS b$i"
    }.mkString(", ")
    val nBands = NPlanes / PlanesPerBand
    def bandSelects(src: String) = (0 until nBands).map { b =>
      val cc = (b * PlanesPerBand until (b + 1) * PlanesPerBand)
        .map(i => s"b$i::VARCHAR").mkString(" || ")
      s"SELECT id, vec, norm, $b AS band_id, $cc AS bucket FROM $src"
    }.mkString(" UNION ALL ")
    s"""WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
              FROM embeddings),
       n AS (SELECT id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM v),
       bv AS (SELECT vec_id + 1000000000 AS id,
                list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.5)
                  AS vec,
                1.5 * sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                  CAST(embedding AS DOUBLE[]))) AS norm
              FROM embeddings WHERE vec_id % 8 = 7),
       cbits AS (SELECT id, vec, norm, $bitExprs FROM n),
       bbits AS (SELECT id, vec, norm, $bitExprs FROM bv),
       cband AS (${bandSelects("cbits")}),
       bband AS (${bandSelects("bbits")}),
       cand AS (SELECT DISTINCT a.id AS i, b.id AS j,
              round(list_dot_product(a.vec, b.vec) / (a.norm * b.norm), 6)
                AS cos
              FROM cband a JOIN bband b
                ON a.band_id = b.band_id AND a.bucket = b.bucket)
     SELECT i, j, cos FROM cand WHERE cos >= $CosThreshold
     ORDER BY i, j"""
  }

  /** Shared BM25 oracle CTE chain — mirrors [[RetrievalOps]] literally
    * (same parenthesization, exact-binary literals 2.25/1.25/0.25/0.75,
    * integer micro-unit costs). `qSrc` must select (q_id BIGINT,
    * q_text); exposes `lranked` (q_id, id, s, n_hit, rank).
    */
  private def bm25OracleCtes(qSrc: String): String =
    bm25OracleCtesFrom(qSrc, "documents")

  /** [[bm25OracleCtes]] over an arbitrary `(doc_id, text)` source CTE
    * — the crawl-day oracle scores against corpus ∪ survivors. */
  private def bm25OracleCtesFrom(qSrc: String, docSrc: String): String =
    s"""q AS ($qSrc),
       tfreq AS (SELECT doc_id AS id, CAST(len(ws) AS BIGINT) AS dl,
            u.term, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, string_split(text, ' ') AS ws
                FROM $docSrc) t, unnest(ws) AS u(term)
          GROUP BY 1, 2, 3),
       stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(dl) AS BIGINT) AS sum_dl
          FROM (SELECT id, max(dl) AS dl FROM tfreq GROUP BY id)),
       dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df
          FROM tfreq GROUP BY 1),
       posts AS (SELECT tfreq.term, tfreq.id,
            CAST(round(1e6
              * ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE)
                  + 0.5) / (CAST(df AS DOUBLE) + 0.5))
              * (CAST(tf AS DOUBLE) * 2.25
                 / (CAST(tf AS DOUBLE) + 1.25 * (0.25
                    + 0.75 * CAST(dl AS DOUBLE)
                      / (CAST(sum_dl AS DOUBLE)
                         / CAST(n_docs AS DOUBLE))))))
              AS BIGINT) AS cost
          FROM tfreq JOIN dft USING (term) CROSS JOIN stats),
       qt AS (SELECT DISTINCT q_id, u.term
          FROM q, unnest(string_split(q_text, ' ')) AS u(term)),
       scored AS (SELECT qt.q_id, posts.id, sum(posts.cost) AS s,
            CAST(count(*) AS BIGINT) AS n_hit
          FROM posts JOIN qt USING (term) GROUP BY 1, 2),
       lranked AS (SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY s DESC, id) AS rank FROM scored)"""

  private def bm25TopkOracle: String = {
    val vals = Bm25Queries.map { case (i, t) =>
      s"(CAST($i AS BIGINT), '$t')" }.mkString(", ")
    s"""WITH ${bm25OracleCtes(
        s"SELECT * FROM (VALUES $vals) AS t(q_id, q_text)")}
     SELECT q_id, CAST(rank AS INT) AS rank, id AS doc_id,
            round(CAST(s AS DOUBLE) / 1e6, 6) AS score, n_hit
     FROM lranked WHERE rank <= $Bm25K ORDER BY q_id, rank"""
  }

  /** BM25 over documents the takedown never happened to — the fixture
    * removed them from a full-corpus index instead (tombstone +
    * scalar decrement); equality gates the live takedown path. */
  private def bm25TakedownOracle: String = {
    val vals = Bm25Queries.map { case (i, t) =>
      s"(CAST($i AS BIGINT), '$t')" }.mkString(", ")
    s"""WITH live AS (SELECT doc_id, text FROM documents
            WHERE doc_id % 13 <> 2),
       ${bm25OracleCtesFrom(
        s"SELECT * FROM (VALUES $vals) AS t(q_id, q_text)", "live")}
     SELECT q_id, CAST(rank AS INT) AS rank, id AS doc_id,
            round(CAST(s AS DOUBLE) / 1e6, 6) AS score, n_hit
     FROM lranked WHERE rank <= $Bm25K ORDER BY q_id, rank"""
  }

  /** The composed crawl-day loop in SQL (see ensureCrawlDay): same
    * splits, gram-overlap decontamination, digest dedup vs corpus,
    * keep-first within the batch, then BM25 over corpus ∪ survivors.
    */
  private def crawlDayOracle: String = {
    val gram = (0 until ContamN).map(k => s"ws[i+$k]")
      .mkString(" || ' ' || ")
    val vals = Bm25Queries.map { case (i, t) =>
      s"(CAST($i AS BIGINT), '$t')" }.mkString(", ")
    s"""WITH alln AS (SELECT doc_id, text FROM documents
            WHERE text IS NOT NULL),
       ev AS (SELECT doc_id, string_split(text, ' ') AS ws FROM alln
            WHERE doc_id % 50 = 17),
       corpus AS (SELECT doc_id, text FROM alln
            WHERE doc_id % 50 <> 17 AND doc_id % 5 <> 0),
       batch AS (SELECT doc_id, text FROM alln
            WHERE doc_id % 50 <> 17 AND doc_id % 5 = 0
          UNION ALL
          SELECT doc_id + $CrawlDupShift, text FROM corpus
            WHERE doc_id % 15 = 1),
       bsh AS (SELECT DISTINCT doc_id, $gram AS g
          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM batch),
            unnest(generate_series(1, len(ws) - ${ContamN - 1})) t(i)),
       esh AS (SELECT DISTINCT $gram AS g
          FROM ev,
            unnest(generate_series(1, len(ws) - ${ContamN - 1})) t(i)),
       contaminated AS (SELECT DISTINCT doc_id FROM bsh
          JOIN esh USING (g)),
       clean AS (SELECT * FROM batch WHERE doc_id NOT IN
          (SELECT doc_id FROM contaminated)),
       cdg AS (SELECT DISTINCT md5(text) AS dg FROM corpus),
       nondup AS (SELECT doc_id, text FROM clean
          WHERE md5(text) NOT IN (SELECT dg FROM cdg)),
       survivors AS (SELECT doc_id, text FROM (SELECT doc_id, text,
            row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
              AS rn FROM nondup) WHERE rn = 1),
       final AS (SELECT doc_id, text FROM corpus
          UNION ALL SELECT doc_id, text FROM survivors),
       ${bm25OracleCtesFrom(
        s"SELECT * FROM (VALUES $vals) AS t(q_id, q_text)", "final")}
     SELECT q_id, CAST(rank AS INT) AS rank, id AS doc_id,
            round(CAST(s AS DOUBLE) / 1e6, 6) AS score, n_hit
     FROM lranked WHERE rank <= $Bm25K ORDER BY q_id, rank"""
  }

  private def hybridRrfOracle: String =
    s"""WITH ${bm25OracleCtes(
        s"SELECT doc_id AS q_id, text AS q_text FROM documents " +
          s"WHERE doc_id < $HybridNQ")},
       lex AS (SELECT q_id, id AS doc_id, rank FROM lranked
          WHERE rank <= $RrfPool),
       v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
          FROM embeddings),
       n AS (SELECT id, vec, sqrt(list_dot_product(vec, vec)) AS norm
          FROM v),
       sscored AS (SELECT q.id AS q_id, c.id AS doc_id,
            round(list_dot_product(q.vec, c.vec) / (q.norm * c.norm), 6)
              AS cos
          FROM n q JOIN n c ON q.id < $HybridNQ AND q.id <> c.id),
       sem AS (SELECT q_id, doc_id, rank FROM (
            SELECT *, row_number() OVER (
              PARTITION BY q_id ORDER BY cos DESC, doc_id) AS rank
            FROM sscored) WHERE rank <= $RrfPool),
       ca AS (SELECT q_id, doc_id,
            CAST(round(1e9 / (60.0 + CAST(rank AS DOUBLE))) AS BIGINT)
              AS c
          FROM lex),
       cb AS (SELECT q_id, doc_id,
            CAST(round(1e9 / (60.0 + CAST(rank AS DOUBLE))) AS BIGINT)
              AS c
          FROM sem),
       fused AS (SELECT coalesce(ca.q_id, cb.q_id) AS q_id,
            coalesce(ca.doc_id, cb.doc_id) AS doc_id,
            coalesce(ca.c, 0) + coalesce(cb.c, 0) AS rrf_score
          FROM ca FULL OUTER JOIN cb
            ON ca.q_id = cb.q_id AND ca.doc_id = cb.doc_id),
       franked AS (SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY rrf_score DESC, doc_id) AS rank
          FROM fused)
     SELECT q_id, CAST(rank AS INT) AS rank, doc_id, rrf_score
     FROM franked WHERE rank <= $FusedK ORDER BY q_id, rank"""

  /** Three-arm RRF: the two-arm CTEs plus a query-independent
    * document-length prior arm, fused as one UNION-ALL sum (the exact
    * integer-sum replay of [[RetrievalOps.rrfFuseN]]). */
  private def hybridRrf3Oracle: String =
    s"""WITH ${bm25OracleCtes(
        s"SELECT doc_id AS q_id, text AS q_text FROM documents " +
          s"WHERE doc_id < $HybridNQ")},
       lex AS (SELECT q_id, id AS doc_id, rank FROM lranked
          WHERE rank <= $RrfPool),
       v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
          FROM embeddings),
       n AS (SELECT id, vec, sqrt(list_dot_product(vec, vec)) AS norm
          FROM v),
       sscored AS (SELECT q.id AS q_id, c.id AS doc_id,
            round(list_dot_product(q.vec, c.vec) / (q.norm * c.norm), 6)
              AS cos
          FROM n q JOIN n c ON q.id < $HybridNQ AND q.id <> c.id),
       sem AS (SELECT q_id, doc_id, rank FROM (
            SELECT *, row_number() OVER (
              PARTITION BY q_id ORDER BY cos DESC, doc_id) AS rank
            FROM sscored) WHERE rank <= $RrfPool),
       prior AS (SELECT doc_id, rank FROM (
            SELECT doc_id, row_number() OVER (
              ORDER BY n_chars DESC, doc_id) AS rank
            FROM documents) WHERE rank <= $RrfPool),
       qs AS (SELECT doc_id AS q_id FROM documents
            WHERE doc_id < $HybridNQ),
       allc AS (
          SELECT q_id, doc_id, rank FROM lex
          UNION ALL SELECT q_id, doc_id, rank FROM sem
          UNION ALL SELECT qs.q_id, p.doc_id, p.rank FROM qs, prior p),
       fused AS (SELECT q_id, doc_id,
            CAST(sum(CAST(round(1e9 / (60.0 + CAST(rank AS DOUBLE)))
              AS BIGINT)) AS BIGINT) AS rrf_score
          FROM allc GROUP BY q_id, doc_id),
       franked AS (SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY rrf_score DESC, doc_id) AS rank
          FROM fused)
     SELECT q_id, CAST(rank AS INT) AS rank, doc_id, rrf_score
     FROM franked WHERE rank <= $FusedK ORDER BY q_id, rank"""

  /** [[PackOps.packSequences]] oracle tail over any `(doc_id, tokstr)`
    * CTE (tokstr = the '|'-joined token stream): per-shard prefix
    * sums, per-sequence inclusive-end list_slice (Spark's slice takes
    * LENGTH), pieces re-joined in offset order. Includes the final
    * SELECT — callers append it to their WITH chain. */
  private def packSequencesOracleTail(src: String): String =
    s"""b AS (SELECT doc_id, doc_id % $PackShards AS shard,
            string_split(tokstr, '|') AS toks,
            CASE WHEN tokstr = '' THEN 0
              ELSE CAST(len(string_split(tokstr, '|')) AS BIGINT) END
              AS n
          FROM $src),
       o AS (SELECT *, CAST(sum(n) OVER (PARTITION BY shard
              ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n AS BIGINT)
              AS start_off
            FROM b),
       sp AS (SELECT shard, CAST(u.c AS BIGINT) AS seq_id, start_off,
            array_to_string(list_slice(toks,
              CAST(greatest(start_off, u.c * $SeqLen) - start_off + 1
                AS BIGINT),
              CAST(least(start_off + n - 1, (u.c + 1) * $SeqLen - 1)
                - start_off + 1 AS BIGINT)), '|') AS piece
          FROM o, unnest(generate_series(start_off // $SeqLen,
            (start_off + n - 1) // $SeqLen)) u(c)
          WHERE n > 0)
     SELECT shard, seq_id,
          CAST(len(string_split(string_agg(piece, '|'
            ORDER BY start_off), '|')) AS BIGINT) AS n_tokens,
          CAST(count(*) AS BIGINT) AS n_docs,
          coalesce(string_agg(CAST(start_off - seq_id * $SeqLen
              AS VARCHAR), ',' ORDER BY start_off)
            FILTER (WHERE start_off >= seq_id * $SeqLen), '')
            AS doc_bounds,
          md5(string_agg(piece, '|' ORDER BY start_off))
            AS tokens_digest
     FROM sp GROUP BY shard, seq_id ORDER BY shard, seq_id"""

  /** p_span_dedup oracle. Gotcha encoded here: DuckDB's least() (like
    * Spark's) SKIPS nulls, so the lag()'s first-row NULL delta must be
    * kept NULL explicitly or it contributes a phantom k to the span
    * sum (the Spark side never sees it: its deltas array has n−1
    * entries, no null row).
    *
    * `where` restricts the output docs (the incremental variant is
    * the same corpus-wide computation emitted for the batch split
    * only). `universeWhere` restricts the CORPUS the occurrence counts
    * are computed over (the takedown variant: the removed docs were
    * never in the oracle's universe).
    */
  private def spanDedupOracle(where: String = "",
      universeWhere: String = ""): String = {
    s"""WITH $spanInjCte,
       w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM inj
         $universeWhere),
       ${spanDedupOracleTail(where)}"""
  }

  /** The injected-boilerplate corpus CTE (`inj`) shared by every span
    * oracle. */
  private def spanInjCte: String =
    s"""inj AS (SELECT doc_id, text
           || CASE WHEN doc_id % 4 = 0 THEN ' $SpanBoilerA' ELSE '' END
           || CASE WHEN doc_id % 6 = 0 THEN ' $SpanBoilerB' ELSE '' END
           || CASE WHEN doc_id % 9 = 0
                THEN ' $SpanRepeat $SpanRepeat' ELSE '' END
             AS text FROM documents)"""

  /** BPE-token span dedup: the same lag-window CTE chain over the BPE
    * token stream (merge-chain replay → '|'-split) instead of
    * whitespace words. */
  private def spanDedupBpeOracle: String =
    s"""WITH $spanInjCte,
       kt AS (SELECT doc_id,
            ${graft.functions.Bpe.duckdbTokensExpr("text")} AS tokstr
          FROM inj),
       w AS (SELECT doc_id, CASE WHEN tokstr = ''
              THEN CAST([] AS VARCHAR[])
              ELSE string_split(tokstr, '|') END AS ws FROM kt),
       ${spanDedupOracleTail("")}"""

  /** The span-geometry CTE chain + final select over any `(doc_id,
    * ws)` CTE named `w` (see [[spanDedupOracle]]'s null-lag gotcha). */
  private def spanDedupOracleTail(where: String): String = {
    val k = SpanK
    s"""g AS (SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
            md5(array_to_string(list_slice(ws, CAST(u.i + 1 AS BIGINT),
              CAST(u.i + $k AS BIGINT)), ' ')) AS h
          FROM w, unnest(range(0, CAST(len(ws) - ${k - 1} AS BIGINT)))
            u(i)),
       dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
       dp AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (h)),
       agg AS (SELECT doc_id,
            $k + coalesce(sum(CASE WHEN d IS NULL THEN NULL
              ELSE least(d, $k) END), 0) AS n_dup_tokens,
            1 + coalesce(sum(CASE WHEN d > $k THEN 1 ELSE 0 END), 0)
              AS n_spans
          FROM (SELECT doc_id, pos,
                  pos - lag(pos) OVER (
                    PARTITION BY doc_id ORDER BY pos) AS d
                FROM dp)
          GROUP BY doc_id),
       toks AS (SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS ti,
            ws[u.i] AS tok
          FROM w, unnest(generate_series(1, CAST(len(ws) AS BIGINT)))
            u(i)),
       kept AS (SELECT t.doc_id, t.ti, t.tok FROM toks t
          WHERE NOT EXISTS (SELECT 1 FROM dp
            WHERE dp.doc_id = t.doc_id
              AND dp.pos <= t.ti AND t.ti < dp.pos + $k)),
       dig AS (SELECT w.doc_id,
            md5(coalesce(string_agg(k.tok, ' ' ORDER BY k.ti), ''))
              AS clean_digest
          FROM w LEFT JOIN kept k ON w.doc_id = k.doc_id
          GROUP BY w.doc_id)
     SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_tokens,
            CAST(coalesce(a.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
            CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
            dig.clean_digest
     FROM w LEFT JOIN agg a USING (doc_id) JOIN dig USING (doc_id)
     $where
     ORDER BY doc_id"""
  }

  private def annTopkOracle: String =
    s"""WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
              FROM embeddings),
       n AS (SELECT id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM v),
       scored AS (SELECT q.id AS q_id, c.id AS vec_id,
              round(list_dot_product(q.vec, c.vec) / (q.norm * c.norm), 6)
                AS cos
              FROM n q JOIN n c ON q.id < $NQueryVecs AND q.id <> c.id),
       ranked AS (SELECT *, row_number() OVER (
              PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
              FROM scored)
     SELECT q_id, CAST(rank AS INT) AS rank, vec_id, cos
     FROM ranked WHERE rank <= $TopK ORDER BY q_id, rank"""

  private def annIvfOracle: String =
    s"""WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
              FROM embeddings),
       n AS (SELECT id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM v),
       cents AS (SELECT id AS cid, vec AS cvec, norm AS cnorm FROM n
                 WHERE id % 25 = 0 AND id < $CentroidCap),
       assigned AS (SELECT id, vec, norm, cid FROM (
              SELECT n.id, n.vec, n.norm, cents.cid, row_number() OVER (
                PARTITION BY n.id ORDER BY
                  round(list_dot_product(n.vec, cents.cvec)
                    / (n.norm * cents.cnorm), 6) DESC, cents.cid) AS crank
              FROM n CROSS JOIN cents) WHERE crank = 1),
       probes AS (SELECT q_id, qvec, qnorm, cid FROM (
              SELECT q.id AS q_id, q.vec AS qvec, q.norm AS qnorm,
                cents.cid, row_number() OVER (
                PARTITION BY q.id ORDER BY
                  round(list_dot_product(q.vec, cents.cvec)
                    / (q.norm * cents.cnorm), 6) DESC, cents.cid) AS prank
              FROM n q CROSS JOIN cents WHERE q.id < $NQueryVecs)
              WHERE prank <= 4),
       scored AS (SELECT p.q_id, a.id AS vec_id,
              round(list_dot_product(p.qvec, a.vec)
                / (p.qnorm * a.norm), 6) AS cos
              FROM probes p JOIN assigned a ON p.cid = a.cid
              WHERE a.id <> p.q_id),
       ranked AS (SELECT *, row_number() OVER (
              PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
              FROM scored)
     SELECT q_id, CAST(rank AS INT) AS rank, vec_id, cos
     FROM ranked WHERE rank <= $TopK ORDER BY q_id, rank"""

  /** IVF-PQ oracle: reproduces the deterministic codebook (every
    * PqStep-th id), the L2 sub-code assignment (distances rounded to 6
    * decimals, smallest-k ties — the exact argmin contract of
    * `SimilarityOps.pqEncode`), and the ADC score (per-entry rounded
    * lookup table, DECIMAL-exact accumulation across subspaces). */
  private def annIvfPqOracle: String = {
    val ds = 64 / PqM
    def sub(v: String, m: String) =
      s"list_slice($v, $m*$ds+1, $m*$ds+$ds)"
    s"""WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
              FROM embeddings),
       n AS (SELECT id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM v),
       cents AS (SELECT id AS cid, vec AS cvec, norm AS cnorm FROM n
                 WHERE id % 25 = 0 AND id < $CentroidCap),
       assigned AS (SELECT id, cid FROM (
              SELECT n.id, cents.cid, row_number() OVER (
                PARTITION BY n.id ORDER BY
                  round(list_dot_product(n.vec, cents.cvec)
                    / (n.norm * cents.cnorm), 6) DESC, cents.cid) AS crank
              FROM n CROSS JOIN cents) WHERE crank = 1),
       cw AS (SELECT id // $PqStep AS k, vec FROM v
              WHERE id % $PqStep = 0 AND id < ${PqStep * PqK}),
       cb AS (SELECT m, k, ${sub("vec", "m")} AS sub,
                round(list_dot_product(${sub("vec", "m")},
                                       ${sub("vec", "m")}), 6) AS cb2
              FROM cw, unnest(generate_series(0, ${PqM - 1})) t(m)),
       dists AS (SELECT s.id, s.m, cb.k, cb.cb2,
                cb.cb2 - 2*round(list_dot_product(s.sub, cb.sub), 6) AS dist
              FROM (SELECT id, m, ${sub("vec", "m")} AS sub
                    FROM n, unnest(generate_series(0, ${PqM - 1})) t(m)) s
              JOIN cb ON s.m = cb.m),
       codes AS (SELECT id, m, k AS code, cb2 FROM (
              SELECT *, row_number() OVER (
                PARTITION BY id, m ORDER BY dist, k) AS rn
              FROM dists) WHERE rn = 1),
       rn2 AS (SELECT id,
                sqrt(CAST(SUM(CAST(cb2 AS DECIMAL(38,6))) AS DOUBLE))
                  AS rnorm
              FROM codes GROUP BY id),
       probes AS (SELECT q_id, qnorm, cid FROM (
              SELECT q.id AS q_id, q.norm AS qnorm, cents.cid,
                row_number() OVER (
                PARTITION BY q.id ORDER BY
                  round(list_dot_product(q.vec, cents.cvec)
                    / (q.norm * cents.cnorm), 6) DESC, cents.cid) AS prank
              FROM n q CROSS JOIN cents WHERE q.id < $NQueryVecs)
              WHERE prank <= 4),
       ltab AS (SELECT q.id AS q_id, cb.m, cb.k,
                round(list_dot_product(${sub("q.vec", "cb.m")}, cb.sub), 6)
                  AS qd
              FROM n q CROSS JOIN cb WHERE q.id < $NQueryVecs),
       scored AS (SELECT p.q_id, a.id AS vec_id,
                round(CAST(SUM(CAST(l.qd AS DECIMAL(38,6))) AS DOUBLE)
                  / (ANY_VALUE(p.qnorm) * ANY_VALUE(r.rnorm)), 6) AS cos_pq
              FROM probes p
              JOIN assigned a ON p.cid = a.cid AND a.id <> p.q_id
              JOIN codes c ON c.id = a.id
              JOIN ltab l ON l.q_id = p.q_id AND l.m = c.m AND l.k = c.code
              JOIN rn2 r ON r.id = a.id
              GROUP BY p.q_id, a.id),
       ranked AS (SELECT *, row_number() OVER (
              PARTITION BY q_id ORDER BY cos_pq DESC, vec_id) AS rank
              FROM scored)
     SELECT q_id, CAST(rank AS INT) AS rank, vec_id, cos_pq
     FROM ranked WHERE rank <= $TopK ORDER BY q_id, rank"""
  }

  /** (scores select-list, best expr, lang CASE expr) shared by the
    * langid and stratified-sample oracles. */
  private def langSqlParts: (String, String, String) = {
    def occ(m: String): String = {
      val esc = m.replace("'", "''")
      s"((len(text) - len(replace(text, '$esc', ''))) // ${m.length})"
    }
    val scores = TextOps.LangProfiles.map { case (lang, markers) =>
      s"(${markers.map(occ).mkString(" + ")}) AS s_$lang"
    }.mkString(", ")
    val langs = TextOps.LangProfiles.map(_._1)
    val best = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
    val caseExpr = langs.map(l => s"WHEN s_$l = best THEN '$l'")
      .mkString("CASE ", " ", " ELSE 'und' END")
    (scores, best, caseExpr)
  }

  private def langidOracle: String = {
    val (scores, best, caseExpr) = langSqlParts
    s"""WITH s AS (SELECT doc_id, $scores FROM documents),
       b AS (SELECT *, $best AS best FROM s)
     SELECT doc_id, $caseExpr AS lang_guess, CAST(best AS BIGINT)
       AS best_score
     FROM b ORDER BY doc_id"""
  }

  private def sampleOracle: String = {
    val (scores, best, caseExpr) = langSqlParts
    s"""WITH s AS (SELECT doc_id, text, $scores FROM documents),
       b AS (SELECT *, $best AS best FROM s),
       l AS (SELECT doc_id, $caseExpr AS lang_guess FROM b)
     SELECT doc_id, lang_guess FROM l
     WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
           CASE WHEN lang_guess = 'en'
                THEN '${SampleOps.thresholdHex(SampleRateEn)}'
                ELSE '${SampleOps.thresholdHex(SampleRateDefault)}' END
     ORDER BY doc_id"""
  }

  def oracleSql: Map[String, String] = Map(
    "p_dedup_exact" ->
      """WITH u AS (SELECT doc_id, text FROM documents
                UNION ALL SELECT doc_id + 1000000000, text FROM documents),
         dd AS (SELECT doc_id, md5(text) AS digest, row_number() OVER (
                  PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM u)
         SELECT doc_id, digest FROM dd WHERE rn = 1 ORDER BY doc_id""",

    "p_dedup_minhash_lsh" -> minhashOracle,

    "p_dedup_inc_exact" ->
      """WITH batch AS (
           SELECT doc_id + 1000000000 AS new_id, text FROM documents
           WHERE doc_id % 8 = 7
           UNION ALL
           SELECT doc_id + 2000000000 AS new_id, text || ' zq' FROM documents
           WHERE doc_id % 8 = 3)
         SELECT b.new_id, c.doc_id AS corpus_id, md5(b.text) AS digest
         FROM batch b JOIN documents c ON md5(c.text) = md5(b.text)
         ORDER BY new_id, corpus_id""",

    "p_dedup_inc_lsh" -> minhashIncOracle,
    "p_dedup_inc_simhash" -> simhashIncOracle,
    "p_dedup_inc_embedding" -> embeddingIncOracle,
    "p_dedup_simhash" -> simhashOracle,

    "p_dedup_ngram_jaccard" ->
      s"""WITH $ShingleCte,
         cnt AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
         pairs AS (SELECT a.id AS i, b.id AS j, count(*) AS inter
                   FROM sh a JOIN sh b ON a.g = b.g AND a.id < b.id
                   GROUP BY 1, 2)
       SELECT pairs.i, pairs.j,
              inter * 1.0 / (ca.n + cb.n - inter) AS jac
       FROM pairs JOIN cnt ca ON ca.id = pairs.i
                  JOIN cnt cb ON cb.id = pairs.j
       WHERE inter * 1.0 / (ca.n + cb.n - inter) >= $ExactJaccardThreshold
       ORDER BY i, j""",

    "p_dedup_clusters" ->
      s"""WITH RECURSIVE $ShingleCte,
         cnt AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
         prs AS (SELECT a.id AS i, b.id AS j, count(*) AS inter
                 FROM sh a JOIN sh b ON a.g = b.g AND a.id < b.id
                 GROUP BY 1, 2),
         pe AS (SELECT prs.i, prs.j FROM prs
                JOIN cnt ca ON ca.id = prs.i
                JOIN cnt cb ON cb.id = prs.j
                WHERE inter * 1.0 / (ca.n + cb.n - inter)
                      >= $ExactJaccardThreshold),
         edges AS (SELECT i AS a, j AS b FROM pe
                   UNION SELECT j, i FROM pe),
         reach AS (SELECT a AS id, a AS r FROM edges
                   UNION
                   SELECT e.a, reach.r FROM edges e
                   JOIN reach ON reach.id = e.b)
       SELECT id, min(r) AS cluster FROM reach GROUP BY id ORDER BY id""",

    // same component computation; survivors = docs minus non-canonical
    // cluster members
    "p_corpus_dedup" ->
      s"""WITH RECURSIVE $ShingleCte,
         cnt AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
         prs AS (SELECT a.id AS i, b.id AS j, count(*) AS inter
                 FROM sh a JOIN sh b ON a.g = b.g AND a.id < b.id
                 GROUP BY 1, 2),
         pe AS (SELECT prs.i, prs.j FROM prs
                JOIN cnt ca ON ca.id = prs.i
                JOIN cnt cb ON cb.id = prs.j
                WHERE inter * 1.0 / (ca.n + cb.n - inter)
                      >= $ExactJaccardThreshold),
         edges AS (SELECT i AS a, j AS b FROM pe
                   UNION SELECT j, i FROM pe),
         reach AS (SELECT a AS id, a AS r FROM edges
                   UNION
                   SELECT e.a, reach.r FROM edges e
                   JOIN reach ON reach.id = e.b),
         labels AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
       SELECT d.doc_id FROM documents d
       WHERE d.doc_id NOT IN
         (SELECT id FROM labels WHERE id != cluster)
       ORDER BY d.doc_id""",

    "p_multimodal_phash" ->
      """WITH s AS (
           SELECT doc_id,
             list_transform(generate_series(0, 59),
               i -> unicode(substr(text,
                 CAST((i * len(text)) // 60 AS INT) + 1, 1))) AS v
           FROM documents WHERE len(text) > 0)
         SELECT doc_id,
           CAST(list_sum(list_transform(generate_series(1, 60),
             i -> CASE WHEN v[i] * 60 > list_sum(v)
                  THEN (1::BIGINT << (i-1)) ELSE 0::BIGINT END))
             AS BIGINT) AS ahash
         FROM s ORDER BY doc_id""",

    "p_data_mix" ->
      s"""WITH cnt AS (
           SELECT 'en' AS source, doc_id AS id,
                  2 + CASE WHEN substr(md5('en:' || CAST(doc_id AS VARCHAR)),
                        1, 8) < '${SampleOps.thresholdHex(2.3 - 2.0)}'
                      THEN 1 ELSE 0 END AS n
           FROM documents WHERE lang = 'en'
           UNION ALL
           SELECT 'rest', doc_id,
                  CASE WHEN substr(md5('rest:' || CAST(doc_id AS VARCHAR)),
                        1, 8) < '${SampleOps.thresholdHex(0.5)}'
                      THEN 1 ELSE 0 END
           FROM documents WHERE lang <> 'en')
         SELECT source, id, CAST(u.c AS BIGINT) AS copy
         FROM cnt, LATERAL unnest(range(0, n)) u(c)
         ORDER BY source, id, copy""",

    "p_kmeans_step" ->
      s"""WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
              FROM embeddings),
         n AS (SELECT id, vec, sqrt(list_dot_product(vec, vec)) AS norm
               FROM v),
         cents AS (SELECT id AS cid, vec AS cvec, norm AS cnorm FROM n
                   WHERE id % 25 = 0 AND id < $CentroidCap),
         assigned AS (SELECT id, vec, cid FROM (
                SELECT n.id, n.vec, cents.cid, row_number() OVER (
                  PARTITION BY n.id ORDER BY
                    round(list_dot_product(n.vec, cents.cvec)
                      / (n.norm * cents.cnorm), 6) DESC, cents.cid) AS crank
                FROM n CROSS JOIN cents) WHERE crank = 1),
         dims AS (SELECT cid, CAST(u.d - 1 AS BIGINT) AS dim,
                    CAST(vec[CAST(u.d AS INT)] AS DECIMAL(38,12)) AS x
                  FROM assigned,
                    LATERAL unnest(range(1, len(vec) + 1)) u(d))
         SELECT cid, dim, count(*) AS n_members,
                round(CAST(sum(x) / count(*) AS DOUBLE), 6) AS c_mean
         FROM dims GROUP BY cid, dim ORDER BY cid, dim""",

    "p_dedup_embedding_lsh" -> embeddingLshOracle,

    "p_pipeline_e2e" -> pipelineE2eOracle,
    "p_pipeline_shards" -> pipelineShardsOracle,
    "p_span_dedup" -> spanDedupOracle(),
    "p_span_dedup_inc" -> spanDedupOracle("WHERE w.doc_id % 5 = 0"),
    "p_spans_takedown" -> spanDedupOracle("WHERE w.doc_id % 5 = 0",
      "WHERE NOT (doc_id % 5 <> 0 AND doc_id % 7 = 3)"),
    "p_span_dedup_bpe" -> spanDedupBpeOracle,

    // packSequences replay: same BPE replace-chain as p_text_bpe_encode
    // produces the token stream; per-shard prefix sums, inclusive-end
    // list_slice (Spark's slice takes LENGTH), pieces re-joined in
    // offset order.
    "p_seq_pack" ->
      s"""WITH t AS (SELECT doc_id,
            ${graft.functions.Bpe.duckdbTokensExpr("text")} AS tokstr
          FROM documents),
       ${packSequencesOracleTail("t")}""",
    "p_bm25_topk" -> bm25TopkOracle,
    "p_bm25_indexed" -> bm25TopkOracle,
    "p_crawl_day" -> crawlDayOracle,
    "p_bm25_takedown" -> bm25TakedownOracle,
    "p_hybrid_rrf" -> hybridRrfOracle,
    "p_hybrid_rrf3" -> hybridRrf3Oracle,
    "p_ann_topk" -> annTopkOracle,
    "p_ann_ivf" -> annIvfOracle,
    "p_ann_ivf_indexed" -> annIvfOracle,
    "p_ann_ivfpq" -> annIvfPqOracle,
    "p_ann_ivfpq_indexed" -> annIvfPqOracle,

    "p_dedup_semantic" ->
      s"""WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
              FROM embeddings),
         n AS (SELECT id, vec, sqrt(list_dot_product(vec, vec)) AS norm
               FROM v),
         cents AS (SELECT id AS cid, vec AS cvec, norm AS cnorm FROM n
                   WHERE id % 25 = 0 AND id < $CentroidCap),
         assigned AS (SELECT id, vec, norm, cid, ccos FROM (
                SELECT n.id, n.vec, n.norm, cents.cid,
                  round(list_dot_product(n.vec, cents.cvec)
                    / (n.norm * cents.cnorm), 6) AS ccos,
                  row_number() OVER (
                  PARTITION BY n.id ORDER BY
                    round(list_dot_product(n.vec, cents.cvec)
                      / (n.norm * cents.cnorm), 6) DESC, cents.cid) AS crank
                FROM n CROSS JOIN cents) WHERE crank = 1),
         ranked AS (SELECT id, vec, norm, cid,
                  CAST(floor((row_number() OVER (PARTITION BY cid
                    ORDER BY ccos DESC, id) - 1) / $SemanticChunk.0)
                    AS BIGINT) AS chunk
                FROM assigned)
       SELECT a.id AS i, b.id AS j,
              round(list_dot_product(a.vec, b.vec)
                / (a.norm * b.norm), 6) AS cos
       FROM ranked a JOIN ranked b
         ON a.cid = b.cid AND a.id < b.id
           AND abs(a.chunk - b.chunk) <= 1
       WHERE round(list_dot_product(a.vec, b.vec)
                / (a.norm * b.norm), 6) >= $CosThreshold
       ORDER BY i, j""",
    "p_text_langid" -> langidOracle,
    "p_sample_stratified" -> sampleOracle,

    "p_embed_quantize" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
              FROM embeddings),
         n AS (SELECT vec_id,
                 CASE WHEN sqrt(list_dot_product(vec, vec)) = 0 THEN vec
                      ELSE list_transform(vec,
                        x -> x / sqrt(list_dot_product(vec, vec))) END
                   AS vn
               FROM v),
         s AS (SELECT vec_id, vn,
                 list_max(list_transform(vn, x -> abs(x))) / 127.0 AS sc
               FROM n),
         q AS (SELECT vec_id, sc,
                 CASE WHEN sc = 0
                      THEN list_transform(vn, x -> CAST(0 AS BIGINT))
                      ELSE list_transform(vn,
                        x -> CAST(floor(x / sc + 0.5) AS BIGINT)) END AS qv
               FROM s)
       SELECT vec_id, round(sc, 6) AS scale6,
            CAST(list_sum(qv) AS BIGINT) AS q_sum,
            md5(array_to_string(qv, ',')) AS q_digest
       FROM q ORDER BY vec_id""",

    "p_text_quality" -> {
      val stop = TextOps.Stopwords.map(w => s"'$w'").mkString(", ")
      s"""SELECT doc_id,
            CAST(len(text) AS BIGINT) AS n_chars,
            CAST(len(ws) AS BIGINT) AS n_words,
            CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_words,
            CAST(len(list_filter(ws, w -> w IN ($stop))) AS BIGINT)
              AS n_stopwords,
            round(len(list_filter(ws, w -> w IN ($stop))) * 1.0 / len(ws), 6)
              AS stopword_ratio,
            round(len(text) * 1.0 / len(ws), 6) AS avg_token_len
         FROM (SELECT doc_id, text, string_split(text, ' ') AS ws
               FROM documents)
         ORDER BY doc_id"""
    },

    "p_text_tokens" ->
      s"""SELECT doc_id,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
            CAST(len(regexp_extract_all(text, '${TextOps.TokenRegex}'))
              AS BIGINT) AS n_regex_tokens
         FROM documents ORDER BY doc_id""",

    "p_text_tokens_bpe" ->
      s"""SELECT doc_id,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
            ${graft.functions.Bpe.duckdbTextCountExpr("text")}
              AS n_bpe_tokens
         FROM documents ORDER BY doc_id""",

    "p_text_bpe_encode" ->
      s"""SELECT doc_id,
            ${graft.functions.Bpe.duckdbTokensExpr("text")} AS bpe_tokens
         FROM documents ORDER BY doc_id""",

    "p_text_clean" ->
      """WITH inj AS (SELECT doc_id,
           CASE WHEN doc_id % 5 = 0
                THEN text || ' visit https://example.com/a-b_c now'
                WHEN doc_id % 7 = 0
                THEN text || ' mail info@example.org today'
                WHEN doc_id % 11 = 0
                THEN text || ' call +1 555-014-2398 now'
                WHEN doc_id % 13 = 0
                THEN text || ' from 192.168.0.17 last night'
                ELSE text END AS text FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(text, 'https?://[\w./-]+'))
             AS BIGINT) AS n_urls,
           CAST(len(regexp_extract_all(text, '[\w.+-]+@[\w.-]+'))
             AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '\+[0-9][0-9 -]{6,}[0-9]'))
             AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(text,
             '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}'))
             AS BIGINT) AS n_ips,
           md5(trim(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(text,
             'https?://[\w./-]+', '<URL>', 'g'),
             '[\w.+-]+@[\w.-]+', '<EMAIL>', 'g'),
             '\+[0-9][0-9 -]{6,}[0-9]', '<PHONE>', 'g'),
             '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
             ' {2,}', ' ', 'g'))) AS clean_digest
         FROM inj ORDER BY doc_id""",

    "p_text_fingerprint" ->
      """SELECT doc_id, min(md5(substr(text, i, 8))) AS fp_min,
              max(md5(substr(text, i, 8))) AS fp_max
         FROM documents, unnest(generate_series(1, len(text) - 7)) t(i)
         GROUP BY doc_id ORDER BY doc_id""",

    "p_segment_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         segs AS (SELECT doc_id, CAST(u.k AS BIGINT) AS pos,
                    array_to_string(list_slice(ws,
                      CAST(u.k*10+1 AS BIGINT),
                      CAST((u.k+1)*10 AS BIGINT)), ' ') AS seg
                  FROM w, LATERAL unnest(
                    range(0, CAST(ceil(len(ws)/10.0) AS BIGINT))) u(k)),
         freq AS (SELECT seg, count(DISTINCT doc_id) AS df
                  FROM segs GROUP BY 1),
         j AS (SELECT s.doc_id, s.pos, s.seg, f.df
               FROM segs s JOIN freq f USING (seg))
         SELECT d.doc_id, CAST(count(j.seg) AS BIGINT) AS n_segs,
                CAST(coalesce(sum(CASE WHEN j.df >= 2 THEN 1 ELSE 0 END),
                  0) AS BIGINT) AS n_dropped,
                CASE WHEN count(j.seg) = 0 THEN NULL
                  ELSE md5(coalesce(string_agg(
                    CASE WHEN j.df < 2 THEN j.seg END,
                    ' ' ORDER BY j.pos), '')) END AS clean_digest
         FROM documents d LEFT JOIN j ON d.doc_id = j.doc_id
         GROUP BY d.doc_id ORDER BY d.doc_id""",

    "p_segment_dedup_inc" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         segs AS (SELECT doc_id, CAST(u.k AS BIGINT) AS pos,
                    array_to_string(list_slice(ws,
                      CAST(u.k*10+1 AS BIGINT),
                      CAST((u.k+1)*10 AS BIGINT)), ' ') AS seg
                  FROM w, LATERAL unnest(
                    range(0, CAST(ceil(len(ws)/10.0) AS BIGINT))) u(k)),
         freq AS (SELECT seg, count(DISTINCT doc_id) AS df
                  FROM segs GROUP BY 1),
         j AS (SELECT s.doc_id, s.pos, s.seg, f.df
               FROM segs s JOIN freq f USING (seg))
         SELECT d.doc_id, CAST(count(j.seg) AS BIGINT) AS n_segs,
                CAST(coalesce(sum(CASE WHEN j.df >= 2 THEN 1 ELSE 0 END),
                  0) AS BIGINT) AS n_dropped,
                CASE WHEN count(j.seg) = 0 THEN NULL
                  ELSE md5(coalesce(string_agg(
                    CASE WHEN j.df < 2 THEN j.seg END,
                    ' ' ORDER BY j.pos), '')) END AS clean_digest
         FROM documents d LEFT JOIN j ON d.doc_id = j.doc_id
         WHERE d.doc_id % 5 = 0
         GROUP BY d.doc_id ORDER BY d.doc_id""",

    "p_text_perplexity" ->
      """WITH tri AS (
           SELECT doc_id AS id, substring(text, CAST(u.i AS INT), 3) AS g
           FROM documents, LATERAL unnest(range(1, length(text)-1)) u(i)),
         m3 AS (SELECT g, count(*) AS c3 FROM tri GROUP BY 1),
         ctx AS (SELECT substring(g,1,2) AS p, sum(c3) AS c2
                 FROM m3 GROUP BY 1),
         v AS (SELECT count(DISTINCT substring(g,3,1)) AS v FROM m3),
         model AS (SELECT g,
                     CAST(round(1e6 * ln((c2 + v) / (c3 + 1.0))) AS BIGINT)
                       AS cost
                   FROM m3 JOIN ctx ON substring(m3.g,1,2) = ctx.p
                   CROSS JOIN v),
         sc AS (SELECT id, count(*) AS n_tri, sum(cost) AS s
                FROM tri JOIN model USING (g) GROUP BY 1)
         SELECT d.doc_id, coalesce(sc.n_tri, 0) AS n_tri,
                round(s / 1e6 / n_tri, 6) AS avg_nll
         FROM documents d LEFT JOIN sc ON d.doc_id = sc.id
         ORDER BY d.doc_id""",

    "p_sample_capped" -> {
      val (scores, best, caseExpr) = langSqlParts
      s"""WITH s AS (SELECT doc_id, text, $scores FROM documents),
         b AS (SELECT *, $best AS best FROM s),
         l AS (SELECT doc_id, $caseExpr AS lang_guess FROM b)
       SELECT doc_id, lang_guess FROM l
       QUALIFY row_number() OVER (PARTITION BY lang_guess
         ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id)
         <= $CapPerLang
       ORDER BY doc_id"""
    },

    "p_quality_classifier" ->
      s"""WITH $classifierCte
       SELECT doc_id, n_feats, w_sum,
              round(w_sum * 1.0 / (n_feats * 1000.0), 6) AS score,
              w_sum > 0 AS keep
       FROM cagg ORDER BY doc_id""",

    "p_shuffle_coords" ->
      s"""SELECT doc_id, CAST(doc_id % $PackShards AS BIGINT) AS shard,
            CAST(row_number() OVER (PARTITION BY doc_id % $PackShards
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1
              AS BIGINT) AS pos
          FROM documents ORDER BY doc_id""",

    "p_quality_topfrac" ->
      s"""WITH $classifierCte,
         j AS (SELECT d.doc_id, d.lang, a.w_sum
               FROM documents d JOIN cagg a USING (doc_id)),
         r AS (SELECT *, row_number() OVER (PARTITION BY lang
                   ORDER BY w_sum DESC, doc_id) AS rn,
                 count(*) OVER (PARTITION BY lang) AS n FROM j)
       SELECT doc_id, lang, w_sum FROM r
       WHERE (rn - 1) * 2 < n ORDER BY doc_id""",

    "p_token_budget" ->
      s"""WITH $classifierCte,
         t AS (SELECT d.doc_id, CAST(d.doc_id % $PackShards AS BIGINT)
                   AS shard,
                 CAST(len(string_split(d.text, ' ')) AS BIGINT)
                   AS n_tokens, a.w_sum
               FROM documents d JOIN cagg a USING (doc_id)),
         c AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY shard
                 ORDER BY w_sum DESC, doc_id ROWS UNBOUNDED PRECEDING)
                 AS BIGINT) AS cum_tokens FROM t)
       SELECT doc_id, shard, n_tokens, cum_tokens FROM c
       WHERE cum_tokens <= $TokenBudget ORDER BY doc_id""",

    "p_token_budget_bpe" ->
      s"""WITH $classifierCte,
         t AS (SELECT d.doc_id, CAST(d.doc_id % $PackShards AS BIGINT)
                   AS shard,
                 ${graft.functions.Bpe.duckdbTextCountExpr("d.text")}
                   AS n_tokens, a.w_sum
               FROM documents d JOIN cagg a USING (doc_id)),
         c AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY shard
                 ORDER BY w_sum DESC, doc_id ROWS UNBOUNDED PRECEDING)
                 AS BIGINT) AS cum_tokens FROM t)
       SELECT doc_id, shard, n_tokens, cum_tokens FROM c
       WHERE cum_tokens <= $TokenBudget ORDER BY doc_id""",

    "p_text_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents),
         st AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
                  round(1.0 - len(list_distinct(ws)) * 1.0 / len(ws), 6)
                    AS dup_word_frac
                FROM w),
         bg AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g
                FROM w, unnest(generate_series(1, len(ws) - 1)) t(i)),
         cnt AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
         rk AS (SELECT doc_id, g, c,
                  sum(c) OVER (PARTITION BY doc_id) AS nb,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY c DESC, g) AS rn
                FROM cnt),
         top AS (SELECT doc_id, CAST(nb AS BIGINT) AS n_bigrams,
                   g AS top_bigram, CAST(c AS BIGINT) AS top_cnt,
                   round(c * 1.0 / nb, 6) AS top_frac
                 FROM rk WHERE rn = 1)
       SELECT st.doc_id, st.n_words, st.dup_word_frac,
              COALESCE(top.n_bigrams, 0) AS n_bigrams,
              top.top_bigram,
              COALESCE(top.top_cnt, 0) AS top_cnt, top.top_frac
       FROM st LEFT JOIN top USING (doc_id) ORDER BY doc_id""",

    "p_decontaminate" -> decontaminateSql,

    "p_decontaminate_fuzzy" -> fuzzyDecontaminateOracle(),

    // the persisted-screen variant probes one arriving batch
    "p_decontaminate_fuzzy_inc" ->
      fuzzyDecontaminateOracle("WHERE id % 5 >= 3"),

    "p_text_boilerplate" -> {
      val gram = (0 until BoilerN).map(k => s"ws[i+$k]")
        .mkString(" || ' ' || ")
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents),
         sh AS (SELECT DISTINCT doc_id, $gram AS g
                FROM d,
                  unnest(generate_series(1, len(ws) - ${BoilerN - 1})) t(i)),
         common AS (SELECT g FROM (
                SELECT g, count(*) AS c FROM sh GROUP BY g)
                WHERE c >= $BoilerDfMin)
       SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
              CAST(count(common.g) AS BIGINT) AS n_boiler,
              round(count(common.g) * 1.0 / count(*), 6) AS boiler_frac
       FROM sh LEFT JOIN common ON sh.g = common.g
       GROUP BY 1 ORDER BY 1"""
    },

    "p_contam_fraction" -> {
      val hex = SampleOps.thresholdHex(EvalRate)
      val gram = (0 until ContamN).map(k => s"ws[i+$k]")
        .mkString(" || ' ' || ")
      s"""WITH tr AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents
               WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) >= '$hex'),
         ev AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents
               WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '$hex'),
         tsh AS (SELECT DISTINCT doc_id, $gram AS g
                 FROM tr,
                   unnest(generate_series(1, len(ws) - ${ContamN - 1})) t(i)),
         esh AS (SELECT DISTINCT $gram AS g
                 FROM ev,
                   unnest(generate_series(1, len(ws) - ${ContamN - 1})) t(i))
       SELECT tsh.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
              CAST(count(esh.g) AS BIGINT) AS n_shared,
              round(count(esh.g) * 1.0 / count(*), 6) AS contam_frac
       FROM tsh LEFT JOIN esh ON tsh.g = esh.g
       GROUP BY 1 ORDER BY doc_id"""
    },

    // The Bloom prefilter only changes the PLAN (false positives are
    // removed by the exact join) — the oracle is byte-identical.
    "p_decontaminate_bloom" -> decontaminateSql,
    "p_decontaminate_inc" -> decontaminateSql,

    "t13_streaming_dedup" ->
      """SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
         FROM documents d
         JOIN (SELECT min(doc_id) AS doc_id FROM documents
               GROUP BY md5(text)) k USING (doc_id)
         ORDER BY d.doc_id""",

    // blocked = any doc whose CONTENT digest matches the recalled
    // split; null-text docs are never blocked (the blocklist cannot
    // hold a null digest) — hence the explicit IS NULL escape, which
    // also dodges SQL's NULL-NOT-IN trap
    "t19_streaming_block" ->
      """WITH banned AS (SELECT DISTINCT md5(text) AS bd FROM documents
               WHERE doc_id % 9 = 4 AND text IS NOT NULL),
         live AS (SELECT doc_id, text FROM documents
               WHERE md5(text) IS NULL
                  OR md5(text) NOT IN (SELECT bd FROM banned))
       SELECT d.doc_id, d.text
       FROM live d
       JOIN (SELECT min(doc_id) AS doc_id FROM live
             GROUP BY md5(text)) k USING (doc_id)
       ORDER BY d.doc_id""",

    "t18_streaming_pipeline" -> streamingPipelineOracle,

    "p_pack_chunks" ->
      s"""WITH t AS (SELECT doc_id, doc_id % $PackShards AS shard,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
              FROM documents),
         c AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY shard
                 ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens
                 AS BIGINT) AS start_off
               FROM t)
       SELECT doc_id, shard, n_tokens, start_off,
              CAST(start_off // $PackCapacity AS BIGINT) AS chunk_first,
              CAST(GREATEST(start_off // $PackCapacity,
                (start_off + n_tokens - 1) // $PackCapacity) AS BIGINT)
                AS chunk_last
       FROM c ORDER BY doc_id""",

    "p_topk_ngrams" ->
      s"""WITH $ShingleCte
       SELECT g, count(*) AS doc_freq FROM sh GROUP BY g
       ORDER BY doc_freq DESC, g LIMIT $TopNgrams""",

    "p_corpus_stats" ->
      """SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
              CAST(count(*) AS BIGINT) AS n_words_total,
              CAST(count(DISTINCT w) AS BIGINT) AS vocab
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
               FROM documents)""",

    "p_multimodal_framesample" ->
      """SELECT doc_id,
              CAST(len(sampled) AS BIGINT) AS n_frames,
              md5(array_to_string(sampled, '')) AS digest
         FROM (SELECT doc_id,
                 list_transform(generate_series(1, len(text), 7),
                   i -> substr(text, i, 1)) AS sampled
               FROM documents)
         ORDER BY doc_id""",

    "p_multimodal_resize" ->
      s"""SELECT doc_id,
              CAST(len(resized) AS BIGINT) AS n_out,
              md5(array_to_string(resized, '')) AS digest
         FROM (SELECT doc_id,
                 CASE WHEN len(text) = 0 THEN CAST([] AS VARCHAR[])
                 ELSE list_transform(generate_series(0, ${ResizeLen - 1}),
                   i -> substr(text,
                     CAST((i * len(text)) // $ResizeLen AS INT) + 1, 1))
                 END AS resized
               FROM documents)
         ORDER BY doc_id""",

    "p_multimodal_decode" ->
      """SELECT doc_id, CAST(len(text) AS BIGINT) AS n_bytes,
              CAST(list_sum(list_transform(string_split_regex(text, ''),
                c -> unicode(c))) % 997 AS BIGINT) AS checksum,
              CAST(unicode(substr(text, 1, 1)) AS BIGINT) AS head_byte
         FROM documents ORDER BY doc_id""",

    "p_multimodal_decode_real" ->
      """SELECT doc_id, true AS ok,
              CAST(8 + doc_id % 5 AS INT) AS width,
              CAST(8 + doc_id % 3 AS INT) AS height,
              CAST(((doc_id % 200) * ((8 + doc_id % 5) // 2)
                 + (doc_id * 7 % 200)
                   * (8 + doc_id % 5 - (8 + doc_id % 5) // 2))
                * (8 + doc_id % 3) AS BIGINT) AS luma_sum,
              round(CAST(((doc_id % 200) * ((8 + doc_id % 5) // 2)
                 + (doc_id * 7 % 200)
                   * (8 + doc_id % 5 - (8 + doc_id % 5) // 2))
                * (8 + doc_id % 3) AS DOUBLE)
                / ((8 + doc_id % 5) * (8 + doc_id % 3)), 6) AS mean_luma
         FROM documents ORDER BY doc_id""",

    "p_multimodal_audio" ->
      """SELECT d.doc_id, true AS ok,
              CAST(8000 AS INT) AS sample_rate,
              CAST(1 AS INT) AS channels,
              CAST(800 + d.doc_id % 5 * 80 AS BIGINT) AS n_samples,
              CAST(sum((t.i * (d.doc_id % 7 + 1) % 200 - 100) * 50)
                AS BIGINT) AS amp_sum,
              CAST(max(abs((t.i * (d.doc_id % 7 + 1) % 200 - 100) * 50))
                AS BIGINT) AS peak
         FROM documents d,
              LATERAL unnest(range(0, 800 + d.doc_id % 5 * 80)) t(i)
         GROUP BY d.doc_id ORDER BY d.doc_id""",

    // synthGif analytics: nf = 2 + id%4 frames of 8×(4 + id%3) solid
    // gray (id·7 + f·13) % 200; stride-2 sampling decodes f = 0, 2, 4
    // (present iff nf > f), and gray-pixel luma is exactly the gray
    // value, so sampled luma is Σ g_f · 8 · h
    "p_multimodal_frames_real" ->
      """SELECT d.doc_id, true AS ok,
              false AS truncated,
              CAST(2 + d.doc_id % 4 AS BIGINT) AS n_frames,
              CAST(sum(CASE WHEN t.f % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sampled,
              CAST(sum(CASE WHEN t.f % 2 = 0
                     THEN ((d.doc_id * 7 + t.f * 13) % 200)
                          * 8 * (4 + d.doc_id % 3)
                     ELSE 0 END) AS BIGINT) AS luma_sum
         FROM documents d,
              LATERAL unnest(range(0, 2 + d.doc_id % 4)) t(f)
         GROUP BY d.doc_id ORDER BY d.doc_id"""
  )
}
