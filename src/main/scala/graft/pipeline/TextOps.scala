package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, shingling, quality signals, n-gram language ID and
  * document fingerprinting. Everything is built from codegen'd
  * `functions._` expressions (no UDFs) and uses only arithmetic that is
  * bit-reproducible across engines (integer counts, md5 hex strings),
  * so every operator has an exact DuckDB oracle.
  */
object TextOps {

  /** Whitespace tokens. */
  def wsTokens(text: Column): Column = split(text, " ")

  /** BPE-ish regex tokens: runs of letters, digits, or single other
    * non-space chars. */
  val TokenRegex = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"
  def regexTokens(text: Column): Column =
    regexp_extract_all(text, lit(TokenRegex), lit(0))

  /** REAL BPE token count under a loadable merges table (default: the
    * fixture vocabulary) — the tokenizer-token semantics budgets are
    * actually set in. One codegen'd map-side call per row; see
    * [[graft.functions.Bpe]] for the algorithm and the DuckDB-oracle
    * equivalence. */
  def nTokensBpe(text: Column,
      table: graft.functions.Bpe.Table = graft.functions.Bpe.fixtureTable)
      : Column =
    graft.functions.Bpe.bpeTokenCount(text, table)

  /** Cleaning scalars (the scrub/normalize stage that precedes dedup
    * and quality filtering in a training-data pipeline). Map-side
    * `regexp_replace` chains — no shuffle, codegen'd. Patterns stay in
    * the Java∩RE2 common subset (`\w`, literal classes) so the DuckDB
    * oracle (RE2, 'g' flag) replaces identically.
    */
  val UrlRe = "https?://[\\w./-]+"
  val EmailRe = "[\\w.+-]+@[\\w.-]+"
  /** International-ish phone shapes: +CC then 7+ digits with optional
    * space/dash separators, ending on a digit (the trailing-digit
    * anchor keeps punctuation after the number intact). */
  val PhoneRe = "\\+[0-9][0-9 -]{6,}[0-9]"
  /** IPv4 dotted quad (loose — matches any 1-3-digit quads; masking
    * errs on the side of scrubbing). */
  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** Placeholder tokens the scrubs substitute. */
  private val UrlMask = "<URL>"
  private val EmailMask = "<EMAIL>"
  private val PhoneMask = "<PHONE>"
  private val IpMask = "<IP>"

  /** Replace every URL with a placeholder token. */
  def scrubUrls(text: Column): Column =
    regexp_replace(text, UrlRe, UrlMask)

  /** Replace every email address with a placeholder token (the
    * PII-masking baseline; richer PII classes plug in the same way). */
  def scrubEmails(text: Column): Column =
    regexp_replace(text, EmailRe, EmailMask)

  /** Replace phone numbers (the second PII class; see PhoneRe). */
  def scrubPhones(text: Column): Column =
    regexp_replace(text, PhoneRe, PhoneMask)

  /** Replace IPv4 addresses (the third PII class; see Ipv4Re). */
  def scrubIps(text: Column): Column =
    regexp_replace(text, Ipv4Re, IpMask)

  /** Collapse runs of spaces and trim — the normalize pass after
    * scrubbing. */
  def normalizeWs(text: Column): Column =
    trim(regexp_replace(text, " {2,}", " "))

  /** [1..hi] as an int array, EMPTY when hi < 1. A plain
    * `sequence(1, hi)` silently flips to a DESCENDING [1, 0] at hi = 0
    * (Spark auto-selects step -1), and the downstream slice/substr then
    * throws on index 0 — so any document shorter than the shingle width
    * would kill the whole job. */
  private def upTo(hi: Column): Column =
    when(hi >= 1, sequence(lit(1), hi))
      .otherwise(array().cast("array<int>"))

  /** All word n-grams in order (space-joined, with multiplicity);
    * empty for documents with fewer than n words. ONE JVM loop since
    * r15 ([[graft.functions.Shingles.wordNgrams]]) — the
    * transform/slice/array_join composition allocated an n-token
    * slice per position (guide §1.2); output byte-identical,
    * including the null-text → empty-array guard. */
  def wordNgrams(text: Column, n: Int): Column =
    graft.functions.Shingles.wordNgramsCol(wsTokens(text), n,
      distinct = false)

  /** Distinct word n-gram shingles (space-joined); empty for documents
    * with fewer than n words. First-occurrence dedup inside the same
    * loop (array_distinct semantics). */
  def wordShingles(text: Column, n: Int): Column =
    graft.functions.Shingles.wordNgramsCol(wsTokens(text), n,
      distinct = true)

  /** All character n-gram shingles (stride 1). ONE JVM loop since r15
    * — the per-position `substr(text, i, n)` re-walked the string
    * from byte 0 to resolve the character offset, O(len²) per
    * document on multi-byte text. */
  def charShingles(text: Column, n: Int): Column =
    graft.functions.Shingles.charShinglesCol(text, n)

  /** Occurrences of a literal marker inside text — the
    * length/replace trick, exact integer math in any engine. */
  def occurrences(text: Column, marker: String): Column =
    ((length(text) - length(regexp_replace(text,
      java.util.regex.Pattern.quote(marker), ""))) / marker.length)
      .cast("long")

  /** Character-n-gram language-ID profiles: fixed marker n-grams per
    * language. The heuristic is score = Σ marker occurrences; argmax
    * with alphabetical tie-break.
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("ch", "er ", " de", "sch"),
    "en" -> Seq("th", " th", "ing", "he "),
    "es" -> Seq(" el", "os ", "ar ", "ci"),
    "fr" -> Seq(" le", "es ", " de ", "ou"),
    "zh" -> Seq("zh", "sh", "ng ", " xi"))

  def langScores(text: Column): Seq[(String, Column)] =
    LangProfiles.map { case (lang, markers) =>
      lang -> markers.map(m => occurrences(text, m))
        .reduce(_ + _)
    }

  /** argmax language with deterministic alphabetical tie-break.
    * CAUTION: inlines every score expression ~2× per profile into one
    * projection (each is a regexp chain) — prefer `withLangId` for
    * whole-table work, which stages scores as attributes. */
  def langId(text: Column): Column = {
    val scores = langScores(text)
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best, lit(lang)).otherwise(acc)
    }
  }
  // NOTE foldRight + overwrite-on-match order: the FIRST profile in
  // LangProfiles (alphabetical) wins ties because later `when`s are in
  // the else branch of earlier ones.

  /** Staged whole-DataFrame language ID: the per-profile score
    * expressions (regexp chains) are materialized as attributes ONCE
    * per row, then argmax/tie-break reference only attributes — each
    * intermediate projection keeps ≥2 references to its expensive
    * aliases so CollapseProject cannot inline them back. Adds
    * `lang_guess` (string) and `best_score` (long); drops the
    * scratch columns.
    */
  def withLangId(df: org.apache.spark.sql.DataFrame, textCol: String)
      : org.apache.spark.sql.DataFrame = {
    val scoreCols = LangProfiles.map { case (lang, markers) =>
      markers.map(m => occurrences(col(textCol), m)).reduce(_ + _)
        .as(s"__s_$lang")
    }
    val names = LangProfiles.map(l => s"__s_${l._1}")
    val scored = df.select(col("*") +: scoreCols: _*)
    val withBest = scored.select(col("*"),
      greatest(names.map(col): _*).as("__best"))
    val langCase = LangProfiles.foldRight(lit("und"): Column) {
      case ((lang, _), acc) =>
        when(col(s"__s_$lang") === col("__best"), lit(lang)).otherwise(acc)
    }
    withBest
      .withColumn("lang_guess", langCase)
      .withColumn("best_score", col("__best").cast("long"))
      .drop(names :+ "__best": _*)
  }

  /** Quality signals: exact integer counts + one rounded ratio. */
  val Stopwords = Seq("the", "a", "of", "to", "and", "in", "is", "it")
  def qualityCols(text: Column): Seq[Column] = {
    val ws = wsTokens(text)
    val stop = filter(ws, w => w.isin(Stopwords.map(lit(_)): _*))
    Seq(
      length(text).cast("long").as("n_chars"),
      size(ws).cast("long").as("n_words"),
      size(array_distinct(ws)).cast("long").as("n_distinct_words"),
      size(stop).cast("long").as("n_stopwords"),
      round(size(stop).cast("double") / size(ws), 6).as("stopword_ratio"),
      round(length(text).cast("double") / size(ws), 6).as("avg_token_len"))
  }

  /** Shingle width, in characters, of the document fingerprint. */
  private val FingerprintChars = 8

  /** Rolling-hash-style document fingerprint (winnowing-lite): the
    * lexicographic min/max md5 of all [[FingerprintChars]]-char
    * shingles. Equal-length lowercase hex compares lexicographically ==
    * numerically, so this is engine-portable without any int conversion.
    */
  def fingerprintCols(text: Column): Seq[Column] = {
    val n = FingerprintChars
    val hashes = transform(upTo(length(text) - (n - 1)),
      i => md5(text.substr(i, lit(n))))
    Seq(array_min(hashes).as("fp_min"), array_max(hashes).as("fp_max"))
  }

  /** Hashed-linear quality-classifier scoring — the shape of a
    * fasttext-style quality filter: every distinct word hashes to a
    * weight, the document's score is the mean weight, and `keep` is a
    * threshold on it. The weight table here is SYNTHETIC (a pure
    * function of md5, so the DuckDB oracle reproduces it bit-exactly);
    * a trained model drops in by replacing `wordWeight` with a lookup
    * against a broadcast weight table — the plumbing (map-side scoring,
    * integer accumulation, no shuffle) is the part that matters at
    * 100 TB.
    *
    * Weights are INTEGERS in [-1000, 1000] and the sum is integer math
    * — double addition is order-dependent, so a double-weight sum
    * would diverge between engines/partitionings; one final division
    * + round keeps the score deterministic everywhere.
    */
  def wordWeight(w: Column): Column =
    pmod(conv(substring(md5(w), 1, 6), 16, 10).cast("long"), lit(2001L)) -
      lit(1000L)

  /** Adds `n_feats`, `w_sum`, `score` per row. Staged projections: the
    * distinct-feature array and the integer weight sum each become
    * attributes with ≥2 downstream references, so CollapseProject
    * cannot inline the tokenize/hash work back into multiple
    * evaluations (the withLangId discipline).
    *
    * `keep` carries extra input columns through (e.g. a language or
    * precomputed token count): scoring stays ONE map-side pass —
    * downstream curation must never need a corpus×corpus self-join on
    * the id just to reunite the score with columns this projection
    * dropped.
    */
  def classifierScoreDF(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, keep: Seq[String] = Nil)
      : org.apache.spark.sql.DataFrame = {
    val kept = keep.map(col)
    df.select(Seq(col(idCol),
        array_distinct(wsTokens(col(textCol))).as("__f")) ++ kept: _*)
      .select(Seq(col(idCol), size(col("__f")).cast("long").as("n_feats"),
        aggregate(col("__f"), lit(0L), (acc, w) => acc + wordWeight(w))
          .as("w_sum")) ++ kept: _*)
      .select(Seq(col(idCol), col("n_feats"), col("w_sum"),
        round(col("w_sum").cast("double") /
          (col("n_feats") * lit(1000.0)), 6).as("score")) ++ kept: _*)
  }

  /** Intra-document repetition signals (the Gopher-style repetition
    * filters, adapted to single-line documents: word instead of line
    * granularity). Two branches over the same source, joined on id:
    *
    *  - map-side: word counts and the duplicate-word fraction
    *    (1 − distinct/total — the "how much of this doc is the same
    *    word over and over" signal);
    *  - bigram mode: the most frequent word 2-gram and its share of
    *    all bigrams. Computed relationally (explode → count → min on
    *    a (−count, gram) struct, so ties break on the
    *    lexicographically smallest gram) because a per-row HOF mode
    *    would re-scan the array per distinct element — the explode is
    *    per-WORD (bounded fan-out), not per-character, and the
    *    aggregation is partial (map-side combine) on (id, gram).
    *
    * Both branches shuffle on id at most once; no broadcast, no
    * whole-corpus state — scales like any per-document aggregation.
    */
  def repetitionDF(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val ws = wsTokens(col(textCol))
    val stats = df.select(col(idCol).as("id"), size(ws).as("__n"),
        size(array_distinct(ws)).as("__nd"))
      .select(col("id"),
        col("__n").cast("long").as("n_words"),
        round(lit(1.0) - col("__nd").cast("double") / col("__n"), 6)
          .as("dup_word_frac"))
    // generator kept inline, matching DedupOps.shingleTable (the
    // Project(arr) + Generate split copies the whole array per row)
    val bigrams = df.select(col(idCol).as("id"),
      explode(wordNgrams(col(textCol), 2)).as("g"))
    val top = bigrams.groupBy("id", "g").agg(count(lit(1)).as("c"))
      .groupBy("id")
      .agg(sum(col("c")).as("n_bigrams"),
        min(struct((lit(0L) - col("c")).as("nc"), col("g"))).as("__t"))
      .select(col("id"), col("n_bigrams"),
        col("__t.g").as("top_bigram"),
        (lit(0L) - col("__t.nc")).as("top_cnt"))
      .withColumn("top_frac",
        round(col("top_cnt").cast("double") / col("n_bigrams"), 6))
    // LEFT join: a doc with < 2 words has no bigram rows at all — an
    // inner join would silently delete it from the output (and any
    // downstream keep-filter would drop it from the corpus); it gets
    // zero counts and null mode/fraction instead
    stats.join(top, Seq("id"), "left")
      .select(col("id"), col("n_words"), col("dup_word_frac"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("top_bigram"),
        coalesce(col("top_cnt"), lit(0L)).as("top_cnt"),
        col("top_frac"))
  }

  /** Same fingerprint as a whole-DataFrame op. The md5-shingle array is
    * staged as an attribute in its own projection, then `array_min` /
    * `array_max` consume the attribute — two downstream references, so
    * CollapseProject cannot inline the transform back and every shingle
    * is hashed exactly once per row. Purely map-side: no explode, no
    * shuffle, no aggregate state — the per-row array is bounded by
    * document length, which is the same memory the explode shape needs
    * transiently anyway. (An explode + partial-agg variant measured
    * 6.3× slower at sf0.1: per-character row fan-out through a hash
    * aggregate loses to one interpreted HOF pass per row.)
    */
  def fingerprintDF(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    // ONE JVM loop since r15 (graft.functions.Shingles.md5WindowMinMax)
    // — the transform/substr/md5 + array_min/max composition paid a
    // from-byte-0 substr walk, a one-shot digest and a hex render per
    // position, holding the whole hash array alive per row. Identical
    // output (PipelineSpec pins it against fingerprintCols, which
    // keeps the composition form precisely as that pin).
    df.select(col(idCol),
        graft.functions.Shingles.md5WindowMinMaxCol(col(textCol),
            FingerprintChars)
          .as("__h"))
      .select(col(idCol),
        col("__h.fp_min").as("fp_min"),
        col("__h.fp_max").as("fp_max"))

  /** Char-trigram language-model scoring — the CCNet-style perplexity
    * quality filter, with the LM trained ON the corpus (self-scoring:
    * documents whose character statistics deviate from the corpus norm
    * — garbled encodings, binary junk, exotic boilerplate — score a
    * high average negative-log-likelihood and can be dropped by a
    * threshold on `avg_nll`; a pretrained external LM drops in by
    * replacing the model subquery with a static table).
    *
    * Model: add-one-smoothed P(c₃|c₁c₂) = (c3+1)/(c2+V) from corpus
    * trigram counts. Per-trigram cost is FIXED-POINT
    * `round(1e6·ln((c2+V)/(c3+1)))` as a long, so the per-document
    * accumulation is exact integer math — order-independent across
    * partitionings and engines (the classifierScoreDF discipline; a
    * double sum would be partition-order-dependent). The single ln per
    * DISTINCT trigram is the only float op, computed once model-side.
    *
    * 100 TB shape: the model is bounded by charset³ (≈1e6 entries for
    * ASCII-ish corpora, a few tens of MB) → broadcast to the scoring
    * join; trigram explode is per-character fan-out but feeds a
    * partial (map-side) count; scoring is explode → broadcast-join →
    * one shuffle on the doc id. At real scale, train the model on a
    * SAMPLE (the stats converge long before 100 TB) and score the full
    * corpus with the broadcast table — the scoring path here is
    * exactly that.
    *
    * Docs shorter than 3 chars have no trigrams: kept with n_tri = 0
    * and null `avg_nll` (left join — same contract as repetitionDF).
    *
    * The "charset³-bounded" claim behind the driver-side collect holds
    * for ASCII-ish corpora but NOT for CJK/multilingual web text,
    * where observed distinct character trigrams reach 1e8+. Three
    * knobs bound the model (defaults preserve exact full-corpus
    * training): `trainSampleRate` trains on a deterministic
    * [[SampleOps.hashSample]] of the documents (scoring still covers
    * the FULL corpus — trigram statistics converge long before the
    * corpus does); `minCount` drops sub-threshold trigrams in the
    * aggregation BEFORE the collect (rare trigrams then score as
    * unseen, see below); `maxModelEntries` is the hard backstop — the
    * collect is limit(cap+1) so an over-budget model fails fast with
    * the knobs to turn, never an OOM.
    *
    * With a partial model (sampled or minCount-cut), trigrams absent
    * from it are UNSEEN: they are excluded from both n_tri and the
    * NLL sum (inner scoring join), i.e. scored over the in-model
    * trigrams only — the standard sampled-LM treatment; avg_nll stays
    * comparable across documents because it is a per-trigram mean.
    */
  def trigramLmDF(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, trainSampleRate: Double = 1.0,
      minCount: Long = 1L, maxModelEntries: Int = 10_000_000)
      : org.apache.spark.sql.DataFrame = {
    require(maxModelEntries > 0,
      s"maxModelEntries must be positive, got $maxModelEntries")
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    val spark = df.sparkSession
    val tri = df.select(col(idCol).as("id"),
      explode(charShingles(col(textCol), 3)).as("g"))
    // TRAIN: one aggregated pass over the (sampled) corpus; the count
    // table collects to the driver (the same bounded-planner-collect
    // discipline the store uses) where the context sums, vocab size
    // and smoothed per-trigram costs are computed once. Leaving this
    // relational instead cost FOUR corpus explodes — Spark recomputes
    // a shared subplan per consumer (m3 feeds the model join, the
    // context aggregate AND the vocab aggregate; plan-audited,
    // PLANS.md round-6).
    val trainTri =
      if (trainSampleRate >= 1.0) tri
      else SampleOps.hashSample(df, idCol, trainSampleRate)
        .select(col(idCol).as("id"),
          explode(charShingles(col(textCol), 3)).as("g"))
    val counts = trainTri.groupBy("g").agg(count(lit(1)).as("c3"))
      .filter(col("c3") >= minCount)
      .limit(maxModelEntries + 1)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    require(counts.length <= maxModelEntries,
      s"trigram model exceeds maxModelEntries=$maxModelEntries — " +
        "raise minCount, lower trainSampleRate, or raise the cap")
    val c2 = counts.groupBy(_._1.substring(0, 2)).view
      .mapValues(_.map(_._2).sum).toMap
    val v = counts.iterator.map(_._1.substring(2)).toSet.size
    val modelRows = counts.toSeq.map { case (g, n3) =>
      (g, math.round(1e6 *
        math.log((c2(g.substring(0, 2)) + v).toDouble / (n3 + 1.0))))
    }
    import spark.implicits._
    val model = modelRows.toDF("g", "cost")
    // SCORE: second corpus pass — explode, broadcast-join the model,
    // per-doc exact integer accumulation (one shuffle on the doc id)
    val scored = tri.join(broadcast(model), Seq("g"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_tri"), sum(col("cost")).as("__s"))
    df.select(col(idCol).as("id")).join(scored, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        round(col("__s").cast("double") / 1e6 / col("n_tri"), 6)
          .as("avg_nll"))
  }

  /** Corpus-INTERNAL boilerplate signal (the CCNet/RefinedWeb shape,
    * adapted to segment = word n-gram): for each document, the
    * fraction of its n-gram occurrences whose distinct-document
    * frequency across the corpus reaches `dfMin` — navigation chrome,
    * licence blurbs and template text score high and can be dropped
    * or down-weighted by a keep-filter on `boiler_frac`.
    *
    * Differs from `ContaminationOps.overlapFraction` in that the
    * reference set is the corpus itself (a self-df), not an eval
    * benchmark. Two shuffles, both on the gram key: a distinct-doc df
    * count (only grams reaching `dfMin` survive — the slim side), and
    * the per-doc recount join. Never all-pairs, nothing corpus-sized
    * broadcast; documents shorter than `n` words have no shingles and
    * (deliberately, matching overlapFraction) no output row.
    */
  def boilerplateFrac(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, n: Int, dfMin: Long)
      : org.apache.spark.sql.DataFrame = {
    // shingleTable is per-document DISTINCT by construction
    // (wordShingles array_distincts), so a plain count per gram IS the
    // document frequency
    val sh = DedupOps.shingleTable(df, idCol, textCol, n)
    val common = sh.groupBy("g").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= dfMin)
      .select(col("g").as("__bg"))
    sh.join(common, col("g") === col("__bg"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        count(col("__bg")).as("n_boiler"))
      .withColumn("boiler_frac",
        round(col("n_boiler").cast("double") / col("n_grams"), 6))
  }
}
