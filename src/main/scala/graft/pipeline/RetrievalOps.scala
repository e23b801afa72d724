package graft.pipeline

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Lexical (BM25) retrieval and rank fusion — the sparse half of a
  * retrieval stack, beside the dense ANN family in [[SimilarityOps]].
  *
  * Shape at 100 TB: the postings build is ONE shuffle of (id, term)
  * rows (explode is map-side; `groupBy(id, term)` and the derived
  * per-term document frequencies ride the same keyspace); corpus-level
  * scalars (N, Σdl) reduce to one broadcast row; the query set — always
  * tiny next to the corpus — is broadcast against the postings, so
  * scoring streams the postings exactly once with no corpus shuffle.
  * Nothing is ever all-pairs: cost is Σ over query terms of df(term).
  *
  * Determinism (what makes the DuckDB oracle hash-exact): tokens are
  * plain space-splits (`string_split` in the oracle); k1/b are chosen
  * so every derived literal (k1+1, 1−b) is an exact binary fraction —
  * 1.25/0.75, not the textbook 1.2 whose k1+1 sum sits on a half-ulp
  * tie between engines; each per-(term, doc) contribution is quantized
  * to integer micro-units (`round(1e6·idf·wt)` as BIGINT, the same
  * discipline as the trigram-LM costs) so the per-document sum is an
  * exact integer in any addition order; ranks tie-break on doc id.
  */
object RetrievalOps {

  /** Okapi defaults, constrained to exact binary fractions (see class
    * doc): k1+1 = 2.25 and 1−b = 0.25 round-trip bit-identically
    * through a SQL literal, so Spark and the oracle evaluate the same
    * IEEE expression tree. */
  val K1 = 1.25
  val B = 0.75

  /** Reciprocal-rank-fusion smoothing constant (Cormack et al. 2009's
    * k=60). */
  val RrfK = 60

  /** (id, term, tf, dl) term frequencies per document, space-split
    * tokens. One shuffle on (id, term); dl rides the groupBy (it is
    * constant per id) so no second join against a doc-length table. */
  def termFreqs(corpus: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val toks = corpus.select(col(idCol).cast("long").as("id"),
        split(col(textCol), " ").as("ws"))
      .select(col("id"), size(col("ws")).cast("long").as("dl"),
        explode(col("ws")).as("term"))
    toks.groupBy("id", "term")
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
  }

  /** Top-k BM25 per query over a raw corpus. `queries` is a small
    * (q_id, q_text) frame — broadcast against the term table;
    * duplicate query terms count once (distinct-term query semantics).
    * Output: (q_id, rank, doc_id, score, n_hit) with score =
    * micro-unit sum / 1e6 rounded to 6 decimals and n_hit = number of
    * distinct query terms the document matched; ties broken by
    * ascending doc id.
    */
  def bm25TopK(corpus: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, k: Int,
      k1: Double = K1, b: Double = B): DataFrame = {
    // tf feeds the query-term prune AND the corpus scalars. LAZY since
    // r14: the three consumers (stats, df, posts) share tf's aggregate
    // EXCHANGE, and ReuseExchange/AQE stage reuse materializes that
    // shuffle once per action — the corpus is scanned and tokenized
    // ONCE (plan audit, plans/r14/p_bm25_topk_after.txt: one Scan +
    // one ReusedExchange per extra consumer), with none of the
    // persist + localCheckpoint + unpersist jobs the r11 form paid
    // (measured 20 → 12 scheduler jobs, ~1.8 → ~1.1 s at sf0.1; the
    // indexed path, Bm25Index.topK, was always lazy). Callers run one
    // action per result — the engine's query contract — so nothing
    // re-executes the subtree across actions.
    val tf = termFreqs(corpus, idCol, textCol)
    // corpus scalars DIRECTLY from the corpus, not via tf: a
    // tf-derived stats branch re-runs the tokenize + explode +
    // partial-agg subtree (its pruned projection differs from the
    // posts branch's, so the tf exchange does not canonicalize equal
    // and AQE cannot reuse it — plan audit r14). One map-side
    // split + global agg is strictly cheaper: no explode, no
    // (id, term) shuffle. Semantics: dl = size(split), null text
    // splits to null (excluded both ways), empty text is one empty
    // token, same as SQL string_split. PRECONDITION (ADVICE r14): ids
    // are unique and non-null per corpus row — the old tf-derived
    // form grouped by id first, so a duplicate/NULL id would collapse
    // to one doc in n_docs/sum_dl where this per-row count counts
    // each occurrence. Every corpus here satisfies it (doc_id is the
    // fixture primary key; oracle-verified), and termFreqs itself
    // would already double-count tf for a duplicated id.
    val ws = split(col(textCol), " ")
    val stats = corpus.select(ws.as("ws")).filter(col("ws").isNotNull)
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(size(col("ws"))).cast("long").as("sum_dl"))
    scoreTermTable(tf, stats, queries, k, k1, b)
  }

  /** The shared scoring tail: `tf` is any (id, term, tf, dl) term
    * table — the whole corpus ([[bm25TopK]]) or a zone-map-pruned
    * index read ([[Bm25Index.topK]]); `stats` one (n_docs, sum_dl)
    * row. The term table is first pruned to the query vocabulary
    * (broadcast semi-reduction — document frequencies are then
    * counted over exactly the terms that will be scored, never the
    * corpus vocabulary), per-(term, doc) contributions are quantized
    * to integer micro-units — `round(1e6 · idf · wt)` with
    * idf = ln(1 + (N − df + 0.5)/(df + 0.5)) and
    * wt = tf·(k1+1)/(tf + k1·((1−b) + b·dl/avgdl)) — so each
    * document's score is an exact integer sum in any addition order.
    */
  private[pipeline] def scoreTermTable(tf0: DataFrame, stats: DataFrame,
      queries: DataFrame, k: Int, k1: Double, b: Double): DataFrame = {
    val qterms = queries
      .select(explode(array_distinct(split(col("q_text"), " ")))
        .as("term")).distinct()
    val tf = tf0.join(broadcast(qterms), "term")
    // document frequency as a count-over-window on the PRUNED term
    // table (tf has one row per (term, doc), so the partition count
    // IS df) instead of a groupBy + broadcast-join: the join form
    // re-ran the whole tf lineage a second time for the df branch
    // (same non-reusable-exchange trap as the stats scalar — plan
    // audit r14); the window form reads the pruned postings once and
    // adds one small exchange bounded by Σ df(query terms)
    val wTerm = Window.partitionBy("term")
    val posts = tf
      .withColumn("df", count(lit(1)).over(wTerm).cast("long"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf",
        log(lit(1.0) +
          (col("n_docs").cast("double") - col("df").cast("double")
            + lit(0.5)) / (col("df").cast("double") + lit(0.5))))
      .withColumn("wt",
        col("tf").cast("double") * lit(k1 + 1.0) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) +
              lit(b) * col("dl").cast("double") / col("avgdl"))))
      .select(col("term"), col("id"),
        round(lit(1e6) * col("idf") * col("wt")).cast("long").as("cost"))
    val qt = queries.select(col("q_id").cast("long").as("q_id"),
      explode(array_distinct(split(col("q_text"), " "))).as("term"))
    val scored = posts.join(broadcast(qt), "term")
      .groupBy("q_id", "id")
      .agg(sum("cost").as("s"), count(lit(1)).cast("long").as("n_hit"))
    val w = Window.partitionBy("q_id").orderBy(col("s").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("id").as("doc_id"),
        round(col("s").cast("double") / lit(1e6), 6).as("score"),
        col("n_hit"))
  }

  /** Reciprocal-rank fusion of two ranked lists — see [[rrfFuseN]]
    * (the 2-arm results are identical to the r11 full-outer-join
    * form: both compute the same exact integer sums per (q_id,
    * doc_id); only the plan shape changed). */
  def rrfFuse(armA: DataFrame, armB: DataFrame, k: Int): DataFrame =
    rrfFuseN(Seq(armA, armB), k)

  /** Reciprocal-rank fusion of N ≥ 2 ranked lists (Cormack/Clarke/
    * Buettcher 2009): each arm contributes 1/([[RrfK]]+rank), a
    * document missing from an arm contributes nothing. Contributions are
    * quantized to nano-units (`round(1e9/(RrfK+rank))` as BIGINT — one
    * IEEE division per rank, identical in any engine) so the fused
    * score is an exact integer sum in any addition order and any arm
    * order. Input arms: (q_id, doc_id, rank); output: (q_id, rank,
    * doc_id, rrf_score BIGINT) top-k fused, ties by ascending doc id.
    *
    * Shape at scale: arms UNION (map-side) into one (q_id, doc_id, c)
    * stream and fuse in a single groupBy-sum shuffle — N-ary fusion
    * costs one exchange regardless of N, where chained full-outer
    * joins would pay N−1 (each arm is already a bounded top-pool per
    * query, so the union is small by construction).
    */
  def rrfFuseN(arms: Seq[DataFrame], k: Int): DataFrame = {
    require(arms.size >= 2, s"rrf fusion wants >= 2 arms, got ${arms.size}")
    val contribs = arms.map(df =>
      df.select(col("q_id").cast("long").as("q_id"),
        col("doc_id").cast("long").as("doc_id"),
        round(lit(1e9) / (lit(RrfK).cast("double") + col("rank")
          .cast("double"))).cast("long").as("c")))
    val fused = contribs.reduce(_ unionByName _)
      .groupBy("q_id", "doc_id")
      .agg(sum(col("c")).as("rrf_score"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("rrf_score").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "doc_id", "rrf_score")
  }
}
