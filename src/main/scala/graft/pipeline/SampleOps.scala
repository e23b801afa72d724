package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines. Membership is a
  * pure function of the row's id — `md5(id)` prefix compared against a
  * rate threshold — so samples are reproducible across runs, engines,
  * partitionings and cluster sizes (unlike `df.sample`, whose output
  * depends on partition layout), rows can be re-derived cheaply, and
  * the predicate is codegen'd and fully parallel (no shuffle, no state).
  *
  * The comparison is done on the 8-char lowercase-hex md5 prefix as a
  * STRING: equal-length hex compares lexicographically == numerically
  * in every engine, which makes the DuckDB oracle exact.
  */
object SampleOps {

  /** First 8 hex chars of md5 of the id rendered as a string. */
  def hashBucket(id: Column): Column =
    substring(md5(id.cast("string").cast("binary")), 1, 8)

  /** `rate` in [0,1] → inclusive-exclusive hex threshold on 2^32. */
  def thresholdHex(rate: Double): String = {
    require(rate >= 0.0 && rate <= 1.0, s"rate out of range: $rate")
    val t = math.min((rate * 4294967296.0).toLong, 0xFFFFFFFFL)
    f"$t%08x"
  }

  /** Uniform deterministic sample: keep ~rate of rows. rate=1.0 keeps
    * EVERY row: the threshold clamps to "ffffffff", and a strict `<`
    * would silently drop the ~2⁻³² of ids whose bucket is exactly
    * that — tens of rows on a multi-billion-row corpus.
    */
  def hashSample(df: DataFrame, idCol: String, rate: Double): DataFrame =
    if (rate >= 1.0) { thresholdHex(rate); df } // still range-validate
    else df.filter(hashBucket(col(idCol)) < lit(thresholdHex(rate)))

  /** Deterministic per-group cap: keep at most `n` rows per stratum,
    * chosen by md5-bucket order (id as the tiebreak) — "at most N docs
    * per domain/language", the hard-cap companion of rate-based
    * stratified sampling. Which rows survive is a pure function of
    * (stratum, id), independent of partitioning.
    *
    * One shuffle on the stratum; the rank filter is a
    * `row_number <= n` window, which Spark rewrites to WindowGroupLimit
    * — each partition keeps its own top-n BEFORE the exchange, so the
    * shuffle carries at most n rows per (stratum, input partition),
    * not the full group.
    */
  def capPerGroup(df: DataFrame, stratum: Column, idCol: String,
      n: Int): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratum).orderBy(hashBucket(col(idCol)), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n).drop("__rn")
  }

  /** Stratified deterministic sample: per-stratum rates (e.g. keep 50%
    * of English, 25% of everything else) — the standard language/domain
    * rebalancing step of corpus construction. Unlisted strata get
    * `defaultRate`.
    */
  def stratifiedSample(df: DataFrame, stratum: Column, idCol: String,
      rates: Map[String, Double], defaultRate: Double): DataFrame = {
    val threshold = rates.toSeq.sortBy(_._1).foldLeft(
      lit(thresholdHex(defaultRate))) { case (acc, (k, r)) =>
      when(stratum === lit(k), lit(thresholdHex(r))).otherwise(acc)
    }
    // a full-rate stratum clamps to "ffffffff"; keep its boundary ids
    // too (see hashSample)
    df.filter(hashBucket(col(idCol)) < threshold ||
      threshold === lit("ffffffff"))
  }

  /** Weighted multi-source mixing with deterministic fractional
    * UP-sampling — the Pile/Dolma mixture recipe: a source with
    * weight `w` contributes `floor(w)` full copies of every document
    * plus one more for a fixed `frac(w)` fraction (md5 membership
    * over (source, id), so which documents get the extra epoch is a
    * pure function of content identity — reproducible across runs,
    * engines and partitionings). Weights below 1 degenerate to plain
    * deterministic down-sampling, so one operator covers both sides
    * of the mix. Output: (source, id, copy) — feed a composite of the
    * three into [[shuffleCoords]] for the training order.
    *
    * Map-side only: a bounded copies array per row exploded in place;
    * no shuffle, no state, unions are cheap plan branches.
    */
  def upsampleMix(sources: Seq[(String, DataFrame, Double)],
      idCol: String): DataFrame = {
    require(sources.nonEmpty, "no sources")
    require(sources.map(_._1).distinct.size == sources.size,
      "duplicate source tags")
    sources.map { case (tag, df, w) =>
      require(w >= 0.0, s"negative weight for $tag: $w")
      val full = math.floor(w).toLong
      val frac = w - full
      val extra = when(
        hashBucket(concat(lit(tag), lit(":"), col(idCol).cast("string")))
          < lit(thresholdHex(frac)), 1L).otherwise(0L)
      val n = lit(full) + extra
      val copies = when(n >= 1L, sequence(lit(0L), n - 1L))
        .otherwise(array().cast("array<bigint>"))
      df.select(lit(tag).as("source"), col(idCol).as("id"),
          copies.as("__c"))
        .select(col("source"), col("id"), explode(col("__c")).as("copy"))
    }.reduce(_ unionByName _)
  }

  /** Deterministic global shuffle for training-data ordering: every row
    * gets a reproducible `(shard, pos)` coordinate — shard round-robin
    * on the id (even shard sizes by construction), position = rank of
    * `md5(id)` within the shard. Reading shards in parallel and each
    * shard in `pos` order yields the same pseudo-random document order
    * on every run, engine, and partitioning — the property a training
    * data loader needs (`df.orderBy(rand())` has none of them).
    *
    * One shuffle on the shard id; the per-shard `row_number` is a keyed
    * window (shards are many and even-sized, so no single-partition
    * bottleneck). At 100 TB, `shards` tracks the corpus (one shard ≈
    * one training file), exactly like [[PackOps.packChunks]].
    *
    * Shard balance assumes id residues mod `shards` are roughly
    * uniform (true for sequential or dense ids — the round-robin is
    * then an EXACT balance). For ids with correlated residues (e.g.
    * all even), pass a pre-hashed id column instead.
    */
  def shuffleCoords(df: DataFrame, idCol: String, shards: Int): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"))
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
    df.withColumn("shard", pmod(col(idCol), lit(shards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long") - 1)
  }

  /** Keep the top `num/den` fraction of each stratum under `order`
    * (e.g. the best half of every language by classifier score) — the
    * proportional companion of [[capPerGroup]]. The kept count is
    * `ceil(num·n/den)` per stratum, decided with INTEGER arithmetic
    * (`(rn−1)·den < num·n`), so the boundary is bit-exact in any
    * engine — no float threshold to disagree about.
    *
    * One shuffle on the stratum; `row_number` and the stratum count
    * share the same window partitioning.
    */
  def topFracPerGroup(df: DataFrame, stratum: Column, order: Seq[Column],
      num: Int, den: Int): DataFrame = {
    require(den > 0 && num >= 0 && num <= den,
      s"fraction must satisfy 0 <= num <= den, got $num/$den")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratum).orderBy(order: _*)
    val wc = org.apache.spark.sql.expressions.Window.partitionBy(stratum)
    df.withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(wc))
      .filter((col("__rn") - 1) * den < lit(num.toLong) * col("__n"))
      .drop("__rn", "__n")
  }

  /** Greedy token-budget selection: shard the corpus round-robin, order
    * each shard by `order` (best docs first), and keep the maximal
    * prefix whose cumulative token count fits `budgetPerShard` — "give
    * me the best B tokens per output file". Adds `shard` and
    * `cum_tokens` (running total INCLUDING the row). Cumulative sums
    * are monotone (token counts are non-negative), so the filter is a
    * true prefix per shard.
    *
    * Same scale shape as [[PackOps.packChunks]]: the prefix sum is a
    * per-shard keyed window, one shuffle total, no global sort.
    */
  def tokenBudgetPerShard(df: DataFrame, idCol: String, tokens: Column,
      order: Seq[Column], shards: Int, budgetPerShard: Long): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    require(budgetPerShard >= 0,
      s"budgetPerShard must be non-negative, got $budgetPerShard")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(order :+ col(idCol): _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("shard", pmod(col(idCol), lit(shards.toLong)))
      .withColumn("cum_tokens", sum(tokens.cast("long")).over(w))
      .filter(col("cum_tokens") <= budgetPerShard)
  }
}
