package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-experiment data builder: replicates the driver testdata N×
  * with structure-preserving shifts, so the heavy queries can be
  * benchmarked at 10× volume to validate the linear-scaling claims
  * empirically (VERDICT r2 "measure, don't guess").
  *
  * The shifts keep workload *structure* proportional rather than
  * degenerate:
  *  - `documents.text` goes through a per-replica character
  *    substitution, so near/exact-dup groups stay within a replica
  *    (pairs grow linearly). A mere suffix is NOT enough — suffixed
  *    copies stay near-identical under shingling, which made every dup
  *    group span all replicas and grew candidate pairs quadratically
  *    (first measurement: minhash 29×, clusters 14× on 10× data);
  *  - `embeddings.embedding` is circularly shifted per replica
  *    (norm-preserving, cross-replica cosine ≈ random) — an ε-perturbed
  *    copy would stay a cosine-0.999 near-dup of its original;
  *  - `events.ts` extends the timeline by one span per replica
  *    (per-hour density constant, bin count grows linearly);
  *  - `lineitem`/`orders` shift the order keys consistently (join
  *    fan-out per key constant); dimension tables are left as-is,
  *    the realistic big-fact/small-dim shape.
  *
  * Usage: runMain graft.ScaleData <srcSfDir> <dstDir> [copies=10]
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = LocalSession()
    Tables.configure(spark)

    def replicate(df: DataFrame)(shift: (DataFrame, Int) => DataFrame)
        : DataFrame =
      (0 until copies).map(i => shift(df, i)).reduce(_ unionByName _)

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scale] wrote $name")
    }

    // documents: ids shifted, per-replica letter permutation (applied
    // uniformly within a replica, so within-replica dup structure is
    // preserved while cross-replica shingles share nothing). A plain
    // rotation only has 26 members — at 100 copies every doc got ~4
    // identical twins and the dedup ratios measured the artifact, not
    // the plans. Two independent half-alphabet rotations give 169
    // distinct permutations.
    val alphabet = "abcdefghijklmnopqrstuvwxyz"
    def perm(i: Int): String = {
      val (h1, h2) = alphabet.splitAt(13)
      def rotS(s: String, k: Int) = s.drop(k % 13) + s.take(k % 13)
      rotS(h1, i % 13) + rotS(h2, (i / 13) % 13)
    }
    require(copies <= 169, "letter-permutation space is 169 replicas")
    val docs = Tables.documents(spark, src)
    val docShift = docs.agg(max("doc_id")).head().getLong(0) + 1
    write(replicate(docs) { (d, i) =>
      if (i == 0) d
      else d.select(
        (col("doc_id") + lit(i * docShift)).as("doc_id"),
        translate(col("text"), alphabet, perm(i)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }, "documents")

    // embeddings: ids shifted, circular component shift per replica,
    // sign-flipped once the shift space wraps (norm-preserving; 2×dim
    // distinct transforms, cross-replica cosine ≈ random)
    val embs = Tables.embeddings(spark, src)
    val vecShift = embs.agg(max("vec_id")).head().getLong(0) + 1
    val dim = embs.select(size(col("embedding"))).head().getInt(0)
    require(copies <= 2 * dim, s"embedding transform space is ${2 * dim}")
    write(replicate(embs) { (d, i) =>
      val k = i % dim
      val shifted =
        if (k == 0) col("embedding")
        else concat(slice(col("embedding"), k + 1, dim - k),
          slice(col("embedding"), 1, k))
      val vec =
        if ((i / dim) % 2 == 1) transform(shifted, x => -x) else shifted
      d.select((col("vec_id") + lit(i * vecShift)).as("vec_id"),
        vec.as("embedding"), col("label"))
    }, "embeddings")

    // events: ts shifted by one span per replica; ids shifted. Two
    // physical schemas exist across driver generations: raw int64
    // nanos (shift arithmetically) and native µs NTZ (shift via
    // timestampadd, span measured in micros).
    val ev = Tables.load(spark, src, "events")
    val evIsRawNanos =
      ev.schema("ts").dataType == org.apache.spark.sql.types.LongType
    val tsUs =
      if (evIsRawNanos) expr("ts div 1000")
      // type OBJECT, not cast("timestamp"): under the session's
      // timestampType=TIMESTAMP_NTZ the string parses back to NTZ
      else unix_micros(col("ts")
        .cast(org.apache.spark.sql.types.TimestampType))
    val evStats = ev.agg(max("event_id"), min(tsUs), max(tsUs)).head()
    val evShift = evStats.getLong(0) + 1
    val spanUs = evStats.getLong(2) - evStats.getLong(1) + 3600L * 1000000L
    write(replicate(ev) { (d, i) =>
      if (i == 0) d
      else {
        val shifted = d.withColumn("event_id",
          col("event_id") + lit(i * evShift))
        if (evIsRawNanos)
          shifted.withColumn("ts", col("ts") + lit(i * spanUs * 1000L))
        else shifted.withColumn("ts",
          expr(s"timestampadd(MICROSECOND, ${i * spanUs}, ts)"))
      }
    }, "events")

    // fact tables: order keys shifted consistently across both
    val orders = Tables.orders(spark, src)
    val okShift = orders.agg(max("o_orderkey")).head().getLong(0) + 1
    write(replicate(orders) { (d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i * okShift))
    }, "orders")
    write(replicate(Tables.lineitem(spark, src)) { (d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(i * okShift))
    }, "lineitem")

    // dimensions: copied once (big-fact/small-dim is the realistic shape)
    Seq("customer", "supplier", "part", "nation", "region").foreach { t =>
      write(Tables.load(spark, src, t), t)
    }
    spark.stop()
  }
}
