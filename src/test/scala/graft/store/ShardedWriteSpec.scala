package graft.store

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Store.shardedWrite]] / [[Store.rangeDFAcross]] — the growth path
  * past the per-dataset stats ceiling ([[OrderedDataset.MaxFilesPerDataset]]
  * × row-group target ≈ 19 TB per dataset; ref base.py:338-357 ×
  * write.py:32): value-range shards of the ordered column land under
  * separate store keys with disjoint recorded ranges, and a range read
  * prunes whole KEYS before per-file zone maps load.
  */
class ShardedWriteSpec extends SparkSpec {
  import spark.implicits._

  private val idx: Indexer[String] =
    Indexer.of[String](1)(k => Seq(Seq(k)))(l =>
      if (l.head.length == 1) Some(l.head.head) else None)

  private def newStore(): Store[String] =
    new Store(spark, s"${tmpDir("shardstore")}/st", idx)

  private def evDf(n: Int): DataFrame =
    spark.range(n.toLong).toDF("t")
      .withColumn("v", col("t") * 1.5)

  test("multi-shard write: disjoint covering ranges, kv round-trip, full readback") {
    val st = newStore()
    val ks = st.shardedWrite(evDf(10000), WriteOpts("t", NRows(1500)),
      i => s"shard$i", targetRowsPerShard = 3000L)
    assert(ks.size == 4, s"10000 rows / 3000 per shard -> 4, got $ks")
    assert(st.keys.toSeq == ks.sorted)

    // recorded ranges: shard i's hiExcl is shard i+1's lo (half-open
    // chain covering the whole domain), index kv round-trips
    val kvs = ks.map(k => st.get(k).meta.kv)
    kvs.zipWithIndex.foreach { case (kv, i) =>
      assert(kv("graft.shard.index") == i.toString)
    }
    assert(kvs.head("graft.shard.lo") == "")      // open at the bottom
    assert(kvs.last("graft.shard.hiExcl") == "")  // open at the top
    kvs.sliding(2).foreach { case Seq(a, b) =>
      assert(a("graft.shard.hiExcl").nonEmpty &&
        a("graft.shard.hiExcl") == b("graft.shard.lo"),
        s"adjacent shard ranges must chain: $a | $b")
    }

    // per-shard data really honors its recorded range (disjointness)
    ks.foreach { k =>
      val kv = st.get(k).meta.kv
      val mm = st.get(k).df.agg(min("t"), max("t")).head()
      if (kv("graft.shard.lo").nonEmpty)
        assert(mm.getLong(0) >= kv("graft.shard.lo").toLong)
      if (kv("graft.shard.hiExcl").nonEmpty)
        assert(mm.getLong(1) < kv("graft.shard.hiExcl").toLong)
    }
    assert(ks.map(k => st.get(k).meta.totalRows).sum == 10000L)

    // full readback across shards == the input
    val back = st.rangeDFAcross(ks)
    assert(back.count() == 10000L)
    assert(back.agg(sum("t")).head().getLong(0) == (0L until 10000L).sum)
  }

  test("rangeDFAcross reads only the shard(s) covering the range") {
    val st = newStore()
    val ks = st.shardedWrite(evDf(8000), WriteOpts("t", NRows(1000)),
      i => s"s$i", targetRowsPerShard = 2000L)
    assert(ks.size == 4)
    // a range interior to ONE shard: [lo+10, lo+200) of shard 2
    val lo2 = st.get(ks(2)).meta.kv("graft.shard.lo").toLong
    val r = st.rangeDFAcross(ks,
      Some(OrdLong(lo2 + 10)), Some(OrdLong(lo2 + 200)))
    assert(r.count() == 190L)
    val scannedDirs = r.select(input_file_name()).distinct()
      .as[String].collect().map(_.split('/').dropRight(1).last).toSet
    assert(scannedDirs == Set(ks(2)),
      s"expected only shard ${ks(2)} scanned, got $scannedDirs")
  }

  test("value skew coalesces duplicate quantile boundaries into fewer shards") {
    // 9000 copies of one hot value + 1000 distinct: most quantiles
    // collapse onto the hot value; duplicates coalesce so the hot value
    // never splits across shards and ranges stay disjoint
    val hot = Seq.fill(9000)(500L) ++ (1000L until 2000L)
    val df = hot.toDF("t").withColumn("v", col("t") * 1.0)
    val st = newStore()
    val ks = st.shardedWrite(df, WriteOpts("t", NRows(3000)),
      i => s"s$i", targetRowsPerShard = 2000L)
    assert(ks.size < 5, s"duplicate boundaries must coalesce, got $ks")
    assert(ks.map(k => st.get(k).meta.totalRows).sum == 10000L)
    // the hot value lands wholly in one shard
    val holders = ks.filter(k =>
      st.get(k).df.filter(col("t") === 500L).limit(1).count() > 0)
    assert(holders.size == 1, s"hot value split across $holders")
    assert(st.get(holders.head).df.filter(col("t") === 500L).count() == 9000L)
  }

  test("null ordered_on rejected up front; no shard is created") {
    val st = newStore()
    val df = Seq[(java.lang.Long, Double)]((1L, 1.0), (null, 2.0),
      (3L, 3.0)).toDF("t", "v")
    val e = intercept[IllegalArgumentException] {
      st.shardedWrite(df, WriteOpts("t", NRows(10)), i => s"s$i",
        targetRowsPerShard = 1L)
    }
    assert(e.getMessage.contains("null"), e.getMessage)
    assert(st.keys.isEmpty, "a failed sharded write must commit nothing")
  }

  test("string ordered_on fails fast with the store's named error") {
    val st = newStore()
    val df = Seq(("a", 1.0), ("b", 2.0)).toDF("t", "v")
    val e = intercept[IllegalArgumentException] {
      st.shardedWrite(df, WriteOpts("t", NRows(10)), i => s"s$i",
        targetRowsPerShard = 1L)
    }
    assert(e.getMessage.contains("unsupported ordered_on type"),
      e.getMessage)
    assert(st.keys.isEmpty)
  }

  test("mid-loop shard failure rolls back already-committed shards") {
    val st = newStore()
    // poison shard 2's key: a pre-existing dataset with a DIFFERENT
    // ordered column makes its write() throw after shards 0-1 committed
    st.get("s2").write(Seq((1L, 1.0)).toDF("x", "v"),
      WriteOpts("x", NRows(10)))
    val pre = st.get("s2").df.collect().toSeq
    val e = intercept[Exception] {
      st.shardedWrite(evDf(8000), WriteOpts("t", NRows(1000)),
        i => s"s$i", targetRowsPerShard = 2000L)
    }
    assert(e.getMessage.contains("ordered_on is fixed at creation"),
      e.getMessage)
    // created shards were rolled back; the bystander dataset survives
    assert(st.keys.toSeq == Seq("s2"),
      s"rollback must remove created shards, keys = ${st.keys}")
    assert(st.get("s2").df.collect().toSeq == pre)
  }

  test("single-shard batch defers to write()'s own contract") {
    val st = newStore()
    val ks = st.shardedWrite(evDf(100), WriteOpts("t", NRows(50)),
      i => s"only$i", targetRowsPerShard = 1000L)
    assert(ks == Seq("only0"))
    val kv = st.get("only0").meta.kv
    assert(kv("graft.shard.index") == "0" &&
      kv("graft.shard.lo") == "" && kv("graft.shard.hiExcl") == "")
    assert(st.get("only0").df.count() == 100L)
  }

  test("appendSharded routes every row to its covering shard, " +
      "including the open-ended edges") {
    val st = newStore()
    val ks = st.shardedWrite(
      spark.range(1000L, 9000L).toDF("t").withColumn("v", col("t") * 1.0),
      WriteOpts("t", NRows(1000)), i => s"s$i",
      targetRowsPerShard = 2000L)
    assert(ks.size == 4)
    // append spans: below every boundary, interior, above every
    // boundary — plus a value AT an interior boundary (routes to the
    // half-open right side exactly like the original split)
    val mid = st.get(ks(2)).meta.kv("graft.shard.lo").toLong
    val app = Seq(5L, 4000L, mid, 20000L).toDF("t")
      .withColumn("v", lit(-1.0))
    st.appendSharded(app, WriteOpts("t", NRows(1000)), ks)
    assert(st.keys.size == 4, "append must create no new keys")
    // every appended row is in the shard whose recorded range covers it
    ks.foreach { k =>
      val kv = st.get(k).meta.kv
      val rows = st.get(k).df.filter(col("v") === -1.0)
        .select("t").as[Long].collect().toSet
      rows.foreach { t =>
        if (kv("graft.shard.lo").nonEmpty)
          assert(t >= kv("graft.shard.lo").toLong, s"$k: $t")
        if (kv("graft.shard.hiExcl").nonEmpty)
          assert(t < kv("graft.shard.hiExcl").toLong, s"$k: $t")
      }
    }
    assert(st.rangeDFAcross(st.keys.toSeq).count() == 8004L)
    assert(st.rangeDFAcross(st.keys.toSeq)
      .filter(col("v") === -1.0).count() == 4L)
    // shard kv survived the appends
    assert(st.get(ks.head).meta.kv("graft.shard.lo") == "")
  }

  test("appendSharded rejects an incomplete or non-shard family") {
    val st = newStore()
    val ks = st.shardedWrite(evDf(8000), WriteOpts("t", NRows(1000)),
      i => s"s$i", targetRowsPerShard = 2000L)
    val app = Seq(1L).toDF("t").withColumn("v", lit(0.0))
    // missing middle shard: the chain is torn
    val e = intercept[IllegalArgumentException] {
      st.appendSharded(app, WriteOpts("t", NRows(1000)),
        Seq(ks(0), ks(1), ks(3)))
    }
    assert(e.getMessage.contains("chain"), e.getMessage)
    // a dataset without shard kv is not a family member
    st.get("plain").write(Seq((1L, 1.0)).toDF("t", "v"),
      WriteOpts("t", NRows(10)))
    val e2 = intercept[IllegalArgumentException] {
      st.appendSharded(app, WriteOpts("t", NRows(1000)),
        Seq("plain") ++ ks)
    }
    assert(e2.getMessage.contains("graft.shard"), e2.getMessage)
    // nulls rejected before any routing
    val e3 = intercept[IllegalArgumentException] {
      st.appendSharded(Seq[(java.lang.Long, Double)]((null, 1.0))
        .toDF("t", "v"), WriteOpts("t", NRows(10)), ks)
    }
    assert(e3.getMessage.contains("null"), e3.getMessage)
  }

  test("reShard splits one shard into a sub-family; the chain and the " +
      "rows survive") {
    val st = newStore()
    val ks = st.shardedWrite(evDf(9000), WriteOpts("t", NRows(1000)),
      i => s"s$i", targetRowsPerShard = 3000L)
    assert(ks.size == 3)
    val midKey = ks(1)
    val midLo = st.get(midKey).meta.kv("graft.shard.lo")
    val midHi = st.get(midKey).meta.kv("graft.shard.hiExcl")
    val sub = st.reShard(midKey, WriteOpts("t", NRows(1000)),
      i => s"s1sub$i", targetRowsPerShard = 1500L)
    assert(sub.size == 2)
    assert(!st.keys.contains(midKey), "old shard must be deleted")
    assert(st.keys.size == 4)
    // outer bounds re-stamped so the family still chains
    assert(st.get(sub.head).meta.kv("graft.shard.lo") == midLo)
    assert(st.get(sub.last).meta.kv("graft.shard.hiExcl") == midHi)
    // all rows preserved across the move
    assert(st.rangeDFAcross(st.keys.toSeq).count() == 9000L)
    assert(st.rangeDFAcross(st.keys.toSeq).agg(sum("t")).head()
      .getLong(0) == (0L until 9000L).sum)
    // the renumbered family still accepts routed appends (chain
    // validation passes over the mixed index spaces)
    st.appendSharded(Seq(4500L).toDF("t").withColumn("v", lit(-1.0)),
      WriteOpts("t", NRows(1000)), st.keys.toSeq)
    assert(st.rangeDFAcross(st.keys.toSeq).count() == 9001L)
  }

  test("reShard turns a standalone over-grown dataset into a family") {
    val st = newStore()
    st.get("solo").write(evDf(4000), WriteOpts("t", NRows(500)))
    val ks = st.reShard("solo", WriteOpts("t", NRows(500)),
      i => s"part$i", targetRowsPerShard = 2000L)
    assert(ks.size == 2 && !st.keys.contains("solo"))
    assert(st.get(ks.head).meta.kv("graft.shard.lo") == "")
    assert(st.get(ks.last).meta.kv("graft.shard.hiExcl") == "")
    assert(st.rangeDFAcross(ks).count() == 4000L)
  }

  test("appendSharded routes timestamp bounds through the string " +
      "round-trip") {
    val st = newStore()
    import java.time.LocalDateTime
    def ts(h: Int) = LocalDateTime.of(2024, 1, 1, h, 0)
    val base = (0 until 24).map(h => (ts(h), h.toDouble))
      .toDF("t", "v")
      .withColumn("t", col("t").cast("timestamp_ntz"))
    val ks = st.shardedWrite(base, WriteOpts("t", NRows(6)),
      i => s"h$i", targetRowsPerShard = 12L)
    assert(ks.size == 2)
    val app = Seq((ts(3), -1.0), (ts(20), -1.0)).toDF("t", "v")
      .withColumn("t", col("t").cast("timestamp_ntz"))
    st.appendSharded(app, WriteOpts("t", NRows(6)), ks)
    val hi0 = st.get(ks.head).meta.kv("graft.shard.hiExcl")
    assert(hi0.nonEmpty)
    assert(st.get(ks.head).df.filter(col("v") === -1.0).count() == 1L)
    assert(st.get(ks.last).df.filter(col("v") === -1.0).count() == 1L)
    assert(st.rangeDFAcross(ks).count() == 26L)
  }

  test("appendSharded TimestampType bounds survive the string " +
      "round-trip on a non-UTC JVM (Timestamp.toString is default-zone " +
      "wall time)") {
    // With java8API DISABLED (the Spark ≤3 default; dynamic conf)
    // shardedWrite stamps TimestampType bounds as
    // java.sql.Timestamp.toString — wall time in the JVM DEFAULT zone.
    // shardBound must reverse it in the same zone; reinterpreting
    // that wall time as UTC shifts the bound by the zone offset and
    // routes every row within the offset of a boundary into the wrong
    // shard. Asia/Kolkata (+05:30) also catches half-hour errors.
    // (Under Spark 4's java8API default the stamp is Instant.toString,
    // which is zone-independent — this test pins the legacy regime.)
    val oldTz = java.util.TimeZone.getDefault
    val oldSessionTz = spark.conf.get("spark.sql.session.timeZone")
    val oldJava8 = spark.conf.get("spark.sql.datetime.java8API.enabled")
    try {
      val tz = java.util.TimeZone.getTimeZone("Asia/Kolkata")
      java.util.TimeZone.setDefault(tz)
      spark.conf.set("spark.sql.session.timeZone", tz.getID)
      spark.conf.set("spark.sql.datetime.java8API.enabled", "false")
      val st = newStore()
      import java.time.LocalDateTime
      def ts(h: Int) = LocalDateTime.of(2024, 1, 1, h, 0)
      // timestamp_ltz explicitly: the suite session maps the bare
      // "timestamp" alias to TIMESTAMP_NTZ (Tables.configure)
      val base = (0 until 24).map(h => (ts(h), h.toDouble)).toDF("t", "v")
        .withColumn("t", col("t").cast("timestamp_ltz"))
      val ks = st.shardedWrite(base, WriteOpts("t", NRows(6)),
        i => s"z$i", targetRowsPerShard = 12L)
      assert(ks.size == 2)
      val hi0 = st.get(ks.head).meta.kv("graft.shard.hiExcl")
      assert(hi0.nonEmpty)
      val boundTs = java.sql.Timestamp.valueOf(hi0)
      // rows ONE HOUR either side of the boundary — well within the
      // 5h30 offset, exactly where a UTC-reinterpreted bound misroutes
      val boundLdt = boundTs.toLocalDateTime
      val app = Seq((boundLdt.minusHours(1), -1.0),
        (boundLdt.plusHours(1), -1.0)).toDF("t", "v")
        .withColumn("t", col("t").cast("timestamp_ltz"))
      st.appendSharded(app, WriteOpts("t", NRows(6)), ks)
      val low = st.get(ks.head).df.filter(col("v") === -1.0)
        .select("t").as[java.sql.Timestamp].collect().toSeq
      val high = st.get(ks.last).df.filter(col("v") === -1.0)
        .select("t").as[java.sql.Timestamp].collect().toSeq
      assert(low.size == 1 && high.size == 1,
        s"boundary-adjacent appends misrouted: low=$low high=$high")
      assert(low.head.toInstant.isBefore(boundTs.toInstant))
      assert(!high.head.toInstant.isBefore(boundTs.toInstant))
    } finally {
      spark.conf.set("spark.sql.datetime.java8API.enabled", oldJava8)
      spark.conf.set("spark.sql.session.timeZone", oldSessionTz)
      java.util.TimeZone.setDefault(oldTz)
    }
  }

  test("shardPressure reports files vs cap; the warn threshold fires; " +
      "appendSharded returns the pressure rows") {
    val st = newStore()
    val ks = st.shardedWrite(evDf(8000), WriteOpts("t", NRows(1000)),
      i => s"s$i", targetRowsPerShard = 2000L)
    val p = st.shardPressure(ks)
    assert(p.map(_.key) == ks)
    p.foreach { sp =>
      assert(sp.files == st.get(sp.key).meta.files.size && sp.files > 0)
      assert(sp.capFraction ==
        sp.files.toDouble / OrderedDataset.MaxFilesPerDataset)
      assert(!sp.nearCap, s"2-file shards cannot be near a 65535 cap: $sp")
    }
    // the threshold FIRES when files/cap reaches warnAt (injected low
    // — a real 52k-file shard is not buildable in a unit test; the
    // comparison is the same code path appendSharded warns through)
    val tiny = st.shardPressure(ks,
      warnAt = 1.0 / OrderedDataset.MaxFilesPerDataset)
    assert(tiny.forall(_.nearCap), s"injected threshold must fire: $tiny")
    // appendSharded surfaces the same signal to its caller
    val ret = st.appendSharded(Seq(4000L).toDF("t")
      .withColumn("v", lit(-1.0)), WriteOpts("t", NRows(1000)), ks)
    assert(ret.map(_.key).sorted == ks.sorted)
    assert(ret.forall(sp => sp.files > 0 && !sp.nearCap))
  }

  test("a mid-reShard (retiring) key makes family reads and appends " +
      "fail loudly; a failed reShard un-stamps itself") {
    val st = newStore()
    val ks = st.shardedWrite(evDf(6000), WriteOpts("t", NRows(1000)),
      i => s"s$i", targetRowsPerShard = 2000L)
    // simulate a crash inside reShard's commit window: the old key is
    // stamped but not yet deleted
    st.get(ks(1)).updateKv(Map(Store.RetiringKey -> "1"))
    val e1 = intercept[IllegalArgumentException] {
      st.rangeDFAcross(ks)
    }
    assert(e1.getMessage.contains("mid-reShard") &&
      e1.getMessage.contains("finishReShard"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      st.appendSharded(Seq(1L).toDF("t").withColumn("v", lit(0.0)),
        WriteOpts("t", NRows(1000)), ks)
    }
    assert(e2.getMessage.contains("mid-reShard"), e2.getMessage)
    intercept[IllegalArgumentException] {
      st.intersectionsDF(ks, None, None, identity)
    }: Unit
    // the operator's un-stamp remedy restores the family
    st.get(ks(1)).updateKv(Map.empty, remove = Seq(Store.RetiringKey))
    assert(st.rangeDFAcross(ks).count() == 6000L)
    // a reShard that fails BEFORE its shards commit (keyOf reuses the
    // old key — caught pre-commit) clears its own stamp
    val e3 = intercept[IllegalArgumentException] {
      st.reShard(ks(1), WriteOpts("t", NRows(1000)),
        _ => ks(1), targetRowsPerShard = 1000L)
    }
    assert(e3.getMessage.contains("must not reuse"), e3.getMessage)
    assert(!st.get(ks(1)).meta.kv.contains(Store.RetiringKey),
      "failed reShard must remove its retiring stamp")
    assert(st.rangeDFAcross(ks).count() == 6000L)
    // and a SUCCESSFUL reShard leaves no stamp anywhere
    val sub = st.reShard(ks(1), WriteOpts("t", NRows(1000)),
      i => s"s1b$i", targetRowsPerShard = 1000L)
    assert(st.keys.toSeq.forall(k =>
      !st.get(k).meta.kv.contains(Store.RetiringKey)))
    assert(st.rangeDFAcross(st.keys.toSeq).count() == 6000L)
    assert(sub.nonEmpty)
  }

  test("non-injective keyOf rejected before any commit") {
    val st = newStore()
    val e = intercept[IllegalArgumentException] {
      st.shardedWrite(evDf(4000), WriteOpts("t", NRows(1000)),
        _ => "same", targetRowsPerShard = 1000L)
    }
    assert(e.getMessage.contains("injective"), e.getMessage)
    assert(st.keys.isEmpty)
  }
}
