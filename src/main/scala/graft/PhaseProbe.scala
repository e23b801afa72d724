package graft

/** Scratch profiling main (not part of the driver contract): splits a
  * query's wall time into DataFrame construction + planning (analysis,
  * optimization, physical planning — driver-side, single-threaded) vs
  * execution (the noop write). Overhead-bound sf0.1 lines are attacked
  * differently depending on which side dominates: planning time wants
  * smaller/shallower plans, execution time wants fewer jobs/exchanges.
  */
object PhaseProbe {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // SPARK_GRAFT_CONF="k=v;k=v" — plan experiments (e.g. force the
    // shuffle-join regime with spark.sql.autoBroadcastJoinThreshold=-1)
    val conf = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";").map(_.trim).filter(_.nonEmpty)).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => k -> v
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_CONF segment '$kv' is not k=v")
        }
      }
    val spark = LocalSession(conf: _*)
    try SparkEntry.prepare(spark, d)
    catch { case e: Throwable =>
      System.err.println(s"[phase] prepare failed: ${e.getMessage}") }
    // warm-up: scan path + codegen
    spark.read.parquet(s"$d/lineitem.parquet")
      .write.mode("overwrite").format("noop").save()
    SparkEntry.queries("q1_pricing_summary")(spark, d)
      .write.mode("overwrite").format("noop").save()
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "p_pipeline_shards", "p_hybrid_rrf", "p_hybrid_rrf3",
      "p_corpus_dedup", "p_pipeline_e2e", "p_dedup_inc_lsh",
      "p_dedup_inc_simhash", "p_dedup_clusters", "p_span_dedup_bpe",
      "p_bm25_topk")
    def t[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    // job/stage/task counters: how many scheduler round-trips a query
    // pays — the fixed-overhead currency of sub-second sf0.1 lines
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val jobLog =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val verbose = sys.env.contains("SPARK_GRAFT_PHASE_JOBS")
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(): Unit
          stages.addAndGet(j.stageInfos.size): Unit
          tasks.addAndGet(j.stageInfos.map(_.numTasks).sum): Unit
          val site = j.stageInfos.sortBy(_.stageId).lastOption
            .map(s => s.name.take(60) + " ntask=" +
              j.stageInfos.map(_.numTasks).sum)
            .getOrElse("?")
          jobLog.put(j.jobId, (System.nanoTime(), site)): Unit
        }
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          if (verbose) Option(jobLog.get(e.jobId)).foreach { case (t0, s) =>
            println(f"    [job ${e.jobId}%4d] ${(System.nanoTime() - t0) / 1e9}%7.3f  $s")
          }
      })
    println(f"${"query"}%-28s ${"build+plan"}%10s ${"exec"}%10s ${"total"}%10s ${"jobs"}%6s ${"stages"}%7s ${"tasks"}%6s")
    names.foreach { n =>
      val rows = (1 to reps).map { _ =>
        jobs.set(0); stages.set(0); tasks.set(0)
        // build+plan: construct the frame AND force physical planning
        val (df, tPlan0) = t(SparkEntry.queries(n)(spark, d))
        val (_, tPlan1) = t(df.queryExecution.executedPlan)
        val (_, tExec) = t(
          df.write.mode("overwrite").format("noop").save())
        spark.catalog.clearCache()
        (tPlan0 + tPlan1, tExec, jobs.get, stages.get, tasks.get)
      }
      val best = rows.minBy { case r => r._1 + r._2 }
      println(f"$n%-28s ${best._1}%10.3f ${best._2}%10.3f ${best._1 + best._2}%10.3f ${best._3}%6d ${best._4}%7d ${best._5}%6d")
    }
    spark.stop()
  }
}
