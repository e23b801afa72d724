package graft

import org.apache.spark.sql.functions._
import graft.store.{NRows, OrderedDataset, WriteOpts}

/** Optimistic-vs-locked writer economics under contention (VERDICT
  * r11 #7): the PROTOCOL is proven correct (OptimisticWriteSpec,
  * TwoJvmOptimisticSpec); this measures its COST CURVE so the
  * "when to use which" scaladoc cites numbers instead of reasoning.
  *
  * Shape: N concurrent appenders each land `BatchesPerWriter`
  * disjoint-range batches on ONE dataset —
  *
  *  - `locked`: [[OrderedDataset.write]] with `lockWaitMs` raised, so
  *    writers QUEUE for the lock for the duration of their Spark jobs
  *    (full serialization);
  *  - `optimistic`: [[OrderedDataset.writeOptimistic]] — prepares
  *    overlap, only the ms-scale commit gate serializes; a lost race
  *    discards the prepare and re-plans (the wasted work measured by
  *    [[OrderedDataset.optimisticConflicts]]).
  *
  * Emits one JSON line per writer count with wall seconds and the
  * wasted-prepare fraction (conflicts / committed writes).
  *
  * Usage: runMain graft.OptimisticEconBench  (no sfDir — synthetic)
  */
object OptimisticEconBench {
  val BatchesPerWriter = 4
  val RowsPerBatch = 200000L

  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val root = s"/tmp/graft_optecon_${System.currentTimeMillis()}"
    val saved = OrderedDataset.lockWaitMs
    try {
      def batchDf(writer: Int, i: Int) = {
        val base = (writer.toLong * BatchesPerWriter + i) * RowsPerBatch
        spark.range(base, base + RowsPerBatch).toDF("t")
          .withColumn("v", col("t") * 1.5)
      }
      def runArm(dir: String, n: Int, optimistic: Boolean): (Double, Long) = {
        // seed so every append is an ordinary extend of an existing set
        new OrderedDataset(spark, dir).write(
          spark.range(-1000L, 0L).toDF("t").withColumn("v", lit(0.0)),
          WriteOpts("t", NRows(RowsPerBatch))): Unit
        val before = OrderedDataset.optimisticConflicts.get()
        val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val t0 = System.nanoTime()
        val threads = (0 until n).map { w =>
          new Thread(() => {
            try (0 until BatchesPerWriter).foreach { i =>
              val ds = new OrderedDataset(spark, dir)
              val opts = WriteOpts("t", NRows(RowsPerBatch))
              if (optimistic) ds.writeOptimistic(batchDf(w, i), opts,
                maxAttempts = 64): Unit
              else ds.write(batchDf(w, i), opts): Unit
            } catch { case e: Throwable => errs.add(e): Unit }
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
        val wall = (System.nanoTime() - t0) / 1e9
        require(errs.isEmpty, s"arm failed: ${errs.peek()}")
        val total = new OrderedDataset(spark, dir).meta.totalRows
        require(total == 1000L + n.toLong * BatchesPerWriter * RowsPerBatch,
          s"row loss under contention: $total")
        (wall, OrderedDataset.optimisticConflicts.get() - before)
      }

      def fmt(v: Double): String =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      val lines = Seq(2, 4, 8).map { n =>
        OrderedDataset.lockWaitMs = 600000L // locked arm queues, not fails
        val (tL, _) = runArm(s"$root/locked_$n", n, optimistic = false)
        OrderedDataset.lockWaitMs = saved
        val (tO, conf) = runArm(s"$root/opt_$n", n, optimistic = true)
        val writes = n * BatchesPerWriter
        s"""{"metric":"optimistic_econ","unit":"sec",""" +
          s""""cpus":${LocalSession.cpus},"writers":$n,""" +
          s""""writes":$writes,"locked":${fmt(tL)},""" +
          s""""optimistic":${fmt(tO)},"conflicts":$conf,""" +
          s""""wasted_prepare_frac":${fmt(conf.toDouble / writes)}}"""
      }
      lines.foreach(println)
      sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
          lines.mkString("", "\n", "\n")): Unit
      }
    } finally {
      OrderedDataset.lockWaitMs = saved
      LocalFs.rmTree(new java.io.File(root))
      spark.stop()
    }
  }
}
