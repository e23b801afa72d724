package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** Shared local session for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Classes Spark's code generator compiles while `op` runs, JVM-wide
    * (`CodegenMetrics`' compilation histogram; specs run one at a
    * time). A class compiled on the driver and again in a task thread
    * counts twice, as the codegen cache keys by class loader too. Warm
    * the op up first to count only what its steady state compiles. */
  def compiles(op: => Unit): Long = {
    val m = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val c0 = m.getCount
    op
    m.getCount - c0
  }

  /** Source of every class Spark's code generator compiles while `op`
    * runs, on any thread, from its DEBUG log of each compile (kept out
    * of the console). Warm the op up first to see only what its steady
    * state compiles. */
  def compiledSources(op: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("compiledSources", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.DEBUG)
          got.add(e.getMessage.getFormattedMessage): Unit
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val before = Option(cfg.getLoggers.get(name))
    val lc = new LoggerConfig(name, Level.DEBUG, false)
    lc.addAppender(appender, Level.DEBUG, null)
    cfg.removeLogger(name)
    cfg.addLogger(name, lc)
    ctx.updateLoggers()
    try op
    finally {
      cfg.removeLogger(name)
      before.foreach(cfg.addLogger(name, _))
      ctx.updateLoggers()
      appender.stop()
    }
    got.toArray(Array.empty[String]).toSeq
  }

  /** Call sites of the Spark jobs `body` starts on this thread, in
    * start order. Jobs of concurrently running specs are told apart by
    * a job group private to this call. A job run for a SQL execution
    * takes the execution's call site: adaptive execution submits its
    * stage jobs from pool threads, whose own stacks name no caller. */
  def jobSites(body: => Unit): Seq[SparkSpec.JobSite] = {
    val sc = spark.sparkContext
    val group = s"jobSites-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[
      (Option[String], String)]()
    val execSites =
      new java.util.concurrent.ConcurrentHashMap[String, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.add((Option(e.properties.getProperty("spark.sql.execution.id")),
            e.stageInfos.maxBy(_.stageId).details)): Unit
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          execSites.put(x.executionId.toString, x.details): Unit
        case _ => ()
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.toArray(Array.empty[(Option[String], String)]).toSeq.map {
      case (exec, details) => SparkSpec.JobSite(
        exec.flatMap(id => Option(execSites.get(id))).getOrElse(details),
        exec)
    }
  }
}

object SparkSpec {
  /** A job's call site from its long form: the Spark API frame that
    * started it (`sparkFrame`, e.g. `...Dataset.count`) and the first
    * frame of the caller (`userFrame`, e.g.
    * `graft.store.OrderedDataset.writeBody(OrderedDataset.scala:1199)`),
    * and the SQL execution the job ran for, if any (one execution can
    * start several jobs). */
  final case class JobSite(longForm: String,
      execution: Option[String] = None) {
    private val frames = longForm.split("\n").map(_.trim)
    private val sparkFrame = frames.head.takeWhile(_ != '(')
    val userFrame: String = frames.lift(1).getOrElse("")
    /** True when `method` of the Spark API started this job from a call
      * in `file` — line numbers deliberately not compared. */
    def is(method: String, file: String): Boolean =
      sparkFrame.endsWith(s".$method") && userFrame.contains(s"($file:")
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Tables.configure(s)
    s
  }
}
