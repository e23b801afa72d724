package graft

import org.apache.spark.sql.SparkSession

/** The one local `SparkSession` factory for the driver mains (`Bench`,
  * `Verify`, `ScaleData`, `Explain`, `PhaseProbe`, the scenario
  * benches): `local[$SPARK_GRAFT_CPUS]` (default 4), shuffle
  * partitions = cpus, UI off, log level WARN. `conf` pairs are applied
  * on top (e.g. Verify's UTC session time zone).
  */
object LocalSession {
  /** Thread count as given: usually digits, but any `local[...]` token
    * ("*") is accepted and passed through. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def apply(conf: (String, String)*): SparkSession = {
    val spark = conf.foldLeft(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")) { case (b, (k, v)) =>
      b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
