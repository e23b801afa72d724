package graft

import org.scalatest.funsuite.AnyFunSuite

/** One-factory gate: every driver main gets its session from
  * [[LocalSession]], so the master, shuffle partitions and UI settings
  * are decided in one place and the thread count always comes from
  * `SPARK_GRAFT_CPUS`. A second `SparkSession.builder` or a hard-coded
  * `local[32]` in `src/main` fails this spec instead of drifting back.
  */
class LocalSessionSpec extends AnyFunSuite {
  private val sources: Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(
      java.nio.file.Paths.get("src/main/scala"))
    try walk.iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.toString -> java.nio.file.Files.readString(p))
    finally walk.close()
  }

  test("SparkSession.builder appears in exactly one src/main file") {
    assert(sources.nonEmpty, "no sources found under src/main/scala")
    val hits = sources.collect {
      case (p, s) if s.contains("SparkSession.builder") => p }
    assert(hits.map(_.replace('\\', '/')) ==
      Seq("src/main/scala/graft/LocalSession.scala"),
      s"session builders outside LocalSession: ${hits.mkString(", ")}")
  }

  test("src/main's entry points are exactly the five kept mains") {
    // one-off experiments belong in a spec or in git history (SCALE.md
    // "Retired experiment mains"), not in the engine jar
    val objectRe = "(?m)^object (\\w+)".r
    val mainRe = "(?m)^\\s+def main\\(".r
    val mains = sources.flatMap { case (_, s) =>
      mainRe.findAllMatchIn(s).map { m =>
        objectRe.findAllMatchIn(s.substring(0, m.start)).toSeq
          .lastOption.map(_.group(1)).getOrElse("?")
      }
    }
    assert(mains.sorted ==
      Seq("Bench", "Explain", "PhaseProbe", "ScaleData", "Verify"),
      s"entry points: ${mains.sorted.mkString(", ")}")
  }

  test("no src/main file hard-codes a local[<digits>] master") {
    // string literals only: prose may still name local[32] vs local[4]
    val literal = "\"local\\[\\d+\\]".r
    val hits = sources.flatMap { case (p, s) =>
      literal.findAllIn(s).map(m => s"$p: $m") }
    assert(hits.isEmpty,
      s"hard-coded thread counts (use LocalSession): ${hits.mkString("; ")}")
  }
}
