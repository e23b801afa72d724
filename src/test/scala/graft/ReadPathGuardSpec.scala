package graft

import org.scalatest.funsuite.AnyFunSuite

/** One-read-path gate: the store and the pipeline operators turn a
  * dataset's files into a DataFrame only through
  * `OrderedDataset.read` and its pinned `GraftFileIndex`. A
  * `DataFrameReader` (`<session>.read`) there is allowed only where no
  * dataset is read: `materialize`'s readback of its own tmp output and
  * the index tombstone files, which carry no sidecar.
  */
class ReadPathGuardSpec extends AnyFunSuite {
  private val allowed = Set(
    "OrderedDataset.scala" -> "materialize",
    "IndexSegments.scala" -> "applyTombstones")

  test("no spark.read in graft/store or graft/pipeline outside the " +
      "non-dataset reads") {
    import scala.jdk.CollectionConverters._
    val reader = "\\.read\\s*(\\.|$)".r
    // a member of the file's class or object (two-space indent), so
    // local helpers inside the method do not count as its name
    val defRe = "^  (?:\\w+(?:\\[\\w+\\])? )*def (\\w+)".r
    val hits = Seq("store", "pipeline").flatMap { pkg =>
      val walk = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"src/main/scala/graft/$pkg"))
      val files =
        try walk.iterator().asScala.toSeq.filter(_.toString.endsWith(".scala"))
        finally walk.close()
      files.flatMap { p =>
        val lines = java.nio.file.Files.readAllLines(p).asScala.toSeq
        lines.indices.filter(i => reader.findFirstIn(lines(i)).isDefined)
          .map { i =>
            // the method the call sits in: the nearest member def above
            val method = (i to 0 by -1).iterator
              .flatMap(j => defRe.findFirstMatchIn(lines(j)))
              .map(_.group(1)).nextOption().getOrElse("?")
            (p.getFileName.toString, method, i + 1)
          }
      }
    }
    assert(hits.nonEmpty, "the two allowed readers should be found")
    val stray = hits.filterNot { case (f, m, _) => allowed((f, m)) }
    assert(stray.isEmpty, "dataset reads outside GraftFileIndex: " +
      stray.map { case (f, m, l) => s"$f:$l ($m)" }.mkString(", "))
  }
}
