package graft

import org.scalatest.funsuite.AnyFunSuite

/** One way from an ordered value to a predicate: in the engine an
  * `OrdVal` becomes a `Column` only through `OrdVal.bound`, whose
  * literal reads its value from the generated class's references. A
  * `lit(...)` of a converted value would inline it into the generated
  * source and compile new classes for every new bound.
  */
class BoundGuardSpec extends AnyFunSuite {
  import scala.jdk.CollectionConverters._

  private lazy val sources: Seq[(String, Seq[String])] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val files =
      try walk.iterator().asScala.toSeq.filter(_.toString.endsWith(".scala"))
      finally walk.close()
    files.map(p => (p.getFileName.toString,
      java.nio.file.Files.readAllLines(p).asScala.toSeq))
  }

  /** The argument text of each call `name(` in `text` (balanced). */
  private def callArgs(text: String, name: String): Seq[String] =
    s"\\b$name\\(".r.findAllMatchIn(text).map { m =>
      var depth = 1
      var i = m.end
      while (depth > 0 && i < text.length) {
        text(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case _   => ()
        }
        i += 1
      }
      text.substring(m.end, i - 1)
    }.toSeq

  test("no lit or Literal around an ordered value in src/main") {
    val ordered = "toLiteral|boundLiteral|OrdVal|OrdLong|OrdDouble|OrdTs|OrdStr".r
    val stray = for {
      (file, lines) <- sources
      call <- Seq("lit", "typedLit", "Literal", "Literal.create")
      arg <- callArgs(lines.mkString("\n"), call)
      if ordered.findFirstIn(arg).isDefined
    } yield s"$file: $call($arg)"
    assert(stray.isEmpty, stray.mkString("\n"))
  }

  test("BoundLiteral is built only by OrdVal.bound") {
    val builders = sources.collect {
      case (file, lines) if lines.exists(_.contains("new BoundLiteral(")) => file
    }
    assert(builders == Seq("OrdVal.scala"))
  }

  test("every engine range predicate goes through OrdVal.bound") {
    // a member of the file's class or object (two-space indent)
    val defRe = "^  (?:\\w+(?:\\[\\w+\\])? )*def (\\w+)".r
    def body(file: String, method: String): Seq[String] = {
      val lines = sources.collectFirst { case (`file`, ls) => ls }.get
      val from = lines.indexWhere(l =>
        defRe.findFirstMatchIn(l).exists(_.group(1) == method))
      assert(from >= 0, s"$file: no member $method")
      val next = lines.indexWhere(l => defRe.findFirstIn(l).isDefined, from + 1)
      lines.slice(from, if (next < 0) lines.size else next)
    }
    val sites = Seq(
      "OrderedDataset.scala" -> "rangeDFOf", // rangeDF, rangeDFAcross, intersections
      "OrderedDataset.scala" -> "delete",    // the survive predicate
      "AggStream.scala" -> "agg",            // restart trim, withhold split
      "Store.scala" -> "shardedWrite",
      "Store.scala" -> "appendShardedHooked")
    val missing = sites.filterNot { case (f, m) =>
      body(f, m).exists(_.contains(".bound(")) }
    assert(missing.isEmpty, missing.mkString(", "))
  }
}
