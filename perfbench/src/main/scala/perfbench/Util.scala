package perfbench

/** A tail latency: the highest percentile with at least ten samples
  * beyond it, with the sample count. */
final case class Tail(value: Double, percentile: Double, n: Int)

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** `sorted` ascending; the value of rank n-10 (1-based). None with 21
    * samples or fewer, where that rank does not lie above the median. */
  def tail(sorted: Seq[Double]): Option[Tail] = {
    val n = sorted.size
    if (n <= 21) None
    else Some(Tail(sorted(n - 11), 100.0 * (n - 10) / n, n))
  }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** JSON records through Jackson (shipped with Spark): objects keep their
  * field order, Options render as null. */
object Json {
  import com.fasterxml.jackson.databind.ObjectMapper
  import com.fasterxml.jackson.module.scala.DefaultScalaModule
  import scala.collection.immutable.ListMap

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def obj(fields: (String, Any)*): ListMap[String, Any] = ListMap(fields: _*)

  def render(v: Any): String = mapper.writeValueAsString(v)

  def write(path: String, v: Any): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(render(v)) finally w.close()
  }
}

/** Bytes of every regular file under a local directory. */
object Disk {
  def bytesUnder(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.isFile) f.length
      else 0L
    walk(new java.io.File(dir))
  }
}
