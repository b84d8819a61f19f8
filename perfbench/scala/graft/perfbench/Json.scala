package graft.perfbench

/** The little JSON the benchmark writes, and its wall clock. */
object Json {
  def str(s: String): String = graft.util.Json.quote(s)
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Epoch milliseconds with sub-millisecond resolution: the wall clock
  * read once, advanced by the monotonic clock. Comparable with the
  * millisecond timestamps Spark puts in streaming progress events. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
