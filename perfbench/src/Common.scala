package perfbench

import scala.collection.mutable

/** Tiny JSON writer (the harness only ever writes JSON). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case o => str(o.toString)
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]); NaN on empty input. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.length
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.length)
}

/** One traced interval. Spans of one micro-batch or one query share
  * `group`; `parent` names the span that caused it.
  */
final case class Span(
    id: Long, parent: Long, group: String, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any])

/** In-memory span recorder, written out once when the run ends. When
  * disabled every call is a no-op apart from evaluating `body`.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()

  /** Wall-clock ms with sub-ms resolution from the monotonic clock. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  def record(parent: Long, group: String, name: String, startMs: Double,
      endMs: Double, attrs: Map[String, Any] = Map.empty): Long = {
    if (!enabled) return 0L
    val id = ids.incrementAndGet()
    synchronized { spans += Span(id, parent, group, name, startMs, endMs, attrs) }
    id
  }

  def span[A](parent: Long, group: String, name: String)(body: => A): A = {
    if (!enabled) return body
    val s = nowMs
    try body finally record(parent, group, name, s, nowMs)
  }

  def all: Seq[Span] = synchronized(spans.toList)

  def write(path: String): Unit = if (enabled) {
    val sb = new StringBuilder
    all.foreach { s =>
      sb ++= Json(Map("id" -> s.id, "parent" -> s.parent, "group" -> s.group,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "attrs" -> s.attrs)) += '\n'
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

object Heap {
  /** Live heap in MB: used heap right after a full collection. Peaks of
    * the used heap mostly track when the young collector happens to run;
    * the post-collection level tracks what the program keeps alive.
    */
  def liveMb(): Double = {
    // a collection lets Spark's ContextCleaner drop the shuffle and
    // broadcast blocks of unreachable plans, asynchronously: collect
    // again once it has had a moment
    System.gc()
    Thread.sleep(500)
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
