package perfbench

import scala.collection.mutable

/** Order statistics used by every workload. */
object Stats {
  /** Linear-interpolated percentile (q in [0, 1]) of an unsorted sample. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** The highest of p99, p90, p80 and p50 that still has at least ten of
    * `n` samples above it (p50 when the sample is too small for any). */
  def tailQuantile(n: Long): Double =
    Seq(0.99, 0.90, 0.80).find(q => n - math.ceil(q * n) >= 10).getOrElse(0.5)

  def label(q: Double): String = s"p${math.round(q * 100)}"

  /** Percentile of a weighted sample: (value, weight) pairs. */
  def weightedPercentile(xs: Seq[(Double, Long)], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sortBy(_._1)
    val total = s.map(_._2).sum.toDouble
    var acc = 0.0
    s.find { case (_, w) => acc += w; acc >= q * total }.getOrElse(s.last)._1
  }
}

/** What one workload run reports back to the launcher. */
final class Result(val workload: String) {
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ListBuffer[String] = mutable.ListBuffer.empty
  val endToEnd: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val perLayer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val notes: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty

  def fail(what: String, n: Long = 1): Unit = { failed += n; failures += what }

  def toJson: String = {
    def nums(m: mutable.LinkedHashMap[String, Double]) =
      m.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    val notesJson = notes.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    val failJson = failures.map(Json.str).mkString("[", ",", "]")
    s"""{"workload":${Json.str(workload)},"attempted":$attempted,"failed":$failed,""" +
      s""""failures":$failJson,"end_to_end":${nums(endToEnd)},"per_layer":${nums(perLayer)},""" +
      s""""notes":$notesJson}"""
  }
}

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

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
