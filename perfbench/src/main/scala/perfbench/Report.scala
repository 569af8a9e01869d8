package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def time(body: => Unit): Double = { val t0 = System.nanoTime(); body; seconds(t0) }
}

/** One run's result: metrics in insertion order, output checks, and the
  * failure accounting. A failed iteration is named here and never reaches
  * the timing statistics. */
final class Report {
  import Report.str

  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  val failures = mutable.ArrayBuffer[String]()
  val info = mutable.LinkedHashMap[String, String]()
  var attempted = 0
  var failed = 0

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))
  def correct: Boolean = checks.forall(_._2)

  /** Runs one attempt; returns its wall seconds, or None if it threw. */
  def attempt(name: String)(body: => Unit): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      body
      val t = Stats.seconds(t0)
      System.err.println(f"[perfbench] $name%s ${t}%.3f s")
      Some(t)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: $e")
        failed += 1
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    }
  }

  /** Repeats `run` until `seconds` of wall have passed and at least
    * `minOk` runs succeeded, giving up after `maxRuns`. Returns the
    * successful runs' times. */
  def loop(seconds: Double, minOk: Int, maxRuns: Int)(run: Int => Option[Double]): Seq[Double] = {
    val t0 = System.nanoTime()
    val ok = mutable.ArrayBuffer[Double]()
    var n = 0
    while ((Stats.seconds(t0) < seconds || ok.size < minOk) && n < maxRuns) {
      run(n).foreach(ok += _)
      n += 1
    }
    ok.toSeq
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  /** Detail line: every check, failure and informational field. */
  def detailJson(workload: String): String = {
    val cs = checks.map { case (n, ok, d) => s"""{"check":${str(n)},"ok":$ok,"detail":${str(d)}}""" }
    val inf = info.map { case (k, v) => s"${str(k)}:${str(v)}" }
    s"""{"perfbench":${str(workload)},"checks":[${cs.mkString(",")}],""" +
      s""""failures":[${failures.map(str).mkString(",")}],"info":{${inf.mkString(",")}}}"""
  }

  /** The result line: correctness, attempts, failures and every metric. */
  def resultJson: String = {
    val ms = metrics.map { case (k, (v, u)) => s"""${str(k)}:{"value":${num(v)},"unit":${str(u)}}""" }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}"""
  }
}

object Report {
  /** `s` as a JSON string literal. */
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
