package graftbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** What a workload gets: the session, its tracer, and the run's knobs. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
    seconds: Double, dataDir: String, workDir: String, cores: Int) {
  def traced: Boolean = tracer.traced
  private val ops = new java.util.concurrent.atomic.AtomicInteger
  /** Counts one attempted operation. */
  def attempt(): Unit = ops.incrementAndGet()
  def attempts: Int = ops.get
}

/** What a workload hands back. `e2e` holds the role-based end-to-end
  * values (`cold_run_s`, `op_p50_s`, `op_mean_s`, `query_geomean_s`),
  * `named` the workload's own metrics under their workload-specific
  * names, `layers` the per-layer values (traced runs only). */
final case class Outcome(attempted: Int, fixtureSetupS: Seq[Double], e2e: Map[String, Double],
    named: Map[String, Double], layers: Map[String, Double],
    coverage: Seq[Double], notes: Map[String, String])

/** Thrown when a workload's output does not match its check. */
final class WrongResult(msg: String) extends RuntimeException(msg)

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** The highest whole percentile with at least `beyond` samples above
    * it, and its value; None with too few samples. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] =
    if (xs.size <= beyond) None
    else {
      val p = math.floor(100.0 * (xs.size - beyond) / xs.size).toInt
      Some(p -> quantile(xs, p / 100.0))
    }
}

/** Samples of named per-layer values, one per operation; reported as
  * medians. */
final class LayerSamples {
  private val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, v: Double): Unit =
    m.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def medians: Map[String, Double] =
    m.map { case (k, vs) => k -> Stats.median(vs.toSeq) }.toMap
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case o: Option[_] => o.map(render).getOrElse("null")
    case other => str(other.toString)
  }
}
