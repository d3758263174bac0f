package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  /** Every digit as measured; non-finite values become null. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(items: Seq[String]): String = items.mkString("[", ", ", "]")
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile of a fixed ladder that still has at least
    * ten samples beyond it: (percentile, value). None below 20 samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => xs.size * (1 - p / 100) >= 10)
      .map(p => p -> quantile(xs, p / 100))
}

/** The state of one benchmark run: per-call samples, correctness
  * counters and, in a traced run, the [[Tracer]].
  */
final class Run(val spark: SparkSession, val tracer: Option[Tracer],
                val root: Path) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def traced: Boolean = tracer.isDefined

  /** The gate whose checked output [[SelfTest]] corrupts; none in a
    * measured run.
    */
  var corrupt: String = ""

  /** `output`, or `broken(output)` when the self-test targets `gate`. */
  def tamper[T](gate: String, output: T)(broken: T => T): T =
    if (corrupt == gate) broken(output) else output

  def sample(key: String, v: Double): Unit =
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v

  private def timedSpan[T](name: String, kind: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = tracer match {
      case Some(t) => t.span(name, kind)(body)
      case None => body
    }
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One public call of the closed loop: counted as attempted, timed
    * into the `kind` samples, and a span in a traced run. A call that
    * throws counts as failed and ends the run's loop.
    */
  def call[T](kind: String, span: String)(body: => T): (T, Double) = {
    attempted += 1
    try {
      val (r, s) = timedSpan(span, kind)(body)
      sample(kind, s)
      (r, s)
    } catch {
      case e: Exception =>
        failed += 1
        failures += s"$span threw: $e"
        throw new CallFailed(e)
    }
  }

  /** A layer-decomposition call: traced runs only, timed into `key`. */
  def layer(key: String)(body: => Unit): Double =
    if (!traced) 0.0
    else {
      val (_, s) = timedSpan(key, "")(body)
      sample(key, s)
      s
    }

  /** A correctness gate on the output of one attempted call. */
  def gate(name: String, ok: Boolean, detail: => String): Unit =
    if (!ok) {
      failed += 1
      failures += s"gate $name: $detail"
    }

  def dir(name: String): Path = Files.createDirectories(root.resolve(name))
}

final class CallFailed(cause: Exception) extends RuntimeException(cause)

object Fs {
  /** (regular files, bytes) under `p`, hidden and underscore files too:
    * everything the store keeps on disk.
    */
  def usage(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  def sha256(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map("%02x".format(_)).mkString
}
