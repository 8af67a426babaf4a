package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import scala.collection.mutable

/** What one run shares between its stages: the session, the seeded
  * inputs, the tracer, a work directory, and the result being built. */
final class Run(val spark: SparkSession, val inputs: Inputs, val trace: Trace,
    val workDir: File, val seconds: Double, val focus: String, val corrupt: Boolean) {

  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.LinkedHashMap.empty[String, String]
  private val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def dir(name: String): String = {
    val f = new File(workDir, name)
    f.mkdirs()
    f.getAbsolutePath
  }

  /** Record one operation's outcome (micro-batch, read, probe or pass). */
  def outcome(ok: Boolean, n: Long = 1): Unit = synchronized {
    attempted += n
    if (!ok) failed += n
  }

  /** A correctness check: a false `cond` fails the run's result. */
  def check(cond: Boolean, what: => String): Boolean = {
    if (!cond) synchronized { failures += what }
    cond
  }

  private val born = Run.now()

  /** A progress line on stderr, with seconds since the run started. */
  def log(msg: String): Unit = System.err.println(f"perfbench ${Run.now() - born}%7.2f s  $msg")

  def correct: Boolean = failures.isEmpty
  def failureList: Seq[String] = failures.toSeq

  def e2e(name: String, value: Double, unit: String): Unit = endToEnd(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit = perLayer(name) = (value, unit)
}

/** One workload's stage. `setup` is timed as `setup_s`, `measure` is the
  * measured phase, `verify` runs the correctness check, `report` records
  * the end-to-end metrics and `reportLayers` the per-layer ones (traced
  * runs only). */
trait Stage {
  def setup(): Unit
  def measure(): Unit
  def verify(): Unit
  def report(): Unit
  def reportLayers(): Unit
}

object Run {
  def now(): Double = System.nanoTime() / 1e9

  /** `q`-quantile with linear interpolation (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Order-independent digest of (id, doc) rows: the wrapping sum of the
    * first eight bytes of md5(id NUL doc), with the row count. Equal row
    * sets give equal digests whatever order they are read in. */
  def digest(rows: Iterator[(String, String)]): (Long, Long) = {
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    var n = 0L
    rows.foreach { case (id, doc) =>
      md.reset()
      md.update(id.getBytes(StandardCharsets.UTF_8))
      md.update(0.toByte)
      md.update(String.valueOf(doc).getBytes(StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(md.digest(), 0, 8).getLong
      n += 1
    }
    (sum, n)
  }

  /** Digest of an (id, doc) table read through `df`. */
  def digestOf(df: org.apache.spark.sql.DataFrame): (Long, Long) =
    digest(df.select("id", "doc").collect().iterator.map(r => (r.getString(0), r.getString(1))))
}
