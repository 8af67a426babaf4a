package perfbench

import graft.sim.Simgen
import org.apache.spark.sql.functions._

import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable

/** Simgen's G4 read mix against a doc-store namespace, closed loop, either
  * on its own thread beside the writes or a fixed number of times on the
  * caller's: an `_id $in` find over a seeded id sample, then a 50% sample
  * grouped by color. A read that meets a table mid-commit is
  * retried (the catalog's contract for concurrent readers); only a read
  * that fails `retries` times in a row counts as failed. */
final class Reader(run: Run, sink: TimedCatalog, ns: String, idLo: Long, nDocs: Int,
    retries: Int = 5) {
  private val latencies = mutable.ArrayBuffer.empty[Double]
  @volatile private var failures = 0L
  @volatile private var retried = 0L
  private val stop = new AtomicBoolean(false)
  private val ids = {
    val rnd = new scala.util.Random(run.inputs.seed)
    Seq.fill(50)(idLo + rnd.nextInt(nDocs)).distinct.map(i => "\"" + Simgen.oidHex(i) + "\"")
  }
  private val thread = new Thread(() => loop(), "perfbench-reader")
  thread.setDaemon(true)

  private def once(): Unit = run.trace.span("sources.read_mix") {
    val live = sink.read(ns)
    live.filter(col("id").isin(ids: _*)).count()
    live.sample(0.5).select(get_json_object(col("doc"), "$.color").as("color"))
      .groupBy("color").count().collect()
    ()
  }

  /** One read mix, retried; records its latency or a failure. */
  private def timedMix(): Unit = {
    val t = Run.now()
    var attempt = 0
    var done = false
    while (!done && attempt < retries) {
      try { once(); done = true }
      catch { case _: Exception => attempt += 1; retried += 1 }
    }
    if (done) latencies.synchronized { latencies += Run.now() - t }
    else failures += 1
  }

  private def loop(): Unit = while (!stop.get()) timedMix()

  /** `n` read mixes on the calling thread, one after another. */
  def runMixes(n: Int): Unit = (1 to n).foreach(_ => timedMix())

  def start(): Unit = thread.start()
  def finish(): Unit = { stop.set(true); thread.join() }
  def samples: Seq[Double] = latencies.synchronized(latencies.toSeq)
  def failed: Long = failures
  def retriedReads: Long = retried
}
