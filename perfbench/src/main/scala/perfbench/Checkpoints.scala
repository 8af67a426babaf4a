package perfbench

import java.io.File

/** Reads a file-stream checkpoint the benchmark owns: which micro-batch
  * took each source file (the file source's log, delta and compacted
  * entries alike) and when each batch committed (its commit-log file). */
object Checkpoints {
  private val Entry = """"path":"[^"]*/([^"/]+)".*"batchId":(\d+)""".r

  /** Source file name → id of the micro-batch that read it. */
  def fileBatches(ckpt: String): Map[String, Long] =
    Option(new File(ckpt, "sources/0").listFiles()).toSeq.flatten
      .filterNot(_.getName.startsWith("."))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f)
        try src.getLines().toList catch { case _: java.io.IOException => Nil } finally src.close()
      }
      .flatMap(l => Entry.findFirstMatchIn(l).map(m => m.group(1) -> m.group(2).toLong))
      .toMap

  /** Commit time of micro-batch `batch` in epoch seconds, once committed. */
  def commitS(ckpt: String, batch: Long): Option[Double] = {
    val f = new File(ckpt, s"commits/$batch")
    if (f.exists()) Some(f.lastModified() / 1000.0) else None
  }

  /** Number of committed micro-batches. */
  def committed(ckpt: String): Int =
    Option(new File(ckpt, "commits").listFiles()).toSeq.flatten
      .count(f => f.getName.nonEmpty && f.getName.forall(_.isDigit))

  /** Per-row apply latencies: every row of a file gets the time from
    * `available(file)` to the commit of the batch that applied it. Files
    * not applied yet are left out. */
  def rowLatencies(ckpt: String, rows: Map[String, Long],
      available: String => Double): Seq[Double] = {
    val fb = fileBatches(ckpt)
    rows.toSeq.flatMap { case (f, n) =>
      fb.get(f).flatMap(b => commitS(ckpt, b)).map(c => Seq.fill(n.toInt)(c - available(f)))
        .getOrElse(Nil)
    }
  }
}
