package perfbench

import graft.sources.Catalog
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.concurrent.atomic.AtomicLong

/** A delegating [[Catalog]] that counts and times every call into the
  * sink. Merges and reads are the two calls the per-layer `sources.*`
  * metrics name; with `listWrites` on, each merge also lists the table
  * directory before and after and adds up the bytes of the files the
  * merge created (the files present after it and not before). Listing
  * costs time, so only the traced run turns it on. */
final class TimedCatalog(spark: SparkSession, inner: Catalog, trace: Trace,
    listWrites: Boolean) extends Catalog {

  val mergeCalls = new AtomicLong
  val mergeNs = new AtomicLong
  val mergeBytesWritten = new AtomicLong
  val readCalls = new AtomicLong
  val readNs = new AtomicLong

  private def timed[T](calls: AtomicLong, ns: AtomicLong, span: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try trace.span(span)(body)
    finally { calls.incrementAndGet(); ns.addAndGet(System.nanoTime() - t0); () }
  }

  private def files(ns: String): Map[String, Long] = {
    val p = new Path(inner.tablePath(ns))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else {
      val it = fs.listFiles(p, true)
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) {
        val f = it.next()
        b += f.getPath.toUri.getPath.stripPrefix(p.toUri.getPath) -> f.getLen
      }
      b.result()
    }
  }

  override def merge(ns: String, upserts: DataFrame, deletes: DataFrame, key: String,
      marker: Option[(String, String)]): Long = {
    val before = if (listWrites) files(ns) else Map.empty[String, Long]
    val n = timed(mergeCalls, mergeNs, "sources.merge") {
      inner.merge(ns, upserts, deletes, key, marker)
    }
    if (listWrites) {
      val created = files(ns).filter { case (f, _) => !before.contains(f) }
      mergeBytesWritten.addAndGet(created.values.sum)
    }
    n
  }

  override def read(ns: String): DataFrame =
    timed(readCalls, readNs, "sources.read")(inner.read(ns))

  override def upsert(ns: String, df: DataFrame, key: String): Long =
    trace.span("sources.upsert")(inner.upsert(ns, df, key))
  override def write(ns: String, df: DataFrame, mode: String): Unit =
    trace.span("sources.write")(inner.write(ns, df, mode))
  override def listNamespaces(): Seq[String] = inner.listNamespaces()
  override def readMarker(ns: String, name: String): Option[String] = inner.readMarker(ns, name)
  override def keyOf(ns: String): String = inner.keyOf(ns)
  override def drop(ns: String): Unit = inner.drop(ns)
  override def dataExists(ns: String): Boolean = inner.dataExists(ns)
  override def tablePath(ns: String): String = inner.tablePath(ns)

  def mergeSeconds: Double = mergeNs.get / 1e9
  def readSeconds: Double = readNs.get / 1e9
}

object TimedCatalog {
  /** Bytes of every file under `dir` (recursive), hidden files included. */
  def bytesUnder(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs: FileSystem = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
  }
}
