package perfbench

import graft.streaming.DocStream
import graft.text.Retrieval
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import java.io.File
import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable

/** The `corpus_ingest` stage: feed files of new documents drain into a
  * staged BM25 index through `DocStream.ingestStream`, one file per
  * trigger, and `compactBm25` closes the round, while a probe thread runs
  * `Retrieval.stagedBm25TopK` for a fixed query batch in a closed loop.
  *
  * The index is staged in set-up over `copies` copies (shifted ids) of a
  * `baseDocs`-document corpus shaped like the `documents` fixture, with
  * `buckets` term buckets. `files` feed files hold `docsPerFile` documents
  * with new ids each; a run fails with fewer than `minProbes` probes. */
final class CorpusStage(run: Run, baseDocs: Int, copies: Int, docsPerFile: Int,
    queries: Int, k: Int, buckets: Int, files: Int, filesPerRound: Int, minProbes: Int)
    extends Stage {
  import CorpusStage._
  private val spark = run.spark
  private val inputs = run.inputs

  private val indexDir = run.dir("corpus/index")
  private val sourceDir = run.dir("corpus/source")
  private val outbox = run.dir("corpus/outbox")
  private val feedDir = run.dir("corpus/feed")
  private val idLo = inputs.small("corpus.ids", 1000).toLong * 1000000L
  private val feedLo = idLo + baseDocs.toLong * copies
  private val qs = inputs.queries(queries).cache()

  // measured
  private val probes = mutable.ArrayBuffer.empty[Double]
  @volatile private var probeFailures = 0L
  @volatile private var probeRetries = 0L
  private var ingestS = 0.0
  private var compactS = 0.0
  private var ingested = 0
  private var batches = 0L
  private val queryIds = mutable.Set.empty[String]
  private var rounds = 0
  private var indexFiles = 0L
  private var indexBytes = 0L
  private var ingestFailed = false
  private var syncS = 0.0
  private val placedAt = mutable.Map.empty[String, Double] // file -> epoch s
  private var latencies = Seq.empty[Double]

  private def schemaDdl = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"

  /** The base corpus (each copy repeats the base texts under new ids). */
  private def baseCorpus = {
    val base = inputs.corpus(idLo, baseDocs)
    (0 until copies).map(c => base.withColumn("doc_id", col("doc_id") + lit(c.toLong * baseDocs)))
      .reduce(_ unionByName _)
  }

  /** Write the base corpus and the feed files. */
  def setup(): Unit = {
    val feed = inputs.corpus(feedLo, files.toLong * docsPerFile)
      .withColumn("file", floor((col("doc_id") - lit(feedLo)) / docsPerFile).cast("int"))
    graft.util.Par.run(
      () => baseCorpus.write.mode("overwrite").parquet(sourceDir),
      () => inputs.writeFiles(feed, "file", run.dir("corpus/tmp"), outbox, "feed",
        mtimeBase = 1200000000L): Unit,
      () => qs.count(): Unit)
  }

  /** Stage the index (the stage's sync) once to warm up, then ingest
    * rounds until `--seconds` have passed (at least one) while the probe
    * thread runs: each round places `filesPerRound` feed files, drains
    * them through `ingestStream` one file per trigger, and compacts.
    *
    * The sync time is the median of `StageRepeats` stagings, half right
    * before the ingest and half right after it into a directory of their
    * own. The first staging in a JVM costs several times a later one, by
    * an amount that varies from run to run, so it is not timed; and the
    * host's speed drifts over seconds, so the timed stagings are taken
    * apart in time rather than back to back. */
  def measure(): Unit = {
    val stop = new AtomicBoolean(false)
    val prober = new Thread(() => probeLoop(stop), "perfbench-prober")
    prober.setDaemon(true)
    val ckpt = run.dir("corpus/checkpoint")
    stage(indexDir)
    val stagings = mutable.ArrayBuffer.fill(StageRepeats / 2)(stage(indexDir))
    val start = Run.now()
    prober.start()
    try {
      var placed = 0
      while (placed == 0 || (Run.now() - start < run.seconds && placed + filesPerRound <= files)) {
        (placed until placed + filesPerRound).foreach { k =>
          val f = new File(outbox, f"feed-$k%05d.parquet")
          require(f.renameTo(new File(feedDir, f.getName)), s"could not place $f")
          placedAt(f.getName) = System.currentTimeMillis() / 1000.0
        }
        placed += filesPerRound
        val feed = spark.readStream.schema(schemaDdl).option("maxFilesPerTrigger", "1")
          .parquet(feedDir)
        val q = run.trace.span("text.ingest") {
          DocStream.ingestStream(feed, "doc_id", "text", indexDir, ckpt)
        }
        queryIds += q.id.toString
        try q.awaitTermination()
        catch { case _: Exception => ingestFailed = true }
        val (n, b) = indexSize()
        indexFiles = n
        indexBytes = b
        val c0 = Run.now()
        run.trace.span("text.compact")(Retrieval.compactBm25(spark, indexDir))
        compactS += Run.now() - c0
        rounds += 1
      }
      ingested = placed
      ingestS = Run.now() - start
      batches = Checkpoints.committed(ckpt).toLong
      ingestFailed ||= batches < ingested
      latencies = Checkpoints.rowLatencies(ckpt,
        placedAt.keys.map(_ -> docsPerFile.toLong).toMap, placedAt)
    } finally {
      stop.set(true)
      prober.join()
    }
    val restaged = run.dir("corpus/restage")
    stagings ++= Seq.fill(StageRepeats - StageRepeats / 2)(stage(restaged))
    run.log(stagings.map(s => f"$s%.2f").mkString("corpus_ingest stagings: ", " ", " s"))
    syncS = Run.median(stagings.toSeq)
  }

  /** One `stageBm25` of the base corpus into `dir`; returns its time. */
  private def stage(dir: String): Double = {
    val s0 = Run.now()
    run.trace.span("text.stage") {
      Retrieval.stageBm25(spark.read.parquet(sourceDir), "doc_id", col("text"), dir, buckets)
    }
    Run.now() - s0
  }

  /** Closed-loop probes. A probe that meets index files replaced under
    * it (an append or compaction in flight) is retried, as a client
    * would; only `retries` failures in a row count as a failed probe. */
  private def probeLoop(stop: AtomicBoolean, retries: Int = 5): Unit =
    while (!stop.get()) {
      val t = Run.now()
      var attempt = 0
      var done = false
      while (!done && attempt < retries && !stop.get()) {
        try {
          run.trace.span("text.probe") {
            Retrieval.stagedBm25TopK(spark, indexDir, qs, "qid", col("q"), k).collect()
          }
          done = true
        } catch { case _: Exception => attempt += 1; probeRetries += 1 }
      }
      if (done) probes.synchronized { probes += Run.now() - t }
      else if (attempt >= retries) probeFailures += 1
    }

  private def indexSize(): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val fs = walk(new File(indexDir)).filter(f => f.getName.endsWith(".parquet"))
    (fs.size.toLong, fs.map(_.length).sum)
  }

  def verify(): Unit = {
    val corpus = baseCorpus.unionByName(inputs.corpus(feedLo, ingested.toLong * docsPerFile))
    val v0 = Run.now()
    val expected = Retrieval.bm25TopK(corpus, "doc_id", col("text"), qs, "qid", col("q"), k)
      .collect().map(rowKey).sorted.toSeq
    val staged = Retrieval.stagedBm25TopK(spark, indexDir, qs, "qid", col("q"), k)
      .collect().map(rowKey).sorted.toSeq
    run.e2e("verify_s", Run.now() - v0, "s")
    val got = if (run.corrupt) staged.drop(1) else staged
    val ok = Seq(
      run.check(!ingestFailed, s"corpus_ingest: $batches batches committed for $ingested files"),
      run.check(probes.size >= minProbes, s"corpus_ingest: ${probes.size} probes, $minProbes needed"),
      run.check(expected.nonEmpty && got == expected,
        s"corpus_ingest: staged top-$k (${got.size} rows) differs from bm25TopK over the full corpus (${expected.size} rows)")
    ).forall(identity)
    run.outcome(ok, math.max(1L, batches))
    run.outcome(ok = true, probes.size.toLong)
    run.outcome(ok = false, probeFailures)
  }

  private def rowKey(r: Row): String = r.toSeq.mkString("|")

  def report(): Unit = {
    val ps = probes.synchronized(probes.toSeq)
    val fed = Option(new File(feedDir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    run.e2e("sync_s", syncS, "s")
    run.e2e("apply_p50_s", if (latencies.isEmpty) 0.0 else Run.quantile(latencies, 0.5), "s")
    run.e2e("apply_p90_s", if (latencies.isEmpty) 0.0 else Run.quantile(latencies, 0.9), "s")
    run.e2e("apply_rate_per_s", ingested.toDouble * docsPerFile / ingestS, "rows/s")
    run.e2e("read_p50_s", if (ps.isEmpty) 0.0 else Run.median(ps), "s")
    run.e2e("target_bytes_ratio", TimedCatalog.bytesUnder(spark, indexDir).toDouble /
      (TimedCatalog.bytesUnder(spark, sourceDir) + fed), "ratio")
    run.notes("corpus_ingest.files") = ingested.toString
    run.notes("corpus_ingest.rounds") = rounds.toString
    run.notes("corpus_ingest.probes") = ps.size.toString
    run.notes("corpus_ingest.probe_retries") = probeRetries.toString
  }

  def reportLayers(): Unit = {
    val t = run.trace
    val probe = t.sparkLayer("text.probe")
    val n = math.max(1, probe.spans).toDouble
    run.layer("text.probe_jobs", probe.jobs / n, "count")
    run.layer("text.probe_driver_gap_s", probe.gapMs / 1000.0 / n, "s")
    run.layer("text.compact_s", compactS / math.max(1, rounds), "s")
    run.layer("util.index_files", indexFiles.toDouble, "count")
    run.layer("util.index_mb", indexBytes / (1024.0 * 1024.0), "MB")
    Layers.streaming(run, t.allBatches.filter(b => queryIds.contains(b.queryId)), 0.0, 0.0)
    Layers.spark(run, t.sparkLayer(RunSpan), 1.0)
  }
}

object CorpusStage {
  val RunSpan = "stage.corpus_ingest.run"
  val StageRepeats = 4
}
