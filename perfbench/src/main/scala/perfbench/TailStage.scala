package perfbench

import graft.Migrate
import graft.config.MigratorConfig
import graft.copy.CopyJob
import graft.sources.ParquetCatalog
import graft.streaming.ApplyJob
import org.apache.spark.sql.functions._

import java.io.File
import scala.collection.mutable

/** The `live_tail` stage: sync a doc-store namespace onto the bucketed
  * layout, then `Migrate.liveTail` follows a change-log directory that a
  * publisher thread fills on a fixed schedule, while a reader thread runs
  * Simgen's G4 read mix against the same target.
  *
  * The change-log files are generated in set-up (each is
  * `Simgen.changeLog` over the first `churnDocs` documents, later files
  * with later timestamps: the reference simulator's CRUD churn) and
  * published by atomic rename at `opsPerSecond` change-log rows per
  * second for `--seconds`. */
final class TailStage(run: Run, nDocs: Int, churnDocs: Int, buckets: Int,
    opsPerSecond: Double, triggerMs: Long, minFiles: Int) extends Stage {
  import TailStage._
  private val spark = run.spark
  private val inputs = run.inputs

  private val outbox = run.dir("tail/outbox")
  private val logDir = run.dir("tail/changelog")
  private val keys = Map(MigrateStage.DocsColl -> "id")
  private val srcDir = run.dir("tail/source")
  private val tgtDir = run.dir("tail/target")
  val cfg: MigratorConfig = MigratorConfig.parse(
    s"""{"command": "all", "source": "file:$srcDir", "target": "file:$tgtDir",
       | "buckets": $buckets, "includes": [{"namespace": "$Ns"}]}""".stripMargin)
  private val source = new ParquetCatalog(spark, srcDir, MigrateStage.Db, keys)
  private val sink = new TimedCatalog(spark,
    new ParquetCatalog(spark, tgtDir, MigrateStage.Db, keys, cfg.buckets),
    run.trace, listWrites = run.trace.enabled)

  private val docLo = inputs.small("tail.docs", 64).toLong * nDocs
  private val t0 = 1650000000L + inputs.small("tail.t0", 100000)
  private var fileRows = IndexedSeq.empty[Long]
  private def fileName(f: Int) = f"tail-$f%05d.parquet"

  // measured
  private var syncS = 0.0
  private val scheduled = mutable.Map.empty[String, Double] // file -> epoch s
  private var lateMax = 0.0
  private var handle: ApplyJob.Handle = _
  private var reader: Reader = _
  private var lags = Seq.empty[Double]
  private var drained = false
  private val ckpt = run.dir("tail/checkpoint")

  /** Write the source namespace and change-log files for `--seconds` of
    * publishing (at least `minFiles` files). */
  def setup(): Unit = {
    val one = inputs.changeLog(Ns, docLo, churnDocs, t0)
    val perFile = one.count()
    val files = math.max(minFiles, math.ceil(run.seconds * opsPerSecond / perFile).toInt)
    val period = 6L * (docLo + churnDocs) // seconds one generated log spans
    val all = one.crossJoin(spark.range(files).select(col("id").cast("int").as("file")))
      .withColumn("ts", col("ts") + shiftleft(col("file").cast("long") * period, 32))
    graft.util.Par.run(
      () => source.write(Ns, inputs.docs(docLo, nDocs), "overwrite"),
      () => {
        val rows = inputs.writeFiles(all, "file", run.dir("tail/tmp"), outbox, "tail",
          mtimeBase = 1100000000L)
        fileRows = (0 until files).map(rows)
      })
  }

  /** Sync, then publish every file on schedule while the tail and the
    * reader run, then wait for the tail to drain. */
  def measure(): Unit = {
    val s0 = Run.now()
    val planned = run.trace.span("copy.plan")(CopyJob.plan(cfg, source))
    run.trace.span("copy.preflight")(CopyJob.preflight(cfg, planned, sink))
    run.trace.span("copy.run")(CopyJob.runTracked(planned, source, sink))
    syncS = Run.now() - s0
    handle = run.trace.span("streaming.tail") {
      Migrate.liveTail(spark, cfg, sink, logDir, ckpt, intervalMs = triggerMs)
    }
    reader = new Reader(run, sink, Ns, docLo, nDocs)
    reader.start()
    try {
      publish()
      drained = awaitDrained(timeoutS = 60)
    } finally {
      reader.finish()
      handle.stop()
    }
    lags = Checkpoints.rowLatencies(ckpt,
      fileRows.indices.map(f => fileName(f) -> fileRows(f)).toMap, scheduled)
  }

  private def publish(): Unit = {
    val epoch0 = System.currentTimeMillis() / 1000.0 - Run.now()
    var due = Run.now() + 0.2
    fileRows.indices.foreach { f =>
      val wait = due - Run.now()
      if (wait > 0) Thread.sleep((wait * 1000).toLong)
      val src = new File(outbox, fileName(f))
      require(src.renameTo(new File(logDir, src.getName)), s"could not publish $src")
      lateMax = math.max(lateMax, Run.now() - due)
      scheduled(fileName(f)) = due + epoch0
      due += fileRows(f) / opsPerSecond
    }
  }

  /** Wait until every published file's micro-batch has committed. */
  private def awaitDrained(timeoutS: Double): Boolean = {
    val deadline = Run.now() + timeoutS
    def done = {
      val m = Checkpoints.fileBatches(ckpt)
      m.size == fileRows.size && m.values.forall(b => Checkpoints.commitS(ckpt, b).isDefined)
    }
    while (!done && Run.now() < deadline && handle.query.isActive) Thread.sleep(50)
    done
  }

  def verify(): Unit = {
    val interval = fileRows.map(_ / opsPerSecond).max
    // the same files, one catch-up, onto a target seeded from the same source
    val ref = new ParquetCatalog(spark, run.dir("tail/reference"), MigrateStage.Db, keys, cfg.buckets)
    ref.upsert(Ns, source.read(Ns), "id")
    ApplyJob.catchUp(spark, logDir, ref, cfg, run.dir("tail/reference-checkpoint"))
    if (run.corrupt) sink.merge(Ns, sink.read(Ns).limit(1).withColumn("doc", lit("{}")),
      spark.emptyDataFrame.select(lit("").as("id")), "id")
    val v0 = Run.now()
    val compared = run.trace.span("verify.compare")(Migrate.compare(spark, cfg, ref, sink))
    run.e2e("verify_s", Run.now() - v0, "s")
    val batches = handle.query.recentProgress.count(_.numInputRows > 0)
    val ok = Seq(
      run.check(drained, "live_tail: the tail did not apply every published file"),
      run.check(fileRows.size >= 100, s"live_tail: ${fileRows.size} lag samples (files), 100 needed"),
      run.check(lateMax <= interval,
        f"live_tail: publisher fell $lateMax%.3f s behind, more than one interval ($interval%.3f s)"),
      run.check(compared.values.forall(s => s.isEqual),
        s"live_tail: compare against one catch-up of the same files: $compared"),
      run.check(Run.digestOf(sink.read(Ns)) == Run.digestOf(ref.read(Ns)),
        "live_tail: target digest differs from one catch-up of the same files")
    ).forall(identity)
    run.outcome(ok, math.max(1L, batches.toLong))
    run.outcome(ok = true, reader.samples.size.toLong)
    run.outcome(ok = false, reader.failed)
  }

  def report(): Unit = {
    val work = handle.query.recentProgress.filter(_.numInputRows > 0)
    val busyS = work.map(_.durationMs.get("triggerExecution").longValue).sum / 1000.0
    val reads = reader.samples
    run.e2e("sync_s", syncS, "s")
    run.e2e("apply_p50_s", if (lags.isEmpty) 0.0 else Run.quantile(lags, 0.5), "s")
    run.e2e("apply_p90_s", if (lags.isEmpty) 0.0 else Run.quantile(lags, 0.9), "s")
    run.e2e("apply_rate_per_s", if (busyS > 0) work.map(_.numInputRows).sum / busyS else 0.0, "rows/s")
    run.e2e("read_p50_s", if (reads.isEmpty) 0.0 else Run.median(reads), "s")
    run.e2e("target_bytes_ratio", TimedCatalog.bytesUnder(spark, sink.tablePath(Ns)).toDouble /
      TimedCatalog.bytesUnder(spark, source.tablePath(Ns)), "ratio")
    run.notes("live_tail.files") = fileRows.size.toString
    run.notes("live_tail.batches") = work.length.toString
    run.notes("live_tail.reads") = reads.size.toString
    run.notes("live_tail.read_retries") = reader.retriedReads.toString
    run.notes("live_tail.publisher_late_max_s") = f"$lateMax%.4f"
  }

  def reportLayers(): Unit = {
    val rows = fileRows.sum.toDouble
    val applied = handle.counts.total.toDouble
    Layers.sources(run, sink, applied, 1.0)
    Layers.streaming(run, run.trace.allBatches.filter(_.queryId == handle.query.id.toString),
      applied, rows)
    Layers.spark(run, run.trace.sparkLayer(RunSpan), 1.0)
  }
}

object TailStage {
  val Ns: String = MigrateStage.DocsNs
  val RunSpan = "stage.live_tail.run"
}
