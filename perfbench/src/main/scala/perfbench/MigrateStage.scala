package perfbench

import graft.Migrate
import graft.config.MigratorConfig
import graft.copy.CopyJob
import graft.ddl.Manifest
import graft.sources.ParquetCatalog
import graft.streaming.{ApplyJob, JsonDocOps, Oplog}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The `migrate` stage: one pass through the flagship `-start`
  * lifecycle per iteration — manifest, copy of every included namespace,
  * compare, then catch-up of a change-log backlog on the doc-store
  * namespace in bounded micro-batches onto the plain layout, then the
  * G4 read mix against the caught-up namespace.
  *
  * Source: five TPC-H-shaped namespaces at scale factor `sf` plus a
  * Simgen doc-store namespace (`docs`) of `nDocs` ~3 KB documents. The
  * backlog is `Simgen.changeLog` over the same documents, cut in
  * ts order into `backlogFiles` files, one per micro-batch. */
final class MigrateStage(run: Run, sf: Double, nDocs: Int, backlogFiles: Int) extends Stage {
  import MigrateStage._
  private val spark = run.spark
  private val inputs = run.inputs

  private val srcDir = run.dir("migrate/source")
  private val tgtDir = run.dir("migrate/target")
  private val logDir = run.dir("migrate/changelog")
  private val keys = Map(DocsColl -> "id")
  private val source = new ParquetCatalog(spark, srcDir, Db, keys)
  private val sink = new TimedCatalog(spark,
    new ParquetCatalog(spark, tgtDir, Db, keys), run.trace, listWrites = run.trace.enabled)

  /** Config under test: a filter, a mask, a rename and a wildcard. */
  val cfg: MigratorConfig = MigratorConfig.parse(
    s"""{"command": "all", "source": "file:$srcDir", "target": "file:$tgtDir",
       | "drop": true,
       | "includes": [
       |  {"namespace": "$Db.orders", "filter": {"o_orderstatus": {"$$in": ["F", "O"]}}},
       |  {"namespace": "$Db.customer", "masks": ["c_name"]},
       |  {"namespace": "$Db.part", "to": "$Db.part_v2"},
       |  {"namespace": "$Db.*"}]}""".stripMargin)

  private val docLo = inputs.small("migrate.docs", 64).toLong * nDocs
  private val t0 = 1600000000L + inputs.small("migrate.t0", 100000)
  private var backlogFileRows = Map.empty[String, Long]
  private def backlogRows = backlogFileRows.values.sum

  private val passes = mutable.ArrayBuffer.empty[Pass]

  /** Write the source namespaces and the backlog files (independent
    * jobs, run side by side). */
  def setup(): Unit = {
    val log = inputs.cut(inputs.changeLog(DocsNs, docLo, nDocs, t0), col("ts"), backlogFiles)
    graft.util.Par.run(inputs.tpch(sf).toSeq.map { case (coll, df) =>
      () => source.write(s"$Db.$coll", df, "overwrite") } ++ Seq(
      () => source.write(DocsNs, inputs.docs(docLo, nDocs), "overwrite"),
      () => backlogFileRows = inputs.writeFiles(log, "file", run.dir("migrate/tmp"), logDir,
        "backlog", mtimeBase = 1000000000L).map { case (k, n) => f"backlog-$k%05d.parquet" -> n }
    ): _*)
  }

  /** Passes until `--seconds` have elapsed (at least one). */
  def measure(): Unit = {
    val start = Run.now()
    var i = 0
    while (i == 0 || Run.now() - start < run.seconds) {
      val p = run.trace.span(PassSpan)(pass(i))
      run.log(f"migrate pass $i: sync ${p.syncS}%.2f s, verify ${p.verifyS}%.2f s, catch-up ${p.catchupOpsPerS}%.0f ops/s")
      passes += p
      i += 1
    }
  }

  /** Manifest and copy of every included namespace; `drop: true` makes
    * the preflight empty the targets first, so a sync can be repeated. */
  private def sync() = {
    run.trace.span("ddl.manifest") {
      Manifest.persist(spark, sink, Manifest.capture(source).filtered(cfg).withRenames(cfg))
    }
    val planned = run.trace.span("copy.plan")(CopyJob.plan(cfg, source))
    run.trace.span("copy.preflight")(CopyJob.preflight(cfg, planned, sink))
    val (copied, snap) = run.trace.span("copy.run")(CopyJob.runTracked(planned, source, sink))
    (planned, copied, snap)
  }

  /** One pass. The sync runs `SyncRepeats` times and reports its median
    * time (one sync is a few seconds, too short to time once); the last
    * one's target goes on to compare and catch-up. */
  private def pass(i: Int): Pass = {
    val syncs = (1 to SyncRepeats).map { _ =>
      val t = Run.now()
      val r = sync()
      (Run.now() - t, r)
    }
    val (planned, copied, snap) = syncs.last._2
    val t1 = Run.now()
    val compared = run.trace.span("verify.compare")(Migrate.compare(spark, cfg, source, sink))
    val ckpt = run.dir(s"migrate/checkpoint-$i")
    val t2 = Run.now()
    val t2Epoch = System.currentTimeMillis() / 1000.0
    val applied = run.trace.span("streaming.catchup") {
      ApplyJob.catchUp(spark, logDir, sink, cfg, ckpt, maxFilesPerTrigger = 1)
    }
    val t3 = Run.now()
    // reads of the migrated namespace once it has caught up
    val reader = new Reader(run, sink, DocsNs, docLo, nDocs)
    reader.runMixes(ReadMixes)
    val latencies = Checkpoints.rowLatencies(ckpt, backlogFileRows, _ => t2Epoch)
    val targets = planned.map { case (ns, spec) => CopyJob.targetOf(ns, spec) }
    val ratio = targets.map(ns => TimedCatalog.bytesUnder(spark, sink.tablePath(ns))).sum.toDouble /
      planned.map(p => TimedCatalog.bytesUnder(spark, source.tablePath(p._1))).sum
    if (run.corrupt) sink.merge(DocsNs, spark.emptyDataFrame.select(lit("").as("id"), lit("").as("doc")),
      sink.read(DocsNs).select("id").limit(1), "id")
    Pass(Run.median(syncs.map(_._1)), t2 - t1, backlogRows / (t3 - t2), ratio, copied, snap, compared, applied,
      latencies, reader.samples, reader.failed, reader.retriedReads)
  }

  /** Checks every pass; a failed check fails its pass. */
  def verify(): Unit = {
    val expected = CopyJob.plan(cfg, source).map { case (ns, spec) =>
      val src = source.read(ns)
      ns -> spec.filter(_.hasFilter).map(sp => src.filter(sp.predicate)).getOrElse(src).count()
    }.toMap
    val (refDigest, refRows) = referenceDigest()
    // the target the last pass left
    // the default mask turns every letter and digit into X
    val masked = sink.read(MaskedNs).filter(col("c_name").rlike("[a-zA-WYZ0-9]")).count()
    val (d, n) = Run.digestOf(sink.read(DocsNs))
    val last = passes.last
    val lastOk = Seq(
      run.check(masked == 0, s"migrate: $masked unmasked c_name values on the target"),
      run.check(d == refDigest && n == refRows,
        s"migrate: doc digest ($d, $n rows) != reference ($refDigest, $refRows rows)"),
      run.check(n == nDocs + last.applied.inserted - last.applied.deleted,
        s"migrate: $n rows != $nDocs + ${last.applied.inserted} inserted - ${last.applied.deleted} deleted")
    ).forall(identity)
    passes.zipWithIndex.foreach { case (p, i) =>
      val ok = Seq(
        run.check(p.copied.forall(c => c.rowsInTarget == expected(c.namespace)),
          s"migrate pass $i: target rows ${p.copied.map(c => c.namespace -> c.rowsInTarget)} != $expected"),
        run.check(p.compared.forall { case (ns, s) =>
          s.missingOnTarget == 0 && s.extraOnTarget == 0 &&
            s.matched + s.mismatched == expected(ns) &&
            s.mismatched == (if (ns == MaskedNs) expected(ns) else 0L)
        }, s"migrate pass $i: compare ${p.compared}")
      ).forall(identity)
      run.outcome(ok && (i < passes.size - 1 || lastOk))
      run.outcome(ok = true, p.reads.size.toLong)
      run.outcome(ok = false, p.readsFailed)
    }
  }

  /** The doc namespace after the backlog, computed without Spark: the
    * copied documents with every op of the log folded in, key by key, in
    * (ts, seq) order on the driver. */
  private def referenceDigest(): (Long, Long) = {
    import spark.implicits._
    val base = source.read(DocsNs).as[(String, String)].collect().toMap
    val ops = spark.read.schema(Oplog.schema).parquet(logDir).as[Oplog].collect()
      .toSeq.flatMap(o => if (Oplog.skip(o, cfg)) Nil else Oplog.compile(o, cfg))
      .filter(_.ns == DocsNs)
    val byId = ops.groupBy(_.id)
    val ids = base.keySet ++ byId.keySet
    val folded = ids.iterator.flatMap { id =>
      val b = base.get(id)
      byId.get(id) match {
        case Some(os) => JsonDocOps.fold(b, os).map(id -> _)
        case None => b.map(id -> _)
      }
    }
    Run.digest(folded)
  }

  /** The shared end-to-end metrics, medians over the run's passes. */
  def report(): Unit = {
    val ps = passes.toSeq
    def med(f: Pass => Double) = Run.median(ps.map(f))
    run.e2e("sync_s", med(_.syncS), "s")
    run.e2e("verify_s", med(_.verifyS), "s")
    run.e2e("apply_p50_s", med(p => Run.quantile(p.applyLatencies, 0.5)), "s")
    run.e2e("apply_p90_s", med(p => Run.quantile(p.applyLatencies, 0.9)), "s")
    run.e2e("apply_rate_per_s", med(_.catchupOpsPerS), "rows/s")
    val reads = ps.flatMap(_.reads)
    run.e2e("read_p50_s", if (reads.isEmpty) 0.0 else Run.median(reads), "s")
    run.e2e("target_bytes_ratio", med(_.bytesRatio), "ratio")
    run.notes("migrate.passes") = ps.size.toString
    run.notes("migrate.backlog_rows") = backlogRows.toString
    run.notes("migrate.reads") = reads.size.toString
    run.notes("migrate.read_retries") = ps.map(_.readRetries).sum.toString
  }

  /** Per-layer numbers: ddl, copy and monitor per sync, the rest per
    * pass (means over the run). */
  def reportLayers(): Unit = {
    val t = run.trace
    val n = passes.size.toDouble
    val ps = passes.toSeq
    val manifest = t.sparkLayer("ddl.manifest")
    run.layer("ddl.manifest_s", manifest.wallMs / 1000.0 / manifest.spans, "s")
    val copy = t.sparkLayer("copy.run")
    val syncs = copy.spans.toDouble
    run.layer("copy.busy_s", copy.busyMs / 1000.0 / syncs, "s")
    run.layer("copy.rows", ps.map(_.copied.map(_.rowsRead).sum).sum / n, "rows")
    run.layer("copy.jobs", copy.jobs / syncs, "count")
    run.layer("copy.driver_gap_s", copy.gapMs / 1000.0 / syncs, "s")
    run.layer("copy.shuffle_mb", copy.shuffleBytes / MB / syncs, "MB")
    run.layer("monitor.tasks", ps.map(_.snap.total).sum / n, "count")
    run.layer("monitor.tasks_failed", ps.map(_.snap.failed).sum / n, "count")
    val ver = t.sparkLayer("verify.compare")
    run.layer("verify.jobs", ver.jobs / n, "count")
    run.layer("verify.shuffle_mb", ver.shuffleBytes / MB / n, "MB")
    run.layer("verify.driver_gap_s", ver.gapMs / 1000.0 / n, "s")
    val applied = ps.map(_.applied.total).sum.toDouble
    Layers.sources(run, sink, applied, n)
    Layers.streaming(run, t.allBatches.filter(b => t.allSpans.exists(s =>
      s.name == "streaming.catchup" && b.startMs >= s.startMs && b.startMs <= s.endMs)),
      applied, backlogRows * n)
    Layers.spark(run, t.sparkLayer(PassSpan), n)
  }
}

object MigrateStage {
  val Db = "tpch"
  val DocsColl = "docs"
  val DocsNs = s"$Db.$DocsColl"
  val MaskedNs = s"$Db.customer"
  val PassSpan = "stage.migrate.pass"
  val SyncRepeats = 5
  val ReadMixes = 30
  val MB = 1024.0 * 1024.0

  final case class Pass(syncS: Double, verifyS: Double, catchupOpsPerS: Double,
      bytesRatio: Double, copied: Seq[CopyJob.CopyResult],
      snap: graft.monitor.Progress.Snapshot,
      compared: Map[String, graft.verify.Compare.CompareSummary],
      applied: graft.streaming.ApplyCounts, applyLatencies: Seq[Double],
      reads: Seq[Double], readsFailed: Long, readRetries: Long)
}
