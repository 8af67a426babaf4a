package perfbench

/** Reductions shared by the stages' per-layer reports. `per` divides
  * totals into per-pass (or per-run) figures. */
object Layers {
  private val MB = 1024.0 * 1024.0

  /** `sources.*`: the timed sink's merge and read calls. `applied` is the
    * A5 op count the merges carried. */
  def sources(run: Run, sink: TimedCatalog, applied: Double, per: Double): Unit = {
    val written = sink.mergeBytesWritten.get / MB
    run.layer("sources.merge_calls", sink.mergeCalls.get / per, "count")
    run.layer("sources.merge_s", sink.mergeSeconds / per, "s")
    run.layer("sources.merge_mb_written", written / per, "MB")
    run.layer("sources.mb_written_per_kop", if (applied > 0) written / (applied / 1000.0) else 0.0, "MB/kop")
    run.layer("sources.read_calls", sink.readCalls.get / per, "count")
    run.layer("sources.read_s", sink.readSeconds / per, "s")
  }

  /** `streaming.*` from the progress of the given micro-batches (batches
    * with no input are trigger polls, not work, and are left out).
    * `applied` over `inputRows` is the A5 total per change-log row read;
    * pass 0 for both where the stream applies no change log. */
  def streaming(run: Run, batches: Seq[BatchRec], applied: Double, inputRows: Double): Unit = {
    val work = batches.filter(_.inputRows > 0)
    def mean(key: String): Double =
      if (work.isEmpty) 0.0 else work.map(_.durations.getOrElse(key, 0L)).sum / 1000.0 / work.size
    run.layer("streaming.batches", work.size.toDouble, "count")
    run.layer("streaming.rows_per_batch",
      if (work.isEmpty) 0.0 else work.map(_.inputRows).sum.toDouble / work.size, "rows")
    run.layer("streaming.add_batch_s", mean("addBatch"), "s")
    run.layer("streaming.planning_s", mean("queryPlanning"), "s")
    run.layer("streaming.wal_commit_s", mean("walCommit"), "s")
    run.layer("streaming.commit_offsets_s", mean("commitOffsets"), "s")
    // time between one working batch's end and the next one's start, per query
    val gaps = work.groupBy(_.queryId).values.flatMap { bs =>
      val s = bs.sortBy(_.batchId)
      s.zip(s.drop(1)).map { case (a, b) =>
        (b.startMs - (a.startMs + a.durations.getOrElse("triggerExecution", 0L))) / 1000.0
      }
    }.toSeq
    run.layer("streaming.idle_gap_s", if (gaps.isEmpty) 0.0 else gaps.sum / gaps.size, "s")
    run.layer("streaming.applied_per_input", if (inputRows > 0) applied / inputRows else 0.0, "ratio")
  }

  /** `spark.*` over every span named like the stage's measured span. */
  def spark(run: Run, l: Trace.Layer, per: Double): Unit = {
    run.layer("spark.jobs", l.jobs / per, "count")
    run.layer("spark.job_busy_s", l.busyMs / 1000.0 / per, "s")
    run.layer("spark.driver_gap_s", l.gapMs / 1000.0 / per, "s")
    run.layer("spark.shuffle_mb", l.shuffleBytes / MB / per, "MB")
    run.layer("spark.spill_mb", l.spillBytes / MB / per, "MB")
    run.layer("spark.tasks_failed", l.tasksFailed / per, "count")
  }
}
