package perfbench

import graft.GraftSession

import java.io.File

/** Entry point of the migration benchmark; `perfbench/run.py` builds and
  * launches it. One run executes one workload's stage:
  *
  *  1. set-up, timed as `setup_s`: session start and input generation;
  *  2. the stage's measured phase for `--seconds` (at least one pass, and
  *     never fewer samples than the stage's minimum);
  *  3. the stage's correctness check;
  *  4. one JSON line with the full detail, then the result line (the
  *     last line on stdout): the shared end-to-end metrics with
  *     `--trace 0`; with `--trace 1` the per-layer metrics, reduced from
  *     spans recorded around each call into a layer.
  *
  * Every workload reports the same end-to-end metrics, each read on that
  * workload's own stage (see perfbench/README.md for the mapping).
  * `--corrupt 1` damages the stage's output before its check, to show
  * that the check catches it. */
object Main {

  val Workloads: Seq[String] = Seq("migrate", "live_tail", "corpus_ingest")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "sync_s" -> "s", "verify_s" -> "s",
    "apply_p50_s" -> "s", "apply_p90_s" -> "s", "apply_rate_per_s" -> "rows/s",
    "read_p50_s" -> "s", "target_bytes_ratio" -> "ratio")

  /** The workload-specific names the metrics go by in the detail line. */
  val Aliases: Map[String, Seq[(String, String)]] = Map(
    "migrate" -> Seq("catchup_ops_per_s" -> "apply_rate_per_s"),
    "live_tail" -> Seq("tail_lag_p50_s" -> "apply_p50_s", "tail_lag_p90_s" -> "apply_p90_s",
      "tail_read_p50_s" -> "read_p50_s"),
    "corpus_ingest" -> Seq("ingest_docs_per_s" -> "apply_rate_per_s", "probe_p50_s" -> "read_p50_s"))

  val PerLayer: Seq[(String, String)] = Seq(
    "ddl.manifest_s" -> "s",
    "copy.busy_s" -> "s", "copy.rows" -> "rows", "copy.jobs" -> "count",
    "copy.driver_gap_s" -> "s", "copy.shuffle_mb" -> "MB",
    "monitor.tasks" -> "count", "monitor.tasks_failed" -> "count",
    "sources.merge_calls" -> "count", "sources.merge_s" -> "s",
    "sources.merge_mb_written" -> "MB", "sources.mb_written_per_kop" -> "MB/kop",
    "sources.read_calls" -> "count", "sources.read_s" -> "s",
    "streaming.batches" -> "count", "streaming.rows_per_batch" -> "rows",
    "streaming.add_batch_s" -> "s", "streaming.planning_s" -> "s",
    "streaming.wal_commit_s" -> "s", "streaming.commit_offsets_s" -> "s",
    "streaming.idle_gap_s" -> "s", "streaming.applied_per_input" -> "ratio",
    "verify.jobs" -> "count", "verify.shuffle_mb" -> "MB", "verify.driver_gap_s" -> "s",
    "text.probe_jobs" -> "count", "text.probe_driver_gap_s" -> "s", "text.compact_s" -> "s",
    "util.index_files" -> "count", "util.index_mb" -> "MB",
    "spark.jobs" -> "count", "spark.job_busy_s" -> "s", "spark.driver_gap_s" -> "s",
    "spark.shuffle_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.tasks_failed" -> "count")

  /** Stage sizes. */
  object Size {
    val TpchSf = 0.001
    val MigrateDocs = 400
    val BacklogFiles = 3
    val TailDocs = 2000
    val ChurnDocs = 15
    val TailBuckets = 16
    val TailOpsPerSecond = 600.0 // the reference simulator's configured rate
    val TailTriggerMs = 1000L
    val TailMinFiles = 110
    val CorpusBaseDocs = 600
    val CorpusCopies = 2
    val CorpusBuckets = 8
    val FeedDocsPerFile = 100
    val FeedFilesPerRound = 8
    val FeedFiles = 16
    val Queries = 2
    val TopK = 5
    val MinProbes = 6
  }

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      corrupt: Boolean, workDir: File)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m.getOrElse("corrupt", "0") == "1", new File(need("work")))
  }

  def main(argv: Array[String]): Unit = {
    val born = Run.now()
    val a = parse(argv)
    a.workDir.mkdirs()
    // the engine's session factory; one shuffle partition per core, as the
    // engine's own bench runs it
    val cores = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.create(s"local[$cores]", shufflePartitions = cores)
    try {
      val run = new Run(spark, new Inputs(spark, a.seed), new Trace(a.trace, spark), a.workDir,
        a.seconds, a.workload, a.corrupt)
      execute(run, born)
      println(detailLine(run))
      println(resultLine(run))
    } finally spark.stop()
  }

  /** `t0`: when the process started; set-up time includes session start. */
  def execute(run: Run, t0: Double): Unit = {
    import Size._
    run.log("session up")
    val stage: Stage = run.focus match {
      case "migrate" => new MigrateStage(run, TpchSf, MigrateDocs, BacklogFiles)
      case "live_tail" => new TailStage(run, TailDocs, ChurnDocs, TailBuckets, TailOpsPerSecond,
        TailTriggerMs, TailMinFiles)
      case _ => new CorpusStage(run, CorpusBaseDocs, CorpusCopies, FeedDocsPerFile, Queries, TopK,
        CorpusBuckets, FeedFiles, FeedFilesPerRound, MinProbes)
    }
    stage.setup()
    run.e2e("setup_s", Run.now() - t0, "s")
    run.log("set up")
    run.trace.span(s"stage.${run.focus}.run")(stage.measure())
    run.log("measured")
    run.trace.close()
    stage.verify()
    run.log("checked")
    run.failureList.foreach(f => run.log(s"check failed: $f"))
    stage.report()
    if (run.trace.enabled) {
      stage.reportLayers()
      run.trace.dump(new File(run.workDir, "trace.jsonl").toPath)
    }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""

  /** Everything measured, for people: notes, failures and both metric sets. */
  def detailLine(run: Run): String = {
    def obj(m: Iterable[(String, (Double, String))]) =
      m.map { case (k, (v, u)) => s"${q(k)}:{${q("value")}:${num(v)},${q("unit")}:${q(u)}}" }
        .mkString("{", ",", "}")
    val aliases = Aliases(run.focus).flatMap { case (alias, name) =>
      run.endToEnd.get(name).map(alias -> _) }
    s"""{"detail":{"workload":${q(run.focus)},"seed":${run.inputs.seed},""" +
      s""""workload_names":${obj(aliases)},""" +
      s""""trace":${run.trace.enabled},"end_to_end":${obj(run.endToEnd)},""" +
      s""""per_layer":${obj(run.perLayer)},"notes":""" +
      run.notes.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}") +
      s""","failures":${run.failureList.map(q).mkString("[", ",", "]")}}}"""
  }

  /** The result line: end-to-end metrics untraced, per-layer traced. */
  def resultLine(run: Run): String = {
    val (names, values) =
      if (run.trace.enabled) (PerLayer, run.perLayer) else (EndToEnd, run.endToEnd)
    val metrics = names.map { case (n, unit) =>
      s"${q(n)}:{${q("value")}:${num(values.get(n).map(_._1).getOrElse(0.0))},${q("unit")}:${q(unit)}}"
    }.mkString("{", ",", "}")
    s"""{"correct":${run.correct},"attempted":${run.attempted},"failed":${run.failed},"metrics":$metrics}"""
  }
}
