package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed region around a call into a layer: name, start, end and the
  * span that caused it. Times are epoch milliseconds (the unit Spark's
  * listener events carry, so jobs and spans share one clock). */
final case class Span(id: Long, parent: Long, name: String, startMs: Long, endMs: Long)

/** One Spark job as the listener saw it, with the span it ran under. */
final class JobRec(val jobId: Int, val span: Long, val startMs: Long) {
  @volatile var endMs: Long = -1L
  val tasks = new AtomicLong
  val tasksFailed = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
}

/** One micro-batch as query progress reported it. */
final case class BatchRec(queryId: String, batchId: Long, startMs: Long,
    inputRows: Long, durations: Map[String, Long])

/** Span recorder for the traced run.
  *
  * Spans are held in memory and reduced when the run ends. A span opened
  * on a thread also sets the `perfbench.span` local property on that
  * thread, so the [[SparkListener]] below attributes every job the call
  * submits to it. Threads a layer hands work to (a parallel collection's
  * pool, a stream's execution thread) inherit the property when they are
  * created, which can outlive the span that created them; a job whose
  * property names a span that was already closed when it started falls
  * back to the innermost span open on the thread that drives the run.
  * Spans opened on helper threads (readers, probes) are children of that
  * span too. Micro-batch spans come from query progress.
  *
  * With `enabled = false` every call is a pass-through and no listener is
  * installed: the end-to-end run measures the program, not the tracer. */
final class Trace(val enabled: Boolean, spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val ids = new AtomicLong
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val open = new ConcurrentHashMap[Long, Span]()
  private val current = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val driverThread: Thread = Thread.currentThread()
  private val driverStack = new java.util.concurrent.ConcurrentLinkedDeque[java.lang.Long]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchRec]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.Prop)))
        .map(_.toLong)
      val owner = prop.filter(id => open.containsKey(id) ||
          Option(spans.get(id)).exists(_.endMs >= e.time))
        .getOrElse(Option(driverStack.peekLast()).map(_.longValue).getOrElse(0L))
      jobs.put(e.jobId, new JobRec(e.jobId, owner, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.tasks.incrementAndGet()
        if (e.reason != org.apache.spark.Success) j.tasksFailed.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          j.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          j.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      batches.add(BatchRec(p.id.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows, d))
    }
  }

  if (enabled) {
    sc.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  /** Run `body` inside a span named `name`; nested calls become children. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = current.get()
      // a helper thread's outermost span hangs under the driving thread's
      // innermost open span, so a stage's subtree holds its readers' work
      val parent = stack.headOption
        .getOrElse(Option(driverStack.peekLast()).map(_.longValue).getOrElse(0L))
      val start = System.currentTimeMillis()
      open.put(id, Span(id, parent, name, start, -1L))
      val prevProp = sc.getLocalProperty(Trace.Prop)
      current.set(id :: stack)
      sc.setLocalProperty(Trace.Prop, id.toString)
      val onDriver = Thread.currentThread() eq driverThread
      if (onDriver) driverStack.addLast(id)
      try body
      finally {
        if (onDriver) driverStack.removeLastOccurrence(id)
        current.set(stack)
        sc.setLocalProperty(Trace.Prop, prevProp)
        open.remove(id)
        spans.put(id, Span(id, parent, name, start, System.currentTimeMillis()))
      }
    }

  /** Stop listening; later events are ignored. The listener bus is
    * asynchronous, so wait for it to drain first. */
  def close(): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + 5000
    while (jobs.values.asScala.exists(_.endMs < 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    sc.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }

  def allSpans: Seq[Span] = spans.values.asScala.toSeq.sortBy(_.id)
  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.jobId)
  def allBatches: Seq[BatchRec] = batches.asScala.toSeq

  /** Spans named `name` and every span below them. */
  def subtree(name: String): Set[Long] = {
    val all = allSpans
    val children = all.groupBy(_.parent).map { case (k, v) => k -> v.map(_.id) }
    def walk(id: Long): Seq[Long] = id +: children.getOrElse(id, Nil).flatMap(walk)
    all.filter(_.name == name).flatMap(s => walk(s.id)).toSet
  }

  /** Spark-engine reduction over the spans named `name`: jobs, the part
    * of the spans' wall time covered by at least one running job (busy),
    * the rest (driver gap), shuffle written, spilled and failed tasks. */
  def sparkLayer(name: String): Trace.Layer = {
    val roots = allSpans.filter(_.name == name)
    val ids = subtree(name)
    val js = allJobs.filter(j => ids.contains(j.span))
    val wall = roots.map(s => s.endMs - s.startMs).sum
    val busy = roots.map { s =>
      Trace.covered(js.map(j => (math.max(j.startMs, s.startMs),
        math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs))))
    }.sum
    Trace.Layer(spans = roots.size, wallMs = wall, jobs = js.size, busyMs = busy,
      shuffleBytes = js.map(_.shuffleBytes.get).sum,
      spillBytes = js.map(_.spillBytes.get).sum,
      tasksFailed = js.map(_.tasksFailed.get).sum)
  }

  /** Write every span, job and batch as JSON lines (for inspection). */
  def dump(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = allSpans.map(s =>
      s"""{"span":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs}}""") ++
      allJobs.map(j =>
        s"""{"job":${j.jobId},"span":${j.span},"start_ms":${j.startMs},"end_ms":${j.endMs},""" +
          s""""tasks":${j.tasks.get},"tasks_failed":${j.tasksFailed.get},""" +
          s""""shuffle_bytes":${j.shuffleBytes.get},"spill_bytes":${j.spillBytes.get}}""") ++
      allBatches.map(b =>
        s"""{"query":"${b.queryId}","batch":${b.batchId},"start_ms":${b.startMs},""" +
          s""""input_rows":${b.inputRows},"duration_ms":{""" +
          b.durations.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString(",") + "}}")
    java.nio.file.Files.write(path, lines.asJava)
    ()
  }
}

object Trace {
  val Prop = "perfbench.span"

  final case class Layer(spans: Int, wallMs: Long, jobs: Int, busyMs: Long,
      shuffleBytes: Long, spillBytes: Long, tasksFailed: Long) {
    def gapMs: Long = wallMs - busyMs
  }

  /** Total length of the union of `[start, end]` intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
