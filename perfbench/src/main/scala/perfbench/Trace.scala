package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call the benchmark made into a layer (or one Spark job,
  * layer `spark`). Times are `System.nanoTime` values. */
final case class Span(id: Long, parent: Long, req: Long, layer: String,
    name: String, start: Long, end: Long)

/** In-memory span recorder for the traced run. Every span wraps one
  * call the benchmark itself makes into a layer's public function;
  * nothing inside the program is instrumented. With tracing off,
  * [[span]] is a plain call. */
object Trace {
  /** The local property a traced thread carries so the Spark listener
    * can hang the jobs it submits under the span that caused them. */
  val SpanProp = "perfbench.span"

  @volatile var on = false
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  // (span id, request id) of the open spans on this thread, innermost first
  private val open = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  @volatile private var spark: SparkSession = null

  def newRequestId(): Long = ids.incrementAndGet()

  private def setProp(v: String): Unit =
    if (spark != null) spark.sparkContext.setLocalProperty(SpanProp, v)

  /** Time `body` as a span of `layer`. `req` names the request; 0 keeps
    * the enclosing span's request. */
  def span[T](layer: String, name: String, req: Long = 0L)(body: => T): T =
    if (!on) body
    else {
      val stack = open.get()
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      val r = if (req != 0L) req else stack.headOption.map(_._2).getOrElse(0L)
      val id = ids.incrementAndGet()
      open.set((id, r) :: stack)
      setProp(id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, r, layer, name, t0, System.nanoTime()))
        open.set(stack)
        setProp(stack.headOption.map(_._1.toString).orNull)
      }
    }

  /** Re-open `parentId`/`req` as the context of another thread (a queue
    * worker running a closure submitted from a traced span). */
  def adopt[T](parentId: Long, req: Long)(body: => T): T =
    if (!on) body
    else {
      val saved = open.get()
      open.set(List((parentId, req)))
      setProp(parentId.toString)
      try body
      finally { open.set(saved); setProp(saved.headOption.map(_._1.toString).orNull) }
    }

  /** (innermost open span id, its request) on this thread. */
  def current: (Long, Long) = open.get().headOption.getOrElse((0L, 0L))

  def spans: Seq[Span] = done.asScala.toSeq

  // ---- Spark side: registered in the traced run only ----------------

  final case class Job(id: Int, start: Long, var end: Long, span: Long,
      stageIds: Seq[Int])
  final case class StageStat(tasks: Int, shuffleBytes: Long, outBytes: Long)

  final class Listener extends SparkListener {
    // listener events carry wall-clock millis; map them onto nanoTime
    private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    private def ns(ms: Long): Long = ms * 1000000L + offsetNs
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageStat]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .flatMap(_.toLongOption).getOrElse(0L)
      jobs.put(e.jobId, Job(e.jobId, ns(e.time), 0L, sp, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = ns(e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val shuffle = if (m == null) 0L
        else m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      val out = if (m == null) 0L else m.outputMetrics.bytesWritten
      stages.put(i.stageId, StageStat(i.numTasks, shuffle, out))
    }
  }

  final class PlanListener extends QueryExecutionListener {
    val planNs = new AtomicLong(0)
    val actions = new AtomicLong(0)
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      planNs.addAndGet(phases.map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).sum)
      actions.incrementAndGet()
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Turn tracing on for `s`; returns the two listeners to read and
    * remove at the end of the traced window. */
  def start(s: SparkSession): (Listener, PlanListener) = {
    spark = s
    val l = new Listener
    val p = new PlanListener
    s.sparkContext.addSparkListener(l)
    s.listenerManager.register(p)
    on = true
    (l, p)
  }

  def stop(s: SparkSession, l: Listener, p: PlanListener): Unit = {
    on = false
    // let the asynchronous listener bus deliver the window's last events
    val deadline = System.nanoTime() + 5000000000L
    while (l.jobs.values.asScala.exists(_.end == 0L) && System.nanoTime() < deadline)
      Thread.sleep(10)
    s.sparkContext.removeSparkListener(l)
    s.listenerManager.unregister(p)
    setProp(null)
    spark = null
  }

  // ---- analysis -------------------------------------------------------

  /** Length of the union of `[a, b)` intervals. */
  def unionNs(iv: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.toSeq.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** The spans plus the Spark jobs hung under them. A job goes under
    * the span named by its thread's local property when that span was
    * open at the job's start; otherwise (jobs submitted from helper
    * pools, whose threads carry stale properties) under the innermost
    * span open at that instant, provided all open spans then belong to
    * one request. Jobs matching neither stay unattributed (parent 0). */
  def withJobs(spans: Seq[Span], l: Listener): (Seq[Span], Map[Long, Job]) = {
    val byId = spans.map(s => s.id -> s).toMap
    val sorted = spans.sortBy(_.start)
    val jobSpans = l.jobs.values.asScala.toSeq.filter(_.end > 0L).map { j =>
      val viaProp = byId.get(j.span).filter(s => s.start <= j.start && j.start <= s.end)
      val parent = viaProp.orElse {
        val openAt = sorted.takeWhile(_.start <= j.start).filter(_.end >= j.start)
        if (openAt.nonEmpty && openAt.map(_.req).distinct.size == 1)
          Some(openAt.maxBy(_.start))
        else None
      }
      val id = -1L - j.id
      (Span(id, parent.map(_.id).getOrElse(0L), parent.map(_.req).getOrElse(0L),
        "spark", "job", j.start, j.end), id -> j)
    }
    (spans ++ jobSpans.map(_._1), jobSpans.map(_._2).toMap)
  }

  /** Self time per layer: each span's duration minus the union of its
    * children's intervals (child spans and attributed Spark jobs).
    * Spark's own self time is the union of its jobs per parent span, so
    * concurrent jobs under one span count once. */
  def selfTimeMs(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    all.filter(_.layer != "spark").foreach { s =>
      val ch = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter(iv => iv._2 > iv._1)
      out(s.layer) += (s.end - s.start - unionNs(ch)) / 1e6
    }
    all.filter(_.layer == "spark").groupBy(_.parent).foreach { case (_, js) =>
      out("spark") += unionNs(js.map(j => (j.start, j.end))) / 1e6
    }
    out.toMap
  }

  /** All spans as JSON lines: one object per span. */
  def writeSpans(file: java.io.File, all: Seq[Span], t0: Long): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      w.println(f"""{"id":${s.id},"parent":${s.parent},"req":${s.req},""" +
        f""""layer":"${s.layer}","name":"${s.name}",""" +
        f""""start_ms":${(s.start - t0) / 1e6}%.3f,"end_ms":${(s.end - t0) / 1e6}%.3f}""")
    } finally w.close()
  }
}
