package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. `parent` is the span that caused it (0 for a
  * root) and `req` the client request it belongs to (0 for none).
  * Times are `System.nanoTime`.
  */
final case class Span(id: Long, parent: Long, req: Long, name: String,
                      start: Long, end: Long)

final case class JobEvent(job: Int, span: Long, stages: Seq[Int], start: Long,
                          var end: Long = -1L)

final case class StageEvent(stage: Int, tasks: Int, runMs: Long, gcMs: Long,
                            inputBytes: Long, shuffleWriteBytes: Long,
                            spillBytes: Long, callSite: String)

final case class ProgressEvent(at: Long, batchId: Long, startVersion: Long,
                               endVersion: Long, rows: Long,
                               durations: Map[String, Long])

/** In-memory trace of one run. Spans are recorded at the layer
  * boundaries the benchmark can reach from outside the program: client
  * requests (facade), `Storage` calls (storage and everything below it)
  * and board queries (ops); Spark jobs and stages, and streaming progress
  * events, arrive through Spark's public listener interfaces. Nothing is
  * written until the run ends.
  *
  * `on` gates recording so one process can measure an untraced phase
  * and a traced phase of the same workload.
  */
final class Trace(sc: SparkContext) {
  @volatile var on = false
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentHashMap[Int, JobEvent]()
  val stages = new ConcurrentLinkedQueue[StageEvent]()
  val progress = new ConcurrentLinkedQueue[ProgressEvent]()
  val counts = new ConcurrentLinkedQueue[(String, Long)]()

  // connection -> id of its in-flight request span
  private val inflight = new ConcurrentHashMap[Int, java.lang.Long]()
  // broker thread -> connection it serves (one thread per connection)
  private val threadConn = new ConcurrentHashMap[java.lang.Long, java.lang.Integer]()

  def nextId(): Long = ids.incrementAndGet()

  /** A count observed at a layer boundary, for per-call ratios. */
  def count(name: String, n: Long): Unit = if (on) { counts.add(name -> n); () }

  /** A client request on connection `conn`. */
  def request[T](conn: Int, name: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId()
      inflight.put(conn, id)
      val t0 = System.nanoTime()
      try f finally {
        inflight.remove(conn)
        spans.add(Span(id, 0L, id, s"facade.$name", t0, System.nanoTime()))
      }
    }

  /** The request a storage call on the current thread serves. A broker
    * thread serves one connection, and its storage calls happen while
    * that connection's request is in flight; so the first call made while
    * exactly one request is in flight binds the thread to it. Calls made
    * before that are left unattributed. Harness threads and the broker's
    * maintenance thread never bind.
    */
  private def owner(): Long = {
    val t = Thread.currentThread()
    val known = threadConn.get(t.getId)
    if (known != null) Option(inflight.get(known)).map(_.longValue).getOrElse(0L)
    else if (t.getName.startsWith("perfbench") || t.getName == "main" ||
             t.getName.contains("maintenance")) 0L
    else inflight.entrySet().asScala.toList match {
      case Seq(e) => threadConn.put(t.getId, e.getKey: Int); e.getValue.longValue
      case _ => 0L
    }
  }

  /** A `Storage` call. Spark jobs launched by this thread from now until
    * its next storage call are attributed to this span: `fetch` returns
    * a lazy DataFrame whose jobs run when the broker collects it.
    */
  def storage[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId()
      val req = owner()
      sc.setLocalProperty(Trace.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try f finally spans.add(Span(id, req, req, s"storage.$name", t0, System.nanoTime()))
    }

  /** A span `id` to which every Spark job the block launches is attributed. */
  def attributed[T](name: String, id: Long)(f: => T): T =
    if (!on) f
    else {
      sc.setLocalProperty(Trace.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try f finally {
        sc.setLocalProperty(Trace.SpanKey, null)
        spans.add(Span(id, 0L, 0L, name, t0, System.nanoTime()))
      }
    }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      jobs.put(e.jobId, JobEvent(e.jobId, span.map(_.toLong).getOrElse(0L),
        e.stageIds, System.nanoTime()))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) j.end = System.nanoTime()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages.add(StageEvent(i.stageId, i.numTasks,
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.jvmGCTime,
        if (m == null) 0L else m.inputMetrics.bytesRead,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
        i.details))
    }
  }

  /** Progress events are kept in every run: the view-lag metric is read
    * from them, traced or not.
    */
  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def version(s: String): Long =
        if (s == null || s == "null") -1L else s.trim.toLong
      p.sources.headOption.foreach { s =>
        progress.add(ProgressEvent(System.nanoTime(), p.batchId,
          version(s.startOffset), version(s.endOffset), p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }
    }
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  /** The program module of a stage: the package below `graft.` of the
    * first program frame in its call site ("entry" for the top-level
    * query objects, "spark" when no program frame is there).
    */
  def module(callSite: String): String =
    callSite.linesIterator.map(_.trim).find(_.contains("graft.")) match {
      case Some(l) =>
        val parts = l.substring(l.indexOf("graft.") + 6).split("\\.")
        if (parts.length > 2 && parts(0).forall(_.isLower)) parts(0) else "entry"
      case None => "spark"
    }
}
