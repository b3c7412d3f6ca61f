package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One timed call into a layer. `req` is the request it belongs to;
  * `parent` the span that caused it (0 for a request's root). `attrs`
  * carries per-call counts (rows returned, bytes) the caller knows.
  */
final case class Span(id: Int, parent: Int, req: Long, name: String,
    startNs: Long, endNs: Long, thread: String,
    attrs: Map[String, Double]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans of the client thread nest through a
  * thread-local stack; spans opened on other threads (the federation's
  * fan-out workers) hang off the client's open top-level layer span.
  * Tagged spans put a Spark job tag on the calling thread for their
  * duration, so [[JobCounts]] can attribute every Spark job they start.
  */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  @volatile private var req = 0L
  @volatile private var outer = 0
  private val ids = new AtomicInteger(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def spans: Seq[Span] = done.asScala.toSeq
  def clear(): Unit = done.clear()
  def tag(spanId: Int): String = s"perfbench-span-$spanId"

  /** Run `f` as the root span of request `r`. */
  def request[T](r: Long, op: String)(f: => T): T = {
    req = r
    span(s"request.$op")(f)
  }

  def span[T](name: String, tagged: Boolean = false)(f: => T): T =
    spanWith(name, tagged)(f)(_ => Map.empty)

  /** A span whose `attrs` are read off the call's result. */
  def spanWith[T](name: String, tagged: Boolean = false)(f: => T)(
      attrs: T => Map[String, Double]): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val st = stack.get
      val parent = st.headOption.getOrElse(outer)
      stack.set(id :: st)
      if (st.size == 1) outer = id
      if (tagged) sc.addJobTag(tag(id))
      val t0 = System.nanoTime()
      var out: Option[T] = None
      try { val v = f; out = Some(v); v }
      finally {
        val t1 = System.nanoTime()
        if (tagged) sc.removeJobTag(tag(id))
        stack.set(st)
        if (st.size == 1) outer = 0
        done.add(Span(id, parent, req, name, t0, t1,
          Thread.currentThread.getName,
          out.map(attrs).getOrElse(Map("failed" -> 1.0))))
      }
    }

  /** Spans as JSON lines: name, start, end, parent, request id. */
  def write(path: java.nio.file.Path): Unit = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods.{compact, render}
    val lines = spans.sortBy(_.id).map { s =>
      compact(render(("id" -> s.id) ~ ("parent" -> s.parent) ~
        ("req" -> s.req) ~ ("name" -> s.name) ~ ("start_ns" -> s.startNs) ~
        ("end_ns" -> s.endNs) ~ ("thread" -> s.thread) ~
        ("attrs" -> s.attrs)))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** SparkListener counting jobs, tasks, executor time and rows read by
  * the leaf scans of each job's SQL execution, keyed by the job tags of
  * the thread that started the job.
  */
final class JobCounts extends SparkListener {
  final class Job(val tags: Set[String], val execId: Option[Long]) {
    val tasks = new AtomicInteger(0)
    val executorMs = new AtomicLong(0)
    @volatile var startMs = 0L
    @volatile var endMs = 0L
  }
  val jobs = TrieMap.empty[Int, Job]
  private val stageJob = TrieMap.empty[Int, Int]
  private val scanAcc = TrieMap.empty[Long, Long] // accumulator -> execution
  private val execRows = TrieMap.empty[Long, AtomicLong]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption)
    val j = new Job(tags, exec)
    j.startMs = e.time
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks.incrementAndGet()
      if (e.taskMetrics != null) j.executorMs.addAndGet(e.taskMetrics.executorRunTime)
    }
    if (e.taskInfo != null) e.taskInfo.accumulables.foreach { a =>
      scanAcc.get(a.id).foreach { exec =>
        a.update.foreach {
          case n: java.lang.Long =>
            execRows.getOrElseUpdate(exec, new AtomicLong(0)).addAndGet(n)
          case _ =>
        }
      }
    }
  }

  /** Registers the row-count metric of every scan: a leaf, or a cached
    * relation's `InMemoryTableScan` (whose children are the cached plan,
    * not input of this execution).
    */
  private def scans(exec: Long, p: SparkPlanInfo): Unit =
    if (p.children.isEmpty || p.nodeName == "InMemoryTableScan")
      p.metrics.find(_.name == "number of output rows")
        .foreach(m => scanAcc.put(m.accumulatorId, exec))
    else p.children.foreach(scans(exec, _))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => scans(s.executionId, s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => scans(u.executionId, u.sparkPlanInfo)
    case _ =>
  }

  /** Jobs started under a tagged span. */
  def jobsOf(tracer: Tracer, spanId: Int): Seq[Job] = {
    val t = tracer.tag(spanId)
    jobs.values.filter(_.tags.contains(t)).toSeq
  }

  /** Rows read by the leaf scans of the given jobs' SQL executions. */
  def rowsRead(js: Seq[Job]): Long =
    js.flatMap(_.execId).distinct
      .map(e => execRows.get(e).map(_.get).getOrElse(0L)).sum
}
