package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is 0 for a root span; spans of one request
  * share `req`.
  */
final case class Span(id: Long, parent: Long, req: String, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans are named `<layer>.<call>`; the current
  * span and request live in a thread-local, so concurrent clients never mix.
  * Disabled, it runs the body and records nothing.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, String)] {
    override def initialValue(): (Long, String) = (0L, "")
  }

  def request[T](req: String)(body: => T): T =
    if (!enabled) body
    else {
      val saved = current.get()
      current.set((saved._1, req))
      try span("request")(body) finally current.set(saved)
    }

  /** Records `body` as a child of the current span; outside a request it
    * records nothing.
    */
  def span[T](name: String)(body: => T): T =
    if (!enabled || current.get()._2.isEmpty) body
    else {
      val (parent, req) = current.get()
      val id = ids.incrementAndGet()
      current.set((id, req))
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, req, name, t0, System.nanoTime()))
        current.set((parent, req))
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq

  /** Self time of every span: its duration minus the part of it that its
    * children cover (children of one span run sequentially on its thread).
    */
  def selfMs: Map[Long, Double] = {
    val all = spans
    val childNs = all.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum
    }
    all.map(s => s.id -> ((s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e6)).toMap
  }
}

/** Spark-side counters of one request class, summed over its requests. */
final class SparkAcc {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var waitMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var inputB = 0L
  var outputB = 0L
  var spillB = 0L
  var catalystMs = 0L
  var catalystN = 0L
  /** per stage: task run times (ms), for skew */
  val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
}

/** Attributes Spark jobs, stages, tasks and Catalyst phases to requests via
  * the per-thread job description (`SparkContext.setJobDescription`) the
  * benchmark sets before each call into the engine. Request ids are
  * `<class>:<n>`; counters are kept per class (`q` queries, `b` bulk
  * builds, `w` streaming commits, `c` compactions).
  */
final class SparkTrace extends SparkListener with QueryExecutionListener {
  private val stageClass = mutable.Map[Int, String]()
  private val stageSubmitMs = mutable.Map[Int, Long]()
  private val accs = mutable.Map[String, SparkAcc]()
  private val qeReq = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[QueryExecution, String]())

  private def classOf(req: String): String = req.takeWhile(_ != ':')
  def acc(cls: String): SparkAcc = synchronized(accs.getOrElseUpdate(cls, new SparkAcc))

  /** Ties a query execution to a request, for its Catalyst phase times. */
  def register(qe: QueryExecution, req: String): Unit = qeReq.put(qe, req)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("other:0")
    val cls = classOf(desc)
    acc(cls).jobs += 1
    e.stageIds.foreach(s => stageClass(s) = cls)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageSubmitMs(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    acc(stageClass.getOrElse(id, "other")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageClass.getOrElse(e.stageId, "other"))
    val m = e.taskMetrics
    a.tasks += 1
    stageSubmitMs.get(e.stageId).foreach(s => a.waitMs += math.max(0L, e.taskInfo.launchTime - s))
    if (m != null) {
      a.taskMs += m.executorRunTime
      a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      a.inputB += m.inputMetrics.bytesRead
      a.outputB += m.outputMetrics.bytesWritten
      a.spillB += m.diskBytesSpilled
      a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += m.executorRunTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val req = qeReq.remove(qe)
    if (req != null) {
      val phases = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      synchronized { val a = acc(classOf(req)); a.catalystMs += ms; a.catalystN += 1 }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    qeReq.remove(qe)
}
