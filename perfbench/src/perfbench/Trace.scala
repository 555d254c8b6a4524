package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into one layer. Times are epoch nanoseconds so that they
  * line up with the millisecond event times Spark reports for jobs and
  * planning phases. `op` is the id of the root span of the operation. */
final case class Span(id: Long, name: String, op: Long, parent: Long, start: Long, end: Long)

/** One Spark job and the task work of its stages, attributed to the
  * span that was open on the thread that submitted it. */
final class JobRec(val jobId: Int, val owner: Long, val start: Long) {
  @volatile var end: Long = start
  var stages = 0
  var tasks = 0
  var taskNs = 0L
  var gcNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

/** Spans recorded from the benchmark's own code around each call into a
  * layer, plus a listener that attributes Spark jobs, stages, tasks, GC,
  * shuffle and spill to the open span (through a thread-local job
  * property), and planning phases to the span that contains them.
  * Disabled, every method runs its body and records nothing. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)

  private val ids = new AtomicLong(1)
  val spans = ArrayBuffer.empty[Span]
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val plans = ArrayBuffer.empty[(Long, Long)]
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  /** Micro-batch id → the span of the benchmark's batch call. Streaming
    * jobs run on the stream's own thread, so they are matched through
    * the batch id Spark puts in their properties. */
  private val batchOwner = new ConcurrentHashMap[String, java.lang.Long]()
  private var stack: List[(Long, Long)] = Nil // (span, op), main thread only

  def currentSpan: Long = stack.headOption.map(_._1).getOrElse(0L)

  /** Open the root span of one operation. */
  def op[T](name: String)(body: => T): T = open(name, root = true)(body)

  /** Open a child span of the current one. */
  def span[T](name: String)(body: => T): T = open(name, root = false)(body)

  def bindBatch(batchId: Long): Unit =
    if (enabled) batchOwner.put(batchId.toString, currentSpan)

  private def open[T](name: String, root: Boolean)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.getAndIncrement()
      val parent = if (root) 0L else currentSpan
      val op = if (root) id else stack.headOption.map(_._2).getOrElse(id)
      val prevProp = sc.getLocalProperty(SpanProp)
      stack = (id, op) :: stack
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = now()
      try body
      finally {
        val t1 = now()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, prevProp)
        spans.synchronized { spans += Span(id, name, op, parent, t0, t1) }
      }
    }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val owner = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong)
        .orElse(props.flatMap(p => Option(p.getProperty(BatchProp)))
          .flatMap(b => Option(batchOwner.get(b))).map(_.longValue))
        .getOrElse(0L)
      val rec = new JobRec(e.jobId, owner, e.time * 1000000L)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.put(s, rec))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time * 1000000L)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(r => r.synchronized { r.stages += 1 })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { r =>
        r.synchronized {
          r.tasks += 1
          Option(e.taskMetrics).foreach { m =>
            r.taskNs += m.executorRunTime * 1000000L
            r.gcNs += m.jvmGCTime * 1000000L
            r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  /** Analysis, optimization and physical planning of every executed
    * query, as reported by Spark's own planning tracker. */
  val planListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val ivs = Seq("analysis", "optimization", "planning").flatMap(ph.get)
        .map(p => (p.startTimeMs * 1000000L, p.endTimeMs * 1000000L))
        .filter { case (a, b) => b > a }
      plans.synchronized { plans ++= ivs }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.jobId)
}

object Tracer {
  val SpanProp = "perfbench.span"
  /** The property Structured Streaming sets on every job of a micro-batch. */
  val BatchProp = "streaming.sql.batchId"
}

/** Time decomposition of the recorded spans. Every instant of an
  * operation is assigned to exactly one layer: the innermost benchmark
  * span that covers it, unless a Spark job of that span runs then
  * (`exec`) or a planning phase does (`plan`). So the layer self times
  * of one operation sum to its wall time, and what is left to the root
  * span is time spent in the benchmark's own loop. */
object SelfTime {
  type Iv = (Long, Long)

  def merge(ivs: Seq[Iv]): List[Iv] =
    ivs.filter { case (a, b) => b > a }.sortBy(_._1).foldLeft(List.empty[Iv]) {
      case ((pa, pb) :: rest, (a, b)) if a <= pb => (pa, math.max(pb, b)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  def length(ivs: Seq[Iv]): Long = ivs.map { case (a, b) => b - a }.sum

  def clip(ivs: Seq[Iv], lo: Long, hi: Long): List[Iv] =
    merge(ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) })

  /** `a` minus `b`, both merged. */
  def minus(a: List[Iv], b: List[Iv]): List[Iv] = a.flatMap { case (s, e) =>
    var cur = List((s, e))
    b.foreach { case (bs, be) =>
      cur = cur.flatMap { case (cs, ce) =>
        if (be <= cs || bs >= ce) List((cs, ce))
        else List((cs, bs), (be, ce)).filter { case (x, y) => y > x }
      }
    }
    cur
  }

  final case class Decomp(
      layerSelfNs: Map[String, Long],
      opWallNs: Map[Long, Long],
      opBenchNs: Map[Long, Long],
      opJobNs: Map[Long, Long])

  def decompose(t: Tracer): Decomp = {
    val spans = t.spans.toSeq
    val children = spans.groupBy(_.parent)
    val jobsBy = t.allJobs.groupBy(_.owner)
    // a planning phase belongs to the innermost span that contains its start
    val plansBy: Map[Long, Seq[Iv]] = t.plans.toSeq.flatMap { case iv @ (a, _) =>
      spans.filter(s => s.start <= a && a < s.end).sortBy(s => -s.start).headOption
        .map(s => s.id -> iv)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val self = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val bench = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val jobNs = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    spans.foreach { s =>
      val whole = List((s.start, s.end))
      val kids = clip(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)
      val free = minus(whole, kids)
      val jobIvs = clip(jobsBy.getOrElse(s.id, Nil).map(j => (j.start, j.end)), s.start, s.end)
      val execIvs = minus(jobIvs, kids)
      val planIvs = minus(minus(clip(plansBy.getOrElse(s.id, Nil), s.start, s.end), kids), execIvs)
      val execNs = length(execIvs)
      val planNs = length(planIvs)
      val own = length(free) - execNs - planNs
      self("exec") += execNs
      self("plan") += planNs
      jobNs(s.op) += execNs
      if (s.parent == 0L) bench(s.op) += own else self(s.name) += own
    }
    val roots = spans.filter(_.parent == 0L)
    Decomp(self.toMap, roots.map(r => r.id -> (r.end - r.start)).toMap, bench.toMap, jobNs.toMap)
  }
}
