package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval. Bench spans come from this package's own calls into a
  * layer; `catalyst.*` spans from QueryExecutionListener trackers and
  * `spark.job` spans from SparkListener job events. `parent` is -1 at an
  * operation's root. Times are epoch microseconds. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/**
 * Tracing kept in memory and written out when the run ends. When disabled,
 * `span` only runs its body and no listener is registered, so untraced runs
 * measure the program alone.
 *
 * Jobs are attributed to the innermost open bench span through a thread
 * local property; catalyst phases, which carry only times, to the innermost
 * bench span that contains them.
 */
final class Tracer extends AdaptiveSparkPlanHelper {
  @volatile var enabled = false
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var opId = -1
  private var spark: SparkSession = _

  final case class Job(id: Int, span: Int, startMs: Long, var endMs: Long)
  final case class Task(stage: Int, attempt: Int, runMs: Long, gcMs: Long, shuffleWrite: Long,
                        shuffleRead: Long, spill: Long)
  final case class Qe(phases: Map[String, (Long, Long)], planNodes: Int, fallbacks: Int)

  val jobs = new ConcurrentLinkedQueue[Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val qes = new ConcurrentLinkedQueue[Qe]()
  private val stageCount = new java.util.concurrent.atomic.AtomicLong

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).flatMap(pr => Option(pr.getProperty("perfbench.span")))
      jobs.add(Job(e.jobId, p.map(_.toInt).getOrElse(-1), e.time, -1L))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.asScala.find(_.id == e.jobId).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stageCount.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(e.stageId, e.stageAttemptId, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled))
    }
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val nodes = try collectWithSubqueries(qe.executedPlan) { case p => p } catch {
        case _: Throwable => Nil
      }
      val fallbacks = nodes.map(_.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum).sum
      qes.add(Qe(qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) },
                 nodes.size, fallbacks))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def attach(s: SparkSession): Unit = { spark = s; enabled = false }

  def enable(): Unit = if (!enabled) {
    enabled = true
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qel)
  }

  def disable(): Unit = if (enabled) {
    flush()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
    enabled = false
  }

  /** Wait until every posted listener event has been delivered. */
  def flush(): Unit = org.apache.spark.PerfbenchBus.flush(spark.sparkContext)

  def stagesCompleted: Long = stageCount.get()

  /** Start a new operation root span. */
  def op[T](name: String)(body: => T): T = {
    opId += 1
    span(name, root = true)(body)
  }

  def span[T](name: String, root: Boolean = false)(body: => T): T = {
    if (!enabled) return body
    val id = nextId; nextId += 1
    val parent = if (root) -1 else stack.headOption.getOrElse(-1)
    val sc = spark.sparkContext
    stack = id :: stack
    sc.setLocalProperty("perfbench.span", id.toString)
    val t0 = nowUs
    try body
    finally {
      val t1 = nowUs
      stack = stack.tail
      sc.setLocalProperty("perfbench.span", stack.headOption.map(_.toString).orNull)
      spans += Span(id, parent, opId, name, t0, t1)
    }
  }

  /** Bench spans plus job and catalyst-phase spans placed under them. */
  def allSpans(): Seq[Span] = {
    val own = spans.toIndexedSeq
    val byId = own.map(s => s.id -> s).toMap
    def innermost(startUs: Long, endUs: Long): Option[Span] =
      own.filter(s => s.startUs <= startUs + 1000 && s.endUs + 1000 >= endUs)
        .sortBy(_.durUs).headOption
    var id = nextId
    val extra = mutable.ArrayBuffer[Span]()
    jobs.asScala.filter(_.endMs >= 0).foreach { j =>
      val s0 = j.startMs * 1000; val s1 = j.endMs * 1000
      byId.get(j.span).orElse(innermost(s0, s1)).foreach { p =>
        extra += Span(id, p.id, p.op, "spark.job", math.max(s0, p.startUs), math.min(s1, p.endUs)); id += 1
      }
    }
    qes.asScala.foreach { q =>
      q.phases.foreach { case (phase, (a, b)) =>
        innermost(a * 1000, b * 1000).foreach { p =>
          extra += Span(id, p.id, p.op, s"catalyst.$phase",
                        math.max(a * 1000, p.startUs), math.min(b * 1000, p.endUs)); id += 1
        }
      }
    }
    own ++ extra
  }
}
