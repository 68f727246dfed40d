package perfbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region at a layer boundary. `parent` is -1 at the root;
  * `unit` names the file or gate the span works on. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
    iteration: Int, unit: String) {
  def durNs: Long = endNs - startNs
}

object Spans {
  /** Self time of each span: its duration minus the time covered by its
    * children (the union of their intervals, clipped to the span). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Self time summed per span name. */
  def selfByName(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }

  def toJson(spans: Seq[Span]): String = spans.map { s =>
    Out.json(Out.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "iteration" -> s.iteration,
      "unit" -> s.unit))
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Records spans while enabled; tags the Spark jobs a span starts with
  * the span id (a local property), so task work can be attributed to the
  * layer that caused it. Driver-thread only. */
final class Tracer(sc: () => SparkContext) {
  val SpanProperty = "perfbench.span"
  var enabled = false
  var iteration = 0
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var nextId = 0

  def span[T](name: String, unit: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      sc().setLocalProperty(SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, t0, System.nanoTime(), iteration, unit)
        stack.pop()
        sc().setLocalProperty(SpanProperty, stack.headOption.map(_.toString).orNull)
      }
    }

  def write(p: Path): Unit = Out.write(p, Spans.toJson(spans.toSeq))
}

/** Per-span totals of Spark scheduler events. */
final class ExecStats {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var inputRecords = 0L; var outputRecords = 0L; var waitMs = 0L
  val taskMs = mutable.ArrayBuffer[Long]()

  def add(o: ExecStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill; inputRecords += o.inputRecords
    outputRecords += o.outputRecords; waitMs += o.waitMs; taskMs ++= o.taskMs
  }
}

/** SparkListener counting jobs, stages and task metrics per span (from the
  * job's local properties), and a QueryExecutionListener summing Catalyst
  * phase times and physical plan sizes. Both live outside the program:
  * the harness registers them for the traced phase only. */
final class LayerListener extends SparkListener with QueryExecutionListener {
  @volatile var recording = true
  private val stageSpan = mutable.Map[Int, Int]()
  private val stageSubmit = mutable.Map[Int, Long]()
  val bySpan = mutable.Map[Int, ExecStats]()
  var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
  var planNodes = 0L
  private val cached = mutable.Map[String, Long]()
  private var cachedNow = 0L
  var cachedPeak = 0L

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty("perfbench.span"))).map(_.toInt).getOrElse(-1)
  private def stats(span: Int) = bySpan.getOrElseUpdate(span, new ExecStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (recording) {
      val s = spanOf(e.properties)
      stats(s).jobs += 1
      e.stageIds.foreach(id => stageSpan(id) = s)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (recording) {
      val id = e.stageInfo.stageId
      val s = Option(e.properties).map(p => spanOf(p)).filter(_ >= 0)
        .getOrElse(stageSpan.getOrElse(id, -1))
      stageSpan(id) = s
      stageSubmit(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      stats(s).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (recording && e.taskInfo != null) {
      val st = stats(stageSpan.getOrElse(e.stageId, -1))
      st.tasks += 1
      st.taskMs += e.taskInfo.duration
      stageSubmit.get(e.stageId).foreach(t0 => st.waitMs += math.max(0L, e.taskInfo.launchTime - t0))
      val m = e.taskMetrics
      if (m != null) {
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.inputRecords += m.inputMetrics.recordsRead
        st.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Bytes of cached RDD blocks (the parse's input cache) held at once. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val bytes = b.memSize + b.diskSize
      cachedNow += bytes - cached.getOrElse(b.blockId.name, 0L)
      if (bytes == 0) cached.remove(b.blockId.name) else cached(b.blockId.name) = bytes
      if (recording && cachedNow > cachedPeak) cachedPeak = cachedNow
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      if (recording) {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
        analysisMs += ms("analysis"); optimizationMs += ms("optimization")
        planningMs += ms("planning")
        planNodes += LayerListener.nodes(qe.executedPlan)
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Totals over the recorded spans `ids` selects (default: all recorded
    * work, including jobs no span tagged). */
  def totals(ids: Int => Boolean = _ => true): ExecStats = synchronized {
    val t = new ExecStats
    bySpan.foreach { case (id, s) => if (ids(id)) t.add(s) }
    t
  }
}

object LayerListener {
  /** Physical plan size, looking through adaptive plans and query stages. */
  def nodes(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => 1L + other.children.map(nodes).sum + other.subqueries.map(nodes).sum
  }
}
