package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Per-stage task durations and stage labels of one SparkContext, recorded
  * by one SparkListener: the straggler evidence behind ScaleBench's
  * worst_stage readout and StageAudit's per-stage table. Call [[clear]]
  * before a query and [[stages]] after it. */
final class TaskTimes private (sc: SparkContext) {
  private val tasks = new ConcurrentLinkedQueue[(Int, Long)]()
  // stageId → label, so a straggler readout can NAME the stage that
  // serializes instead of leaving a bare ratio to chase
  private val labels = new ConcurrentHashMap[Int, String]()

  sc.addSparkListener(new SparkListener {
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskInfo != null && t.taskInfo.successful)
        tasks.add((t.stageId, t.taskInfo.duration))
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val info = s.stageInfo
      // AQE submits stages from pool threads whose callsite reads
      // "withThreadLocalCaptured at CompletableFuture"; the RDD operation
      // scopes (Scan/Exchange/WholeStageCodegen…) name what the stage
      // actually runs, and a graft frame in the long-form details names
      // the operator when present
      val site = info.details.linesIterator
        .find(l => l.contains("graft.") && !TaskTimes.Harnesses.exists(l.contains))
        .map(_.trim).getOrElse("")
      val scopes = info.rddInfos.flatMap(_.scope).map(_.name)
        .distinct.take(5).mkString(" | ")
      labels.put(info.stageId,
        Seq(info.name, scopes, site).filter(_.nonEmpty).mkString(" @ "))
    }
  })

  def clear(): Unit = { tasks.clear(); labels.clear() }

  /** Every stage with a successful task since [[clear]], slowest task
    * first: its task count, max, median (the upper middle) and total task
    * ms, and its label. The listener bus is async with no public drain, so
    * this polls until the task count stabilizes (50 ms quiet period, 5 s
    * cap). */
  def stages(): Seq[TaskTimes.Stage] = {
    var size = -1
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    while (size != tasks.size && System.nanoTime() < deadline) {
      size = tasks.size
      Thread.sleep(50)
    }
    tasks.toArray(Array.empty[(Int, Long)]).groupBy(_._1).toSeq
      .map { case (id, ts) =>
        val d = ts.map(_._2).sorted
        TaskTimes.Stage(id, d.length, d.last, d(d.length / 2), d.sum,
          labels.getOrDefault(id, "?"))
      }
      .sortBy(-_.maxMs)
  }
}

object TaskTimes {
  final case class Stage(id: Int, tasks: Int, maxMs: Long, medianMs: Long,
      totalMs: Long, label: String)

  // frames of the harness, not of the operator a stage runs
  private val Harnesses = Seq("graft.Harness", "graft.ScaleBench", "graft.StageAudit")

  private val installed = new java.util.WeakHashMap[SparkContext, TaskTimes]()

  /** The session's recorder: one listener per SparkContext, added by the
    * first call and returned by every later one. */
  def install(spark: SparkSession): TaskTimes = installed.synchronized {
    val sc = spark.sparkContext
    Option(installed.get(sc)).getOrElse {
      val t = new TaskTimes(sc)
      installed.put(sc, t)
      t
    }
  }
}
