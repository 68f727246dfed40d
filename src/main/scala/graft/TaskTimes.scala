package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Per-stage task durations and stage labels of one session, recorded by
  * a SparkListener: the straggler evidence behind ScaleBench's
  * worst_stage readout and StageAudit's per-stage table. Call [[clear]]
  * before a query and [[drain]] after it. */
final class TaskTimes private (spark: SparkSession) {
  private val tasks = new ConcurrentLinkedQueue[(Int, Long)]()
  // stageId → label, so a straggler readout can NAME the stage that
  // serializes instead of leaving a bare ratio to chase
  private val labels = new ConcurrentHashMap[Int, String]()

  spark.sparkContext.addSparkListener(new SparkListener {
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

  /** (stageId, duration ms) of every successful task since [[clear]].
    * The listener bus is async with no public drain — poll until the task
    * count stabilizes (50 ms quiet period, 5 s cap). */
  def drain(): Array[(Int, Long)] = {
    var size = -1
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    while (size != tasks.size && System.nanoTime() < deadline) {
      size = tasks.size
      Thread.sleep(50)
    }
    tasks.toArray(Array.empty[(Int, Long)])
  }

  def label(stageId: Int): String = labels.getOrDefault(stageId, "?")
}

object TaskTimes {
  private val Harnesses = Seq("graft.ScaleBench", "graft.StageAudit")

  def install(spark: SparkSession): TaskTimes = new TaskTimes(spark)
}
