package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-STAGE straggler auditor — the drill-down behind ScaleBench's
  * single worst_stage readout: runs one gate query against any data dir
  * and prints EVERY stage's task distribution (callsite, RDD scopes,
  * task count, max/median/total ms), slowest-max first. This is how a
  * "task max/median = 110" flag gets a name attached (the round-10
  * q_quality_pipeline question).
  *
  * Run: sbt 'runMain graft.StageAudit <dataDir> <query> [query …]'
  */
object StageAudit {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.StageAudit <dataDir> <query> [query ...]")
    val dir = args(0)
    val names = args.drop(1).toSeq
    names.foreach(q => require(SparkEntry.queries.contains(q),
      s"unknown query: $q"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val taskTimes = TaskTimes.install(spark)

    names.foreach { name =>
      taskTimes.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      val all = taskTimes.drain()
      println(f"== $name: ${sec}%.2f s, ${all.length} tasks, " +
        s"${all.map(_._1).distinct.length} stages")
      all.groupBy(_._1).toSeq
        .map { case (sid, ts) =>
          val d = ts.map(_._2).sorted
          (sid, d.last, d(d.length / 2), d.sum, d.length)
        }
        .sortBy(-_._2)
        .foreach { case (sid, mx, med, tot, n) =>
          println(f"  stage $sid%4d: $n%4d tasks  max $mx%6d ms  " +
            f"median $med%6d ms  total $tot%7d ms  " +
            s"ratio ${if (med > 0) f"${mx.toDouble / med}%.1f" else "inf"}" +
            s"  ${taskTimes.label(sid)}")
        }
    }
    spark.stop()
  }
}
