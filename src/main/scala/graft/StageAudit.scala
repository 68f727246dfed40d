package graft

/** Per-STAGE straggler auditor — the drill-down behind ScaleBench's
  * single worst_stage readout: runs gate queries against any data dir
  * and prints EVERY stage's task distribution (callsite, RDD scopes,
  * task count, max/median/total ms), slowest-max first. This is how a
  * "task max/median = 110" flag gets a name attached (the round-10
  * q_quality_pipeline question). A query that throws is reported, the
  * rest still run, and the process exits 1.
  *
  * Run: sbt 'runMain graft.StageAudit <dataDir> <query> [query …]'
  */
object StageAudit {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.StageAudit <dataDir> <query> [query ...]")
    val dir = args(0)
    val selected = Harness.select(args.toSeq.drop(1))
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val taskTimes = TaskTimes.install(spark)
    val failed = selected.filter { case (name, fn) =>
      taskTimes.clear()
      val run = Harness.run(fn(spark, dir))
      val stages = taskTimes.stages()
      run match {
        case Left(e) => println(s"== $name: FAILED: ${e.getMessage}")
        case Right(t) => println(f"== $name: ${t.secs}%.2f s, ${stages.map(_.tasks).sum} tasks, " +
          s"${stages.length} stages")
      }
      stages.foreach { s =>
        println(f"  stage ${s.id}%4d: ${s.tasks}%4d tasks  max ${s.maxMs}%6d ms  " +
          f"median ${s.medianMs}%6d ms  total ${s.totalMs}%7d ms  " +
          s"ratio ${if (s.medianMs > 0) f"${s.maxMs.toDouble / s.medianMs}%.1f" else "inf"}" +
          s"  ${s.label}")
      }
      run.isLeft
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[stageaudit] failed: ${failed.map(_._1).mkString(", ")}")
      sys.exit(1)
    }
  }
}
