package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, lit, raise_error}

/** The harness core every bench main shares: runner, selector and the
  * per-SparkContext task-time listener. */
class HarnessSpec extends SparkSpec {

  test("runner: rows observed in the noop pass equal df.count(), with no job added") {
    // SparkEntry.entry: the q1_agg gate on sf0.001
    val (run, jobs) = jobsIn(Harness.run(SparkEntry.entry(spark)))
    val t = run.fold(e => fail(e), identity)
    assert(t.rows == SparkEntry.entry(spark).count())
    assert(t.rows > 0 && t.secs > 0)
    val (_, plainJobs) = jobsIn(SparkEntry.entry(spark).write.format("noop").mode("overwrite").save())
    assert(jobs == plainJobs)
    val rows = spark.range(0L, 1234L, 1L, 3).toDF().filter(col("id") % 2 === 0)
    assert(Harness.run(rows).map(_.rows) == Right(617L))
  }

  test("runner: a query that throws comes back as its failure, with no time") {
    val atBuild = Harness.run(throw new IllegalStateException("no such table"))
    assert(atBuild.left.map(_.getMessage) == Left("no such table"))
    val atRun = Harness.run(spark.range(3).select(raise_error(lit("boom")).as("x")))
    assert(atRun.isLeft)
    assert(atRun.left.exists(_.getMessage.contains("boom")))
  }

  test("selector: named gates in the order given, once each; all by name; unknown rejected") {
    assert(Harness.select(Seq("q2_topk", "q1_agg", "q2_topk")).map(_._1) == Seq("q2_topk", "q1_agg"))
    val all = Harness.select(Nil).map(_._1)
    assert(all == SparkEntry.queries.keys.toSeq.sorted)
    val e = intercept[IllegalArgumentException](Harness.select(Seq("q1_agg", "no_such_gate")))
    assert(e.getMessage.contains("unknown queries: no_such_gate"))
  }

  test("TaskTimes: a second install on the same session registers no second listener") {
    val sc = spark.sparkContext
    def listeners(): Int = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("listeners").invoke(bus).asInstanceOf[java.util.List[_]]
        .asScala.count(_.getClass.getName.startsWith("graft.TaskTimes"))
    }
    val first = TaskTimes.install(spark)
    assert(listeners() == 1)
    assert(TaskTimes.install(spark) eq first)
    assert(TaskTimes.install(spark.newSession()) eq first)
    assert(listeners() == 1)
  }

  test("TaskTimes.stages: task count, max, median and total of a known job") {
    val times = TaskTimes.install(spark)
    times.clear()
    // four tasks of ~100, 200, 300 and 400 ms in one stage
    spark.sparkContext.parallelize(1 to 4, 4).foreach(i => Thread.sleep(100L * i))
    val stage = times.stages().find(_.label.startsWith("foreach at HarnessSpec"))
      .getOrElse(fail(times.stages().toString))
    assert(stage.tasks == 4)
    assert(stage.maxMs >= 400 && stage.maxMs < 4000, stage)
    assert(stage.medianMs >= 300 && stage.medianMs <= stage.maxMs, stage)
    assert(stage.totalMs >= 1000, stage)
  }
}
