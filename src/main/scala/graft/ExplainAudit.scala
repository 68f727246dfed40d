package graft

/** Plan auditor: prints the formatted physical plan of the named gates (of
  * every gate, in name order, when none is named) and flags the properties
  * that matter at 100 TB — parquet filter/column pushdown, broadcast vs
  * sort-merge joins, whole-stage codegen coverage. `tools/plan_diff.sh`
  * compares its output across commits.
  * Run: sbt 'runMain graft.ExplainAudit [queryName ...]'
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    // AQE off: it hides codegen ids before execution
    val spark = Harness.session("4", Map("spark.sql.adaptive.enabled" -> "false"))
    Harness.select(args.toSeq).foreach { case (name, fn) =>
      println(s"\n========== $name ==========")
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(plan)
      // quick property flags
      val hasPushedFilters = plan.contains("PushedFilters: [") &&
        !plan.matches("(?s).*PushedFilters: \\[\\].*")
      println(s"--- flags: broadcastJoin=${plan.contains("BroadcastHashJoin")}" +
        s" sortMergeJoin=${plan.contains("SortMergeJoin")}" +
        s" wholeStageCodegen=${plan.contains("codegen id")}" +
        s" pushedFilters=$hasPushedFilters")
    }
    spark.stop()
  }
}
