package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-15 optimization primitive: Pipeline.cpuRebalance — the
  * scale-adaptive scan rebalance ahead of CPU-dense projections.
  * Contract under test:
  *  - results are row-identical (it is only an exchange);
  *  - it FIRES on a small scan (estimated natural splits below the
  *    session width) and raises the partition count to >= session width;
  *  - it SKIPS when the caller already placed an explicit repartition
  *    (no double exchange);
  *  - it SKIPS when no leaf stats exist (post-checkpoint frame) — the
  *    conservative at-scale choice.
  */
class CpuRebalanceSpec extends SparkSpec {
  private def smallScan() = {
    val dir = graft.queries.TempDirs.create("cpur").toString
    spark.range(0, 1000).select(col("id"), (col("id") % 7).as("k"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("cpuRebalance: row-identical, widens a one-split scan to session width") {
    val df = smallScan()
    assert(df.rdd.getNumPartitions < Pipeline.sessionWidth(spark))
    val out = Pipeline.cpuRebalance(df, col("id"))
    assert(out.rdd.getNumPartitions >= Pipeline.sessionWidth(spark))
    assert(out.count() === 1000L)
    val a = df.select(sum(col("id")), sum(col("k"))).head
    val b = out.select(sum(col("id")), sum(col("k"))).head
    assert(a === b)
  }

  test("cpuRebalance: skips when an explicit repartition is already below") {
    val df = smallScan().repartition(3, col("k"))
    val out = Pipeline.cpuRebalance(df, col("id"))
    // the caller's layout is preserved — no second exchange on top
    assert(out.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation => r
    }.size === 1)
    assert(out.rdd.getNumPartitions === 3)
  }

  test("cpuRebalance: coalesce below does NOT suppress the rebalance") {
    // coalesce(1) is a RepartitionOperation with shuffle=false — the
    // exact one-task pathology this primitive exists to fix (round-15
    // advice: the old whole-plan exists() silently skipped here)
    val df = smallScan().coalesce(1)
    val out = Pipeline.cpuRebalance(df, col("id"))
    assert(out.rdd.getNumPartitions >= Pipeline.sessionWidth(spark))
    assert(out.count() === 1000L)
  }

  test("cpuRebalance: a repartition inside one join branch does not suppress") {
    // only the root-side unary spine counts as "caller owns layout" —
    // an exchange buried in a join branch says nothing about the join
    // output's parallelism
    val left = smallScan()
    val right = smallScan().repartition(3, col("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
    val joined = left.join(right, "k")
    val out = Pipeline.cpuRebalance(joined, col("id"))
    // the rebalance fired: a shuffle repartition sits at the plan root
    assert(out.queryExecution.optimizedPlan match {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation =>
        r.shuffle
      case _ => false
    })
    assert(out.count() === 1000L)
  }

  test("cpuRebalance: checkpointed frame stays row-identical (stats come from blocks)") {
    // a localCheckpoint carries materialized-size stats, so the
    // rebalance may legitimately fire on it — the contract is result
    // identity plus never LOWERING parallelism
    val df = smallScan().localCheckpoint()
    val out = Pipeline.cpuRebalance(df, col("id"))
    assert(out.rdd.getNumPartitions >= df.rdd.getNumPartitions)
    assert(out.count() === 1000L)
    assert(out.select(sum(col("id"))).head === df.select(sum(col("id"))).head)
  }

  test("cpuWidthLeaf: floors at session width, scales with leaf bytes") {
    val df = smallScan()
    val w = Pipeline.cpuWidthLeaf(df)
    assert(w >= Pipeline.sessionWidth(spark))
    // tiny input: the floor, not the 8x cap
    assert(w === Pipeline.sessionWidth(spark))
    // a checkpoint leaf DOES carry stats (block size) — tiny here, so
    // still the floor (not the est<=0 branch; that's tested below)
    assert(Pipeline.cpuWidthLeaf(df.localCheckpoint()) ===
      Pipeline.sessionWidth(spark))
    // genuinely stats-less (est <= 0): an empty LocalRelation sums to 0
    // leaf bytes — session width, never the wide cap
    assert(Pipeline.cpuWidthLeaf(spark.emptyDataFrame) ===
      Pipeline.sessionWidth(spark))
  }
}
