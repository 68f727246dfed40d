package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Table profiling data card — the ingestion audit every new feed gets
  * before any pipeline consumes it (SURVEY.md §2.11 L103): one row per
  * column with row/null/distinct counts and string-rendered min/max.
  * Schema drift, silent null floods, and key-cardinality collapses all
  * surface here first.
  *
  * Scale shape: ONE aggregation job computes every metric (Spark plans
  * the multiple exact count-distincts via Expand — data replicated
  * #distinct-columns× through a single shuffle, the standard one-pass
  * profile); the per-column pivot happens on the single result row via
  * an in-plan explode, no second scan. The input is round-robin
  * REBALANCED first: Expand amplifies every row ~#columns×, so an
  * uneven file layout (one fat parquet split) turns into an
  * #columns×-amplified straggler in the partial aggregation — round 12
  * measured a 36 s max task at median 1.2 s on a 10× replicated
  * layout; the rebalance (one extra narrow shuffle on a one-shot audit
  * job) bounds every partial-agg task at volume/partitions. Exact
  * distincts are the audit contract at profile time; a recurring
  * 100 TB profile would swap count_distinct for the mergeable HLL
  * sketch (L48) column by column.
  */
object Profile {

  /** One row per column: (column, dtype, n_rows, n_nonnull, n_distinct,
    * min_s, max_s). min/max render through CAST(… AS STRING) so every
    * type lands in one comparable output schema; float/double render via
    * DECIMAL(28,6) first — Java's shortest-roundtrip double formatting
    * (1.0E7) and other engines' (%g / 1e+07) disagree above 10^7, while
    * a fixed-scale decimal renders identically everywhere. */
  def profileTable(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, BinaryType, DoubleType, FloatType,
      MapType, StructType}
    val cols = df.columns.toSeq
    def render(c: String) = df.schema(c).dataType match {
      case DoubleType | FloatType =>
        (x: org.apache.spark.sql.Column) => x.cast("decimal(28,6)").cast("string")
      // maps have no ordering: min/max stay null
      case _: MapType => (_: org.apache.spark.sql.Column) => lit(null).cast("string")
      case _ => (x: org.apache.spark.sql.Column) => x.cast("string")
    }
    // TWO passes instead of the former single multi-count_distinct
    // aggregation: that plan routed every row through an Expand
    // (~#columns× replication) into FOUR nested SortAggregates — the
    // string min/max buffers force the sort-based aggregate, and the
    // sort then runs over the AMPLIFIED volume (round-16 audit: one
    // 68 task-sec SortAggregate stage, the query's whole cost). Split:
    //
    //  - pass A: counts + rendered min/max over the RAW rows — no
    //    Expand, partial aggregation collapses map-side to one row per
    //    task (the sort-agg is over zero grouping keys = a fold);
    //  - pass B: exact per-column distinct counts over an in-plan
    //    (column, value) unpivot — hash aggregation on fixed-size keys,
    //    never a sort. The unpivot amplifies #columns× in the MAP stage
    //    only; the exchange carries each task's distinct (column,
    //    value) pairs, at most what the Expand exchange carried.
    //
    // Measured like-for-like at sf0.1/32 (same JVM, interleaved noop
    // runs ×4 each, per-form min): Expand form 2.99 s (68 task-sec
    // SortAggregate stage in the stage audit); two-pass form 1.77 s
    // (0.59×), identical rows. The losing plan's numbers are kept here
    // per the round-16 decision record.
    //
    // Distinct-count render must be INJECTIVE per column so string
    // equality equals the column type's distinct semantics: float and
    // double normalize -0.0 → 0.0 (x + 0.0) to match Spark's
    // NormalizeFloatingNumbers aggregation-key behavior; any NaN
    // renders "NaN", matching NaN-equals-NaN distinct semantics. Arrays,
    // maps and structs render as JSON and binary as hex: their CAST AS
    // STRING is not injective (array('a, b') and array('a', 'b') both
    // cast to "[a, b]"). Every other type's CAST AS STRING is injective.
    def distinctRender(c: String): org.apache.spark.sql.Column =
      df.schema(c).dataType match {
        case DoubleType => (col(c) + lit(0.0)).cast("string")
        case FloatType => (col(c) + lit(0.0f)).cast("string")
        case _: ArrayType | _: MapType | _: StructType => to_json(col(c))
        case BinaryType => hex(col(c))
        case _ => col(c).cast("string")
      }
    val aggsA = cols.flatMap { c =>
      Seq(count(col(c)).as(s"__nn_$c"),
        render(c)(min(col(c))).as(s"__mn_$c"),
        render(c)(max(col(c))).as(s"__mx_$c"))
    } :+ count(lit(1)).as("__n")
    val one = Pipeline.cpuRebalance(df).agg(aggsA.head, aggsA.tail: _*)
    // up to 16× the session width, keyed to input bytes: the unpivot
    // amplifies every row #columns× inside the partial aggregation, so
    // the per-task CPU budget is width-divided amplified volume (the
    // round-13 Expand-width lesson, same clamp floor/ceiling).
    val nd = df.repartition(Pipeline.cpuWidth(df, maxFactor = 16))
      .select(explode(array(cols.map { c =>
        struct(lit(c).as("column"), distinctRender(c).as("__v"))
      }: _*)).as("p"))
      .select(col("p.column").as("column"), col("p.__v").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy("column", "__v").agg(lit(1).as("__one"))
      .groupBy("column").agg(count(lit(1)).as("n_distinct"))
    val stacked = one.select(explode(array(cols.map { c =>
      struct(lit(c).as("column"),
        lit(df.schema(c).dataType.simpleString).as("dtype"),
        col("__n").as("n_rows"), col(s"__nn_$c").as("n_nonnull"),
        col(s"__mn_$c").as("min_s"),
        col(s"__mx_$c").as("max_s"))
    }: _*)).as("p"))
    stacked.select(col("p.*"))
      .join(nd, Seq("column"), "left")
      // an all-null column never reaches pass B: n_distinct = 0
      .withColumn("n_distinct", coalesce(col("n_distinct"), lit(0L)))
      .select("column", "dtype", "n_rows", "n_nonnull", "n_distinct",
        "min_s", "max_s")
  }

  /** The RECURRING-profile twin of [[profileTable]] — same row-per-column
    * data card, but `n_distinct` replaced by an HLL ESTIMATE
    * (`n_distinct_est`, m = 64 registers, the [[Sketch.hllDistinct]]
    * register/rho/linear-counting derivation on the md5 60-bit hash, so
    * a SQL oracle replays the estimate bit-exactly). This is the profile
    * to SCHEDULE at 100 TB: the exact variant's multi-count_distinct
    * plans through one Expand — every row replicated ~#columns× through
    * a single exchange carrying all distinct values — while here
    *
    *  - counts + min/max run in ONE plain aggregation (no distinct → no
    *    Expand; partial aggs collapse map-side to one row per task);
    *  - the per-column HLL runs over an in-plan (column, value) unpivot
    *    whose groupBy(column, register) partial aggregation ALSO
    *    collapses map-side — the shuffle moves at most #columns × 64
    *    register rows per map task, kilobytes at any data size. The
    *    unpivot amplifies rows #columns× in the MAP stage only (CPU,
    *    not network), against the exact plan's amplified exchange.
    *
    * Values hash through the same deterministic string render min/max
    * use (float/double via DECIMAL(28,6) — so two doubles equal at 6 dp
    * count once; the documented audit tradeoff, beside the HLL's own
    * ±1.04/√64 ≈ 13 % standard error, bound-pinned in ProfileSpec). An
    * all-null column reports n_distinct_est = 0.0. */
  def profileTableApprox(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    val m = 64
    val alpha = 0.709 // alpha_64, Flajolet et al. 2007 Fig. 3
    val cols = df.columns.toSeq
    def render(c: String) = df.schema(c).dataType match {
      case DoubleType | FloatType =>
        (x: org.apache.spark.sql.Column) => x.cast("decimal(28,6)").cast("string")
      case _ => (x: org.apache.spark.sql.Column) => x.cast("string")
    }
    // pass A: counts + rendered min/max — one aggregation, NO Expand
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"__nn_$c"),
        render(c)(min(col(c))).as(s"__mn_$c"),
        render(c)(max(col(c))).as(s"__mx_$c"))
    } :+ count(lit(1)).as("__n")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val base = one.select(explode(array(cols.map { c =>
      struct(lit(c).as("column"),
        lit(df.schema(c).dataType.simpleString).as("dtype"),
        col("__n").as("n_rows"), col(s"__nn_$c").as("n_nonnull"),
        col(s"__mn_$c").as("min_s"), col(s"__mx_$c").as("max_s"))
    }: _*)).as("p")).select(col("p.*"))
    // pass B: per-column HLL registers over the rendered values. Same
    // rebalance rationale as the exact profile (input-keyed, up to 8×):
    // the unpivot amplifies #columns× and every value pays an md5 — CPU
    // per scanned byte far above the split policy's budget
    val pairs = df.repartition(Pipeline.cpuWidth(df))
      .select(explode(array(cols.map { c =>
        struct(lit(c).as("c"), render(c)(col(c)).as("v"))
      }: _*)).as("p"))
      .select(col("p.c").as("c"), col("p.v").as("v"))
      .filter(col("v").isNotNull)
    val h = Pipeline.md5Long60(col("v"), "pf")
    val suffix = shiftright(h, 6) // h >= 0: arithmetic shift == logical
    val rho = when(suffix === 0, lit(55))
      .otherwise(lit(55) - length(bin(suffix)))
    val regs = pairs
      .select(col("c"), pmod(h, lit(m.toLong)).as("reg"), rho.as("rho"))
      .groupBy("c", "reg").agg(max(col("rho")).as("mrho"))
    val p55 = 1L << 55
    val agg0 = regs.groupBy("c").agg(
      count(lit(1)).as("__present"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(55 - mrho AS INT))"))
        .as("__sp"))
    val present = coalesce(col("__present"), lit(0L))
    val zeroRegs = (lit(m) - present).cast("long")
    val s = coalesce(col("__sp"), lit(0L)) + zeroRegs * p55
    val raw = lit(alpha) * lit(m.toDouble) * lit(m.toDouble) *
      lit(p55.toDouble) / s.cast("double")
    val estCol = when(zeroRegs > 0 && raw <= lit(2.5 * m),
        lit(m.toDouble) * log(lit(m.toDouble) / zeroRegs.cast("double")))
      .otherwise(raw)
    base.join(agg0.withColumnRenamed("c", "column"), Seq("column"), "left")
      .select(col("column"), col("dtype"), col("n_rows"), col("n_nonnull"),
        round(estCol, 6).as("n_distinct_est"), col("min_s"), col("max_s"))
  }
}
