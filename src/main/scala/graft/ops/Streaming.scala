package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Event-time operators over the events shape: tumbling and sliding
  * window stats, lag-window sessionization and the attribution interval
  * join (batch forms, each a gate), plus one Structured Streaming
  * operator, [[sessionRowsStream]], that the q_session_rows_stream gate
  * replays end to end through the memory sink.
  */
object Streaming extends Serializable {

  /** SLIDING (overlapping) window event stats — batch form: each event
    * lands in len/slide windows (Spark's `window(col, len, slide)`
    * expands them in-plan as a narrow generate — no self-union, no
    * second scan). The smoothing/alerting view a tumbling window can't
    * express: a spike straddling a tumbling boundary splits in half,
    * while every length-`windowLen` interval aligned to `slide` is
    * scored here. Same DECIMAL sum discipline as the tumbling form;
    * works unchanged under `readStream` + watermark (the window
    * expression is streaming-safe). */
  def slidingWindowStatsBatch(events: DataFrame, windowLen: String,
      slide: String): DataFrame =
    events.groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("total_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Tumbling-window event stats — batch form. */
  def windowStatsBatch(events: DataFrame, windowLen: String): DataFrame =
    events.groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("total_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Batch sessionization via a lag window: a session starts wherever the
    * gap from the user's previous event exceeds gapSeconds. One shuffle +
    * sort-based window — no per-group materialization, so a mega-user
    * spills to disk instead of OOMing a task. */
  def sessionizeBatch(events: DataFrame, gapSeconds: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("epoch")
    events.select(col("user_id").cast("long").as("user_id"),
        unix_timestamp(col("ts")).as("epoch"))
      .withColumn("prev", lag("epoch", 1).over(w))
      .withColumn("new_sess",
        when(col("prev").isNull || col("epoch") - col("prev") > gapSeconds, 1L)
          .otherwise(0L))
      .groupBy("user_id")
      .agg(sum("new_sess").as("n_sessions"), count(lit(1)).as("n_events"))
  }

  final case class SessRowState(sid: Long, startUs: Long, lastUs: Long,
    n: Long)
  final case class SessRow(user_id: Long, session_id: Long,
    session_start_us: Long, session_end_us: Long, n_events: Long,
    duration_us: Long)

  /** STREAMING twin of [[graft.ops.Behavior.sessionize]] — per-SESSION
    * rows: each user's state holds only the OPEN session (id, start,
    * last, count); a session emits exactly once, when a strictly-later
    * event past the gap closes it — so every emitted row is BIT-IDENTICAL
    * to the batch operator's row for that session under arbitrary trigger
    * boundaries (pinned batch==stream in OpsSpec over the closed sessions;
    * each user's final session stays open until later data closes it).
    * Append output mode: closed sessions are immutable facts. State is
    * O(1) per active user.
    *
    * Lateness: an event at or before the open session's last timestamp
    * folds into the open session (count only) — the batch twin has no
    * lateness concept, so the bit-identity contract assumes per-user
    * time-ordered arrival across micro-batches (bound it upstream with
    * a watermark). */
  def sessionRowsStream(spark: SparkSession, sourceDir: String,
      schema: org.apache.spark.sql.types.StructType, userCol: String,
      tsCol: String, gapSeconds: Long,
      queryName: String): StreamingQuery = {
    import spark.implicits._
    require(gapSeconds > 0, s"gapSeconds must be > 0, got $gapSeconds")
    val gapUs = gapSeconds * 1000000L
    val rows = spark.readStream.schema(schema).parquet(sourceDir)
      .filter(col(tsCol).isNotNull)
      .select(col(userCol).cast("long").as("u"),
        unix_micros(col(tsCol)).as("t"))
      .as[(Long, Long)]

    def update(u: Long, batch: Iterator[(Long, Long)],
        state: GroupState[SessRowState]): Iterator[SessRow] = {
      val ts = batch.map(_._2).toArray
      java.util.Arrays.sort(ts)
      val out = Seq.newBuilder[SessRow]
      var st = state.getOption.orNull
      ts.foreach { t =>
        if (st == null) st = SessRowState(1L, t, t, 1L)
        else if (t - st.lastUs > gapUs) {
          out += SessRow(u, st.sid, st.startUs, st.lastUs, st.n,
            st.lastUs - st.startUs)
          st = SessRowState(st.sid + 1L, t, t, 1L)
        } else st = SessRowState(st.sid, st.startUs,
          math.max(st.lastUs, t), st.n + 1L)
      }
      if (st != null) state.update(st)
      out.result().iterator
    }

    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(update)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  // ---- stream-stream interval (attribution) join ---------------------------

  /** Attribution interval join — batch form: every `leftType` event pairs
    * with the SAME user's `rightType` events in the preceding
    * `lookbackSeconds` (inclusive of simultaneous, exclusive of the far
    * edge): the "purchase ← clicks in the last N minutes" join. One
    * equi-shuffle on user_id with the band predicate applied in the hash
    * join (never BroadcastNestedLoop — the key carries the join), so the
    * plan is the q_asof_join/q_range_join family's shape. */
  def attributionJoinBatch(events: DataFrame, leftType: String,
      rightType: String, lookbackSeconds: Long): DataFrame = {
    val l = events.filter(col("event_type") === leftType)
      .select(col("event_id").as("left_id"), col("user_id"),
        col("ts").as("left_ts"))
    val r = events.filter(col("event_type") === rightType)
      .select(col("event_id").as("right_id"),
        col("user_id").as("r_user_id"), col("ts").as("right_ts"))
    l.join(r,
        col("user_id") === col("r_user_id") &&
          col("right_ts") <= col("left_ts") &&
          col("right_ts") > col("left_ts") - expr(s"INTERVAL $lookbackSeconds SECONDS"))
      .select(col("left_id"), col("right_id"), col("user_id"),
        col("left_ts"), col("right_ts"),
        (unix_timestamp(col("left_ts")) - unix_timestamp(col("right_ts")))
          .as("lag_s"))
  }
}
