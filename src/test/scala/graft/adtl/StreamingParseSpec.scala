package graft.adtl

import graft.SparkSpec
import org.apache.spark.sql.streaming.Trigger

/** Spec-compiled ETL over a Structured Streaming source: the same oneToMany
  * plan that runs in batch runs on readStream with no code changes. */
class StreamingParseSpec extends SparkSpec {

  test("oneToMany spec runs on a streaming source (memory sink)") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("adtlstream").toString
    // stage a small CSV-shaped parquet source
    import spark.implicits._
    Seq(("2022-03-01", "1", "0"), ("2022-03-02", "0", "1"), ("2022-03-03", "1", "1"))
      .toDF("dt", "headache", "cough")
      .write.mode("overwrite").parquet(s"$tmp/src")
    val schema = spark.read.parquet(s"$tmp/src").schema

    val parser = AdtlParser.fromJsonString(
      """{
        |  "adtl": {"name": "s", "description": "d", "tables": {
        |    "obs": {"kind": "oneToMany", "discriminator": "name", "common": {"dataset": "D1"}}}},
        |  "obs": [
        |    {"if": {"headache": "1"}, "name": "headache", "date": {"field": "dt"}},
        |    {"if": {"cough": "1"}, "name": "cough", "date": {"field": "dt"}}
        |  ]
        |}""".stripMargin)

    val stream = spark.readStream.schema(schema).parquet(s"$tmp/src")
    val tables = parser.parseStream(spark, stream)
    val q = tables("obs").writeStream
      .format("memory").queryName("adtl_stream_obs")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()

    val rows = spark.sql("SELECT name, date FROM adtl_stream_obs ORDER BY date, name")
      .collect().map(r => (r.getString(0), r.getString(1))).toList
    assert(rows == List(
      ("headache", "2022-03-01"), ("cough", "2022-03-02"),
      ("cough", "2022-03-03"), ("headache", "2022-03-03")))
  }

  test("oneToMany fan-out under micro-batches equals the batch parse") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // three entries (two if-gated, one unconditional via values-derived
    // default-if semantics shape) + common merge: every micro-batch row
    // fans out to 0-3 observation rows
    val parser = AdtlParser.fromJsonString(
      """{
        |  "adtl": {"name": "s", "description": "d", "tables": {
        |    "obs": {"kind": "oneToMany", "discriminator": "name", "common": {"src": "stream"}}}},
        |  "obs": [
        |    {"if": {"headache": "1"}, "name": "headache", "sid": {"field": "sid"}, "date": {"field": "dt"}},
        |    {"if": {"cough": "1"}, "name": "cough", "sid": {"field": "sid"}, "date": {"field": "dt"}},
        |    {"if": {"temp": {">": 38.0}}, "name": "fever", "sid": {"field": "sid"}, "value": {"field": "temp"}}
        |  ]
        |}""".stripMargin)

    val batches = Seq(
      Seq(("s1", "2022-03-01", "1", "0", "39.1"), ("s2", "2022-03-01", "0", "0", "36.6")),
      Seq(("s3", "2022-03-02", "1", "1", "38.5")),
      Seq(("s4", "2022-03-03", "0", "1", "40.0"), ("s5", "2022-03-03", "1", "1", "37.0")))

    val mem = MemoryStream[(String, String, String, String, String)]
    val src = mem.toDF().toDF("sid", "dt", "headache", "cough", "temp")
    val q = parser.parseStream(spark, src)("obs").writeStream
      .format("memory").queryName("adtl_stream_fanout")
      .outputMode("append").start()
    batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    q.stop()

    def key(r: org.apache.spark.sql.Row) =
      (0 until r.length).map(i => String.valueOf(r.get(i))).mkString("|")
    val streamed = spark.table("adtl_stream_fanout")
    val batch = parser.parseDataFrame(spark,
      batches.flatten.toDF("sid", "dt", "headache", "cough", "temp"))("obs")
    assert(streamed.columns.sorted.sameElements(batch.columns.sorted))
    val streamedRows = streamed.select(batch.columns.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(key).sorted.toList
    val batchRows = batch.collect().map(key).sorted.toList
    assert(streamedRows == batchRows)
    assert(streamedRows.nonEmpty)
    // the fan-out really fanned out: s3 emits headache+cough+fever
    assert(streamedRows.count(_.contains("s3")) == 3)
  }

  test("streaming validation report (observe) matches the batch report") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val parser = AdtlParser.fromFile(
      "src/test/resources/golden/parsers/groupBy-with-schema.json")
    // the golden validation fixture rows, split across two micro-batches
    // ('8/6/2022' hostdat fails the schema's date format → invalid rows)
    val batch1 = Seq(
      (0L, "1", "S007", "2020-05-06", "2020-06-08", "1"),
      (1L, "", "S007", "", "", ""))
    val batch2 = Seq(
      (2L, "5", "S001", "2022-01-11", "8/6/2022", "2"),
      (3L, "1", "S009", "2020-05-06", "8/6/2020", "3"))

    val mem = MemoryStream[(Long, String, String, String, String, String)]
    val src = mem.toDF().toDF("seq", "sex", "subjid", "dsstdat", "hostdat", "ethnic")
    val tables = parser.parseStream(spark, src, orderCol = Some("seq"))
    val q = tables("subject").writeStream
      .format("memory").queryName("adtl_stream_report")
      .outputMode("complete").start()
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()

    // batch accounting over the same rows
    val all = (batch1 ++ batch2)
      .toDF("seq", "sex", "subjid", "dsstdat", "hostdat", "ethnic")
    val batchReport = parser
      .report(parser.parseDataFrame(spark, all, orderCol = Some("seq")))
      .map { case (t, (valid, total, _)) => t -> (valid, total) }
    val streamed = parser.streamingReport(q)
    assert(streamed == batchReport)
    assert(streamed("subject")._2 == 3) // 3 subjects, complete-mode total
  }

  test("append-mode stateless tables: per-batch observed slices sum to the batch report") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // oneToOne + schema (epoch.json); second batch carries an invalid date
    val parser = AdtlParser.fromFile("src/test/resources/golden/parsers/epoch.json")
    val batch1 = Seq(("1", "11/01/1999", "24/01/1999", "Lorem ipsum"))
    val batch2 = Seq(("2", "19/12/2022", "27/01/2023", "example"),
      ("3", "not-a-date", "27/01/2023", "bad row"))

    val mem = MemoryStream[(String, String, String, String)]
    val src = mem.toDF().toDF("Entry_ID", "Epoch", "SomeDate", "Text")
    val tables = parser.parseStream(spark, src)
    val q = tables("table").writeStream
      .format("memory").queryName("adtl_stream_epoch")
      .outputMode("append").start()
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()

    val all = (batch1 ++ batch2).toDF("Entry_ID", "Epoch", "SomeDate", "Text")
    val batchReport = parser.report(parser.parseDataFrame(spark, all))
      .map { case (t, (valid, total, _)) => t -> (valid, total) }
    assert(parser.streamingReportTotals(q) == batchReport)
    assert(parser.streamingReportTotals(q)("table")._2 == 3)
    assert(parser.streamingReportTotals(q)("table")._1 == 2) // bad row invalid
  }

  test("append-mode running totals survive past the recentProgress window") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // shrink the progress window to 2 so a 5-batch stream wraps it: the
    // recentProgress-only sum would see at most the last 2 slices; the
    // listener accumulator must carry the rest
    val prev = spark.conf.getOption("spark.sql.streaming.numRecentProgressUpdates")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "2")
    try {
      val parser = AdtlParser.fromFile("src/test/resources/golden/parsers/epoch.json")
      val batches = (1 to 5).map(i =>
        Seq((i.toString, "11/01/1999", "24/01/1999", s"row $i")))

      val mem = MemoryStream[(String, String, String, String)]
      val src = mem.toDF().toDF("Entry_ID", "Epoch", "SomeDate", "Text")
      val q = parser.parseStream(spark, src)("table").writeStream
        .format("memory").queryName("adtl_stream_window_wrap")
        .outputMode("append").start()
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
      assert(q.recentProgress.length <= 2) // the window really wrapped

      // the listener bus is asynchronous — poll until it drains
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def totals() = parser.streamingReportTotals(q).get("table")
      while (!totals().contains((5L, 5L)) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(totals().contains((5L, 5L)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", v)
        case None => spark.conf.unset("spark.sql.streaming.numRecentProgressUpdates")
      }
    }
  }

  test("listener accumulator evicts terminated queries after the retention " +
      "window; recent totals stay readable after stop()") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val prevRetention = AdtlParser.terminatedRetention
    AdtlParser.terminatedRetention = 2
    try {
      val parser = AdtlParser.fromFile("src/test/resources/golden/parsers/epoch.json")
      def runOne(i: Int): java.util.UUID = {
        val mem = MemoryStream[(String, String, String, String)]
        val src = mem.toDF().toDF("Entry_ID", "Epoch", "SomeDate", "Text")
        val q = parser.parseStream(spark, src)("table").writeStream
          .format("memory").queryName(s"adtl_evict_$i")
          .outputMode("append").start()
        mem.addData(Seq((i.toString, "11/01/1999", "24/01/1999", "r")): _*)
        q.processAllAvailable()
        // totals are readable while the query runs AND right after stop
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (parser.streamingReportTotals(q).get("table").isEmpty &&
          System.nanoTime() < deadline) Thread.sleep(50)
        assert(parser.streamingReportTotals(q)("table") == (1L, 1L))
        q.stop()
        assert(parser.streamingReportTotals(q)("table") == (1L, 1L))
        q.id
      }
      val ids = (1 to 4).map(runOne)
      // the termination listener is asynchronous — wait for eviction of the
      // oldest entries (retention 2 keeps only the last two terminated)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def evicted() = !AdtlParser.streamingAcc.containsKey(ids(0)) &&
        !AdtlParser.streamingAcc.containsKey(ids(1))
      while (!evicted() && System.nanoTime() < deadline) Thread.sleep(50)
      assert(evicted())
      assert(AdtlParser.streamingAcc.containsKey(ids(2)))
      assert(AdtlParser.streamingAcc.containsKey(ids(3)))
    } finally {
      AdtlParser.terminatedRetention = prevRetention
    }
  }

  test("streaming parse restarts from the checkpoint: no loss, no double-count, " +
      "running totals carry across the restart") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("adtlrestart").toString
    val src = s"$root/src"; val ckpt = s"$root/ckpt"; val out = s"$root/out"

    val parser = AdtlParser.fromFile("src/test/resources/golden/parsers/epoch.json")
    val batch1 = Seq(("1", "11/01/1999", "24/01/1999", "first"),
      ("2", "19/12/2022", "27/01/2023", "second"))
    val batch2 = Seq(("3", "not-a-date", "27/01/2023", "bad row"))
    val cols = Seq("Entry_ID", "Epoch", "SomeDate", "Text")
    batch1.toDF(cols: _*).write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema

    // fault-tolerant parquet sink (the memory sink cannot recover from a
    // checkpoint); the cumulative output proves no-loss AND no-double-count
    def runOnce(): org.apache.spark.sql.streaming.StreamingQuery = {
      val stream = spark.readStream.schema(schema).parquet(src)
      val q = parser.parseStream(spark, stream)("table").writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop(); q
    }

    val q1 = runOnce()
    assert(spark.read.parquet(out).count() == 2)

    // new files arrive while the query is down; the restarted query picks
    // up ONLY them (file-source offsets live in the checkpoint) — a
    // reprocessed batch1 would make this 5, a lost batch2 would leave 2
    batch2.toDF(cols: _*).write.mode("append").parquet(src)
    val q2 = runOnce()
    assert(q2.id == q1.id) // same logical query, resumed
    assert(spark.read.parquet(out).count() == 3)
    assert(spark.read.parquet(out).select("id").distinct().count() == 3)

    // accumulated totals span both runs (batch ids continue from the
    // checkpoint, the listener accumulator keys on the persistent query id)
    val batchReport = parser
      .report(parser.parseDataFrame(spark, (batch1 ++ batch2).toDF(cols: _*)))
      .map { case (t, (valid, total, _)) => t -> (valid, total) }
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def totals() = parser.streamingReportTotals(q2)
    while (totals() != batchReport && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(totals() == batchReport)
    assert(totals()("table")._2 == 3 && totals()("table")._1 == 2)
  }

  test("groupBy specs without orderCol are rejected in streaming mode") {
    import spark.implicits._
    val parser = AdtlParser.fromJsonString(
      """{"adtl": {"name": "s", "description": "d", "tables": {
          "t": {"kind": "groupBy", "groupBy": "sid", "aggregation": "lastNotNull"}}},
          "t": {"sid": {"field": "sid"}}}""")
    val tmp = java.nio.file.Files.createTempDirectory("adtlstream2").toString
    Seq(("a")).toDF("sid").write.mode("overwrite").parquet(s"$tmp/src")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$tmp/src").schema).parquet(s"$tmp/src")
    val e = intercept[Spec.SpecValidationError](parser.parseStream(spark, stream))
    assert(e.getMessage.contains("need an explicit orderCol in streaming mode"))
  }

  test("groupBy stream output equals the batch parse (groupBy.json fixture)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val parser = AdtlParser.fromFile(
      "src/test/resources/golden/parsers/groupBy.json")
    // (seq, subjid, sex, dsstdat, hostdat): S001's sex arrives in batch 1,
    // empties must not overwrite; S001's admission date only in batch 2;
    // batch 2 also carries an out-of-order (smaller seq) late row for S002
    // that lastNotNull must NOT take as latest
    val batch1 = Seq(
      (0L, "S001", "1", "2022-01-01", ""),
      (2L, "S002", "2", "2022-01-02", "2022-01-06"))
    val batch2 = Seq(
      (3L, "S001", "", "2022-01-01", "2022-01-05"),
      (1L, "S002", "3", "2022-01-02", "")) // late arrival, seq 1 < 2
    val all = batch1 ++ batch2

    val mem = MemoryStream[(Long, String, String, String, String)]
    val src = mem.toDF().toDF("seq", "subjid", "sex", "dsstdat", "hostdat")
    val tables = parser.parseStream(spark, src, orderCol = Some("seq"))
    // streaming aggregation → Complete mode gives the full result table
    val q = tables("subject").writeStream
      .format("memory").queryName("adtl_stream_subject")
      .outputMode("complete").start()
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.sql(
      "SELECT * FROM adtl_stream_subject ORDER BY subject_id")
    val batch = parser.parseDataFrame(spark,
      all.toDF("seq", "subjid", "sex", "dsstdat", "hostdat"),
      orderCol = Some("seq"))("subject").orderBy("subject_id")
    assert(streamed.columns.toList == batch.columns.toList)
    assert(streamed.collect().toList == batch.collect().toList)
    // the cross-batch semantics the state must carry: S001 keeps batch-1
    // sex (empty never overwrites) and gains batch-2 admission; S002 keeps
    // seq-2 sex over the late seq-1 row
    val byId = streamed.collect().map(r =>
      r.getAs[String]("subject_id") -> r).toMap
    assert(byId("S001").getAs[String]("sex_at_birth") == "male")
    assert(byId("S001").getAs[String]("admission_date") == "2022-01-05")
    assert(byId("S002").getAs[String]("sex_at_birth") == "female")
  }

  test("streaming report readers return valid/total from the shared report aggregates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // epoch.json: oneToOne + date-format schema; batch 2 has one bad date
    val parser = AdtlParser.fromFile("src/test/resources/golden/parsers/epoch.json")
    val mem = MemoryStream[(String, String, String, String)]
    val tables = parser.parseStream(spark,
      mem.toDF().toDF("Entry_ID", "Epoch", "SomeDate", "Text"))
    val q = tables("table").writeStream
      .format("memory").queryName("adtl_stream_report_aggs")
      .outputMode("append").start()
    mem.addData(("1", "11/01/1999", "24/01/1999", "a"))
    q.processAllAvailable()
    mem.addData(("2", "19/12/2022", "27/01/2023", "b"), ("3", "bad", "27/01/2023", "c"))
    q.processAllAvailable()
    q.stop()

    assert(parser.streamingReport(q) == Map("table" -> (1L, 2L))) // latest batch
    assert(parser.streamingReportTotals(q) == Map("table" -> (2L, 3L)))
    // the observed row also carries the per-message counters the batch
    // report reads; they account for every invalid row of the batch
    val row = q.recentProgress.reverseIterator
      .map(_.observedMetrics.get(s"${AdtlParser.ReportMetricPrefix}table"))
      .find(_ != null).get
    val counters = row.schema.fieldNames.filter(f => f != "total" && f != "valid")
    assert(counters.nonEmpty)
    assert(counters.map(row.getAs[Long]).sum ==
      row.getAs[Long]("total") - row.getAs[Long]("valid"))
  }

  test("parseStream honours withCanonicalNumbers like the batch parse") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val parser = AdtlParser.fromJsonString(
      """{"adtl": {"name": "s", "description": "d", "tables": {"t": {"kind": "oneToOne"}}},
          "t": {"code": {"field": "code"}, "dose": {"field": "dose"}}}""")
      .withCanonicalNumbers()
    val mem = MemoryStream[(String, String)]
    val q = parser.parseStream(spark, mem.toDF().toDF("code", "dose"))("t").writeStream
      .format("memory").queryName("adtl_stream_canonical")
      .outputMode("append").start()
    mem.addData(("007", "1.50"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("adtl_stream_canonical").collect()
      .map(r => (r.getAs[String]("code"), r.getAs[String]("dose"))).toList
    assert(rows == List(("7", "1.5")))
  }

  test("emptyFields scrub is identical in parseDataFrame, parseStream and overwriteCounts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val parser = AdtlParser.fromJsonString(
      """{"adtl": {"name": "s", "description": "d", "emptyFields": "NA", "tables": {
          "t": {"kind": "groupBy", "groupBy": "sid", "aggregation": "lastNotNull"}}},
          "t": {"sid": {"field": "sid"}, "v": {"field": "v"}}}""")
    // (seq, sid, v): A's later "NA" must not overwrite "x"; B holds only
    // the sentinel; C has two real values; the "NA" key drops out
    val rows = Seq(
      (1L, "A", "x"), (2L, "A", "NA"), (3L, "B", "NA"),
      (4L, "C", "y"), (5L, "C", "z"), (6L, "NA", "w"))
    val expected = List(("A", "x"), ("B", null), ("C", "z"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("sid").collect()
        .map(r => (r.getAs[String]("sid"), r.getAs[String]("v"))).toList

    val source = rows.toDF("seq", "sid", "v")
    assert(pairs(parser.parseDataFrame(spark, source, orderCol = Some("seq"))("t")) ==
      expected)

    val mem = MemoryStream[(Long, String, String)]
    val q = parser.parseStream(spark, mem.toDF().toDF("seq", "sid", "v"),
      orderCol = Some("seq"))("t").writeStream
      .format("memory").queryName("adtl_stream_scrub")
      .outputMode("complete").start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    assert(pairs(spark.table("adtl_stream_scrub")) == expected)

    // unscrubbed, A would hold two distinct values ("x", "NA"); scrubbed,
    // only C overwrites
    assert(parser.overwriteCounts(spark, source) == Map("t" -> Map("v" -> 1L)))
  }
}
