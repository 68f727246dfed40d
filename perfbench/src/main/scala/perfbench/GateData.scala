package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The `operator_gates` workload: its gates and their input, the star
  * schema plus the `events`, `documents` and `embeddings` tables the
  * `graft.ops` gates read, with the column names and types the gates
  * expect. Rows are drawn on the driver thread from one RNG with a fixed
  * seed and written with a one-core Spark session, one parquet file per
  * table. Scale 1.0 is about 40k lineitem rows. */
object GateData {
  val Seed = 1L
  val Scale = 0.25

  /** The gates, one per `graft.ops` area, with the output each returns on
    * this data: its row count and its fingerprint (the sum of `xxhash64`
    * over rows, see `Checks.fingerprintColumns`). Recorded from the
    * program; the same for every gate order. */
  val Expected: Map[String, (Long, String)] = Map(
    "m_media_resize" -> (150L, "2345837519553816885"),
    "q_jw_linkage" -> (56L, "25371955895440390756"),
    "t_hll_distinct" -> (21L, "-1339835150907185756"),
    "t_lang_id" -> (150L, "6883857725149689548"))
  val Gates: Seq[String] = Expected.keys.toSeq.sorted

  val Words = Seq("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "window", "spark", "order", "data",
    "column", "join", "small", "big", "line", "customer", "query", "stream", "sort",
    "group", "filter", "vector", "dup")
  val Langs = Seq("en", "zh", "es", "de", "fr")
  val Events = Seq("view", "click", "signup", "purchase", "error")
  val Segments = Seq("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Adjectives = Seq("small", "red", "blue", "hot", "old", "large", "green", "cold")
  val Nouns = Seq("ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut")

  def generate(dir: Path, seed: Long, scale: Double): Unit = {
    val spark = SparkSession.builder().master("local[1]").appName("perfbench-gen")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", dir.resolveSibling("warehouse").toString)
      .getOrCreate()
    try write(spark, dir, seed, scale) finally spark.stop()
  }

  private def write(spark: SparkSession, dir: Path, seed: Long, scale: Double): Unit = {
    val r = new Gen.Rng(seed)
    def n(x: Int) = math.max(1, (x * scale).toInt)
    val day = 86400000L
    val t1995 = Timestamp.valueOf("1995-01-01 00:00:00").getTime
    val t2024 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def money(x: Double) = math.round(x * 100) / 100.0
    val nOrders = n(10000); val nCust = n(1000); val nPart = n(1500); val nSupp = n(80)
    val tables = mutable.LinkedHashMap[String, (StructType, Seq[Row])]()
    def f(name: String, t: DataType) = StructField(name, t)
    tables("region") = (StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Regions.indices.map(i => Row(i, Regions(i))))
    tables("nation") = (StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    tables("customer") = (StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.int(25),
        money(r.unit() * 10000 - 1000), Segments(r.int(5)))))
    tables("supplier") = (StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.int(25),
        money(r.unit() * 10000))))
    tables("part") = (StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong,
        s"${Adjectives(r.int(8))} ${Nouns(r.int(8))}", s"Brand#${1 + r.int(25)}",
        Seq("ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD")(r.int(6)),
        1 + r.int(50), money(900 + (i % 1000) / 10.0))))
    tables("orders") = (StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampType), f("o_orderpriority", StringType))),
      (0 until nOrders).map(i => Row(i.toLong, r.int(nCust).toLong, Seq("O", "F", "P")(r.int(3)),
        money(1000 + r.unit() * 500000), new Timestamp(t1995 + r.int(2400) * day),
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(r.int(5)))))
    tables("lineitem") = (StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampType))),
      (0 until nOrders).flatMap { o =>
        (1 to 1 + r.int(7)).map { ln =>
          val q = 1 + r.int(50)
          Row(o.toLong, r.int(nPart).toLong, r.int(nSupp).toLong, ln, q.toDouble,
            money(q * (900 + r.unit() * 1200)), r.int(11) / 100.0, r.int(9) / 100.0,
            Seq("R", "A", "N")(r.int(3)), Seq("O", "F")(r.int(2)),
            new Timestamp(t1995 + r.int(2500) * day))
        }
      })
    val nUsers = n(120)
    tables("events") = (StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))), {
        var ts = t2024
        (0 until n(8000)).map { i =>
          ts += r.int(360000)
          Row(i.toLong, new Timestamp(ts), r.int(nUsers).toLong, Events(r.int(5)),
            money(0.01 + r.unit() * 490), s"""{"k": ${r.int(100)}}""")
        }
      })
    tables("documents") = (StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      {
        var prev = ""
        (0 until n(600)).map { i =>
          // every tenth document is a near-duplicate of the one before, so
          // the dedup gates find pairs
          val text =
            if (i % 10 == 9) prev + " dup"
            else (0 until 8 + r.int(80)).map(_ => Words(r.int(Words.size))).mkString(" ")
          prev = text
          Row(i.toLong, text, Langs(r.int(5)), s"src${r.int(20)}", text.length.toLong)
        }
      })
    tables("embeddings") = (StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
      (0 until n(500)).map { i =>
        val label = r.int(10)
        val v = (0 until 64).map(d => ((if (d % 10 == label) 0.25 else 0.0) +
          (r.unit() - 0.5) * 0.3).toFloat)
        Row(i.toLong, v, label)
      })
    val t = mutable.LinkedHashMap[String, String]()
    var rows = 0L
    tables.foreach { case (name, (schema, data)) =>
      val out = dir.resolve(s"$name.parquet")
      spark.createDataFrame(data.asJava, schema).coalesce(1).write.mode("overwrite")
        .parquet(out.toString)
      rows += data.size
      t(s"table.$name.rows") = data.size.toString
    }
    val bytes = Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
      .map(Files.size).sum
    t("input.rows") = rows.toString
    t("input.bytes") = bytes.toString
    t("input.files") = tables.size.toString
    Out.writeTsv(dir.resolve("truth.tsv"), t)
  }
}
