package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Winnowing fingerprints: kernel parity with a direct per-window
  * re-computation, the substring-sharing guarantee, degenerate-length
  * edges, and the overlap-pair operator's contracts. */
class WinnowSpec extends SparkSpec {

  private val P = 2147483647L
  private val B = 31L

  private def documents = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  /** Independent reference: direct Horner per window (no rolling
    * recurrence), direct window scan (no deque). */
  private def refWinnow(s: String, k: Int, w: Int): Seq[Long] = {
    val cps = s.codePoints().toArray
    val n = cps.length
    if (n == 0) return Seq.empty
    val kk = math.min(k, n)
    val m = n - kk + 1
    val hs = (0 until m).map { i =>
      (0 until kk).foldLeft(0L)((acc, j) => (acc * B + cps(i + j)) % P)
    }
    val mins =
      if (m <= w) Seq(hs.min)
      else (0 to m - w).map(i => hs.slice(i, i + w).min)
    mins.distinct.sorted
  }

  test("kernel matches the direct per-window reference on real documents") {
    val rows = documents.limit(200)
      .select(col("doc_id"), col("text"),
        graft.functions.WinnowExprs.winnow(spark, col("text"), 16, 16).as("fps"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val got = r.getSeq[Long](2)
      val want = refWinnow(r.getString(1), 16, 16)
      assert(got == want, s"doc_id=${r.get(0)}")
    }
  }

  test("degenerate lengths: empty text no fingerprints, short text exactly one") {
    import spark.implicits._
    val out = Seq("", "ab", "exactly16chars!!").toDF("t")
      .select(col("t"),
        graft.functions.WinnowExprs.winnow(spark, col("t"), 16, 16).as("fps"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(out("").isEmpty)
    assert(out("ab") == refWinnow("ab", 16, 16))
    assert(out("ab").size == 1)
    assert(out("exactly16chars!!").size == 1)
  }

  test("shared substring of w + k - 1 chars guarantees a shared fingerprint") {
    import spark.implicits._
    val common = "abcdefgh ijklmnop qrstuvw 01234" // w + k - 1 = 31 chars
    assert(common.length == 31)
    val docA = "left padding words here " + common + " tail alpha"
    val docB = "completely different prelude " + common + " other suffix"
    val fps = Seq(("a", docA), ("b", docB)).toDF("id", "t")
      .select(col("id"),
        graft.functions.WinnowExprs.winnow(spark, col("t"), 16, 16).as("fps"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap
    assert(fps("a").intersect(fps("b")).nonEmpty)
  }

  test("planted duplicates all surface as overlap pairs with full sharing") {
    val docs = documents.filter(length(col("text")) >= 100)
      .select("doc_id", "text")
    val planted = docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val pairs = TextAnalysis.winnowOverlapPairs(docs.unionByName(planted),
        "doc_id", "text", k = 16, w = 16, maxDocsPerFp = 1000, minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val fpCounts = TextAnalysis.winnowFingerprints(docs, "doc_id", "text")
      .groupBy("id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    fpCounts.foreach { case (id, nFp) =>
      assert(pairs.get((id, id + 1000000L)).contains(nFp),
        s"planted dup of $id: expected full sharing of $nFp fingerprints")
    }
  }

  test("decontaminate drops eval members and overlap partners, keeps the rest") {
    val docs = documents.select("doc_id", "text")
    val evalSet = docs.filter(col("doc_id") % 10 === 0)
    val survivors = TextAnalysis.decontaminate(docs, "doc_id", "text",
        evalSet, "doc_id", "text", minShared = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val evalIds = evalSet.select("doc_id").collect().map(_.getLong(0)).toSet
    // every eval doc with >= minShared fingerprints self-matches and is dropped
    val evalFpCounts = TextAnalysis.winnowFingerprints(evalSet, "doc_id", "text")
      .groupBy("id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    evalFpCounts.filter(_._2 >= 3).keys.foreach(id =>
      assert(!survivors.contains(id), s"eval doc $id must be dropped"))
    assert(survivors.nonEmpty)
  }

  test("parquet materialization route returns identical pairs") {
    val docs = documents.select("doc_id", "text")
    val dir = graft.queries.TempDirs.create("win")
      .toString + "/fps"
    def run(path: Option[String]) =
      TextAnalysis.winnowOverlapPairs(docs, "doc_id", "text",
          materializePath = path)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(None) == run(Some(dir)))
    assert(new java.io.File(dir).listFiles().exists(_.getName.endsWith(".parquet")))
  }
}
