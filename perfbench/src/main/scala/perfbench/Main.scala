package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.adtl.AdtlParser

/** The benchmark harness. Usage:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --data <generated dir> --work <scratch dir> [--cores 4] [--shuffle 32]
  *
  * Sets up a Spark session and makes one cold pass over the generated
  * input, then runs the workload until `--seconds` have passed, checking
  * every output against the generator's ground truth. The last stdout line
  * is the result JSON. `--trace 1` alternates untraced passes with passes
  * recorded by spans and Spark listeners, and reports per-layer metrics
  * instead of end-to-end ones.
  */
object Main {
  val Workloads = Seq("site_batches", "operator_gates")
  /** Warm-up passes after the cold one, left out of every median: JIT
    * compilation goes on for about five passes after the cold one, and the
    * first of them runs 30-60% slower than the steady ones. A fixed number
    * of passes, not a time, so every run measures from the same point. */
  val WarmPasses = 4
  /** Measured untraced passes a run makes at least. */
  val MinPasses = 3

  /** Everything one iteration measured: body time per input unit (a file
    * or a gate), and whether every operation passed. */
  final case class Iter(ok: Boolean, latencies: Seq[Double], outBytes: Long) {
    def wall: Double = latencies.sum
  }

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: Path, work: Path, cores: Int, shuffle: Int)

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", Paths.get(m("data")), Paths.get(m("work")),
      m.getOrElse("cores", "4").toInt, m.getOrElse("shuffle", "32").toInt)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    a
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val bench = new Bench(parseArgs(argv), jvmStartMs)
    val ok = try bench.run() finally bench.stop()
    System.err.println(s"[perfbench] exiting at ${(System.currentTimeMillis() - jvmStartMs) / 1e3} s")
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Peak heap in use after a full collection. `sample()` forces two (at
  * the end of a file's or gate's timed body, outside the timer) and reads
  * the heap pools from the second one's GC notification: the first hands
  * what Spark no longer references to its ContextCleaner, which then drops
  * the blocks and shuffle state behind it. */
final class HeapPeak {
  @volatile var peak = 0L
  /** Every reading, in order, for the log. */
  val seen = mutable.ArrayBuffer[Long]()
  @volatile private var collections = 0L
  @volatile private var lastUsed = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, h: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcCause == "System.gc()") {
          lastUsed = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          collections += 1
        }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  /** Force a collection; true once its notification has arrived. */
  private def collect(): Boolean = {
    val before = collections
    System.gc()
    val deadline = System.currentTimeMillis() + 2000
    while (collections == before && System.currentTimeMillis() < deadline) Thread.sleep(1)
    collections != before
  }

  def sample(): Unit = {
    collect()
    Thread.sleep(20)
    if (collect()) { peak = math.max(peak, lastUsed); seen += lastUsed }
  }
}

final class Bench(a: Main.Args, jvmStartMs: Long) {
  import Main._

  private var spark: SparkSession = _
  private val tracer = new Tracer(() => spark.sparkContext)
  private val listener = new LayerListener
  private val heap = new HeapPeak
  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer[String]()
  private var specRules = 0L
  private var sinkBytes = 0L // bytes written by the sink in the current iteration
  /** Each pass runs the gates in a new order drawn from the seed, so no
    * gate always inherits another's JIT or GC debt, and a run's medians
    * are taken over several orders. */
  private val gateRng = new scala.util.Random(a.seed)

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  private def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg
    log(s"FAILED: $msg")
  }

  /** Run one operation; an exception fails it. */
  private def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Exception =>
      fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)); None }
  }

  private def newSession(): SparkSession = {
    val s = SparkSession.builder().master(s"local[${a.cores}]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.shuffle.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(): Unit = if (spark != null) spark.stop()

  // ---- one iteration --------------------------------------------------------

  /** One pass over the input, every output checked. */
  private def iteration(input: Path, out: Path): Iter = {
    sinkBytes = 0L
    val failedBefore = failed
    val lat = a.workload match {
      case "site_batches" =>
        val truth = Out.readTsv(input.resolve("truth.tsv"))
        (0 until truth("input.files").toInt).map(f =>
          adtlFile(input, f, out.resolve(f"site_$f%03d"), truth))
      case "operator_gates" => gates(input)
    }
    deleteTree(out)
    Iter(failed == failedBefore, lat, sinkBytes)
  }

  /** Whether `timed` samples the heap: only up to the end of the warm-up,
    * over which the heap peak is taken. */
  private var sampleHeap = true

  /** Run the body with the clock running, then sample the heap it left. */
  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    val secs = (System.nanoTime() - t0) / 1e9
    // events still queued for Spark's own listeners hold plans and metrics;
    // deliver them now, so neither the heap reading nor the next timed body
    // depends on when the bus gets to them
    PerfbenchBus.drain(spark.sparkContext)
    if (sampleHeap) heap.sample()
    (r, secs)
  }

  /** Checks run between timed bodies: listeners stop recording so check
    * jobs never count as program work. */
  private def unrecorded[T](body: => T): T =
    if (!tracer.enabled) body
    else {
      PerfbenchBus.drain(spark.sparkContext)
      listener.recording = false
      try body
      finally { PerfbenchBus.drain(spark.sparkContext); listener.recording = true }
    }

  /** Site file `f` through the path `graft.adtl.Main parse` takes:
    * fromFile -> parseCsv -> one write per table -> report, each output
    * checked against the truth. Returns the body time. */
  private def adtlFile(input: Path, f: Int, out: Path, truth: Map[String, String]): Double = {
    val spec = input.resolve(truth("spec"))
    val csv = input.resolve(truth(s"file.$f.file"))
    val written = mutable.ArrayBuffer[(String, Path, Boolean)]()
    val (report, secs) = timed {
      tracer.span("file", csv.getFileName.toString) {
        op(s"parse ${csv.getFileName}") {
          val parser = tracer.span("adtl.spec")(AdtlParser.fromFile(spec.toString))
          val tables = tracer.span("adtl.parse")(parser.parseCsv(spark, csv.toString))
          (parser, tables)
        }.flatMap { case (parser, tables) =>
          specRules = ruleCount(parser)
          tables.keys.foreach { t =>
            val path = out.resolve(s"out-$t.csv")
            val ok = op(s"write $t") {
              tracer.span("adtl.sink", t) {
                parser.writeCsv(tables, t, path.toString)
              }
            }.isDefined
            written += ((t, path, ok))
          }
          op("report")(tracer.span("adtl.report")(parser.report(tables)))
        }
      }
    }
    unrecorded {
      written.foreach { case (t, path, ok) =>
        sinkBytes += Checks.bytes(path)
        if (ok) {
          val bad = try Checks.siteTable(t, path, truth, f)
            catch { case e: Exception => Seq(s"check of $t threw $e") }
          if (bad.nonEmpty) fail(s"${csv.getFileName} table $t: ${bad.take(5).mkString("; ")}")
        }
      }
      report.foreach { r =>
        val bad = Checks.report(r, truth, s"file.$f.")
        if (bad.nonEmpty) fail(s"${csv.getFileName} report: ${bad.mkString("; ")}")
      }
      // a CLI run ends here and takes its cached parse input with it; a
      // cache left behind would let the next parse of the same file skip
      // the scan
      spark.catalog.clearCache()
    }
    secs
  }

  /** Attribute rules after for/ref expansion. */
  private def ruleCount(p: AdtlParser): Long = p.spec.tableRules.values.map {
    case m: collection.Map[_, _] => m.size.toLong
    case l: List[_] => l.map {
      case e: collection.Map[_, _] => e.keys.count(_ != "if").toLong
      case _ => 1L
    }.sum
    case _ => 0L
  }.sum

  /** Every gate, in this pass's order, through a noop write that observes
    * the row count, the fingerprint and the JSON size of the output; each
    * checked against the recorded output. Returns each gate's body time. */
  private def gates(input: Path): Seq[Double] = {
    val order = gateRng.shuffle(GateData.Gates)
    log(s"gate order: ${order.mkString(" ")}")
    order.map { g =>
      val (result, secs) = timed {
        op(s"gate $g") {
          tracer.span("ops", g) {
            val df = graft.SparkEntry.queries(g)(spark, input.toString)
            val cols = Checks.fingerprintColumns(df.schema)
            val obs = Observation(s"perfbench_$g")
            df.observe(obs,
              count(lit(1)).as("rows"),
              sum(xxhash64(cols: _*).cast("decimal(38,0)")).as("fp"),
              sum(octet_length(to_json(struct(df.columns.map(c =>
                col("`" + c.replace("`", "``") + "`")): _*)))).as("bytes"))
              .write.format("noop").mode("overwrite").save()
            val m = obs.get
            (m("rows").asInstanceOf[Long],
              Option(m("fp")).map(_.asInstanceOf[java.math.BigDecimal])
                .getOrElse(java.math.BigDecimal.ZERO),
              Option(m("bytes")).map(_.asInstanceOf[Long]).getOrElse(0L))
          }
        }
      }
      result.foreach { case (rows, fp, bytes) =>
        sinkBytes += bytes
        val bad = Checks.gate(g, rows, fp, GateData.Expected)
        if (bad.nonEmpty) fail(bad.mkString("; "))
      }
      // the gates persist and never unpersist; drop what this one left, as
      // the end of its process would, so the next starts from a clean cache
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      secs
    }
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(x => Files.delete(x))

  // ---- the run ----------------------------------------------------------------

  def run(): Boolean = {
    val out = a.work.resolve("out")
    val truth = Out.readTsv(a.data.resolve("truth.tsv"))

    // set-up: from JVM start to a ready session, plus the timed bodies of
    // one cold pass over the input (class loading, JIT warm-up); the pass's
    // output checks and forced collections are outside it
    spark = newSession()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val first = iteration(a.data, out)
    val setup = sessionS + first.wall
    log(f"setup $setup%.3f s: session $sessionS%.3f s, cold pass ${first.wall}%.3f s")

    if (a.trace) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(listener)
      listener.recording = false
    }
    val untraced = mutable.ArrayBuffer[Iter]()
    val traced = mutable.ArrayBuffer[Iter]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // warm-up passes, inside the window: outputs checked, times left out.
    // The retained job and stage history grows the heap a little with each
    // pass, so the heap peak is taken over these, which every run makes
    heap.peak = 0L
    val warm = (1 to WarmPasses).map(_ => iteration(a.data, out))
    val heapPeak = heap.peak
    sampleHeap = false
    var iter = 0
    // start another iteration only while it should mostly fit the window,
    // and until there are MinPasses untraced ones
    def last = (untraced ++ traced).lastOption.map(_.wall).getOrElse(0.0)
    while (elapsed + last / 2 < a.seconds || untraced.size < MinPasses ||
        (a.trace && traced.isEmpty)) {
      // traced and untraced passes alternate, so JIT warm-up over the run
      // does not bias the tracing overhead
      if (a.trace) {
        PerfbenchBus.drain(spark.sparkContext)
        tracer.enabled = iter % 2 == 1
        listener.recording = tracer.enabled
      }
      tracer.iteration = iter
      val it = iteration(a.data, out)
      (if (tracer.enabled) traced else untraced) += it
      iter += 1
    }
    if (a.trace) {
      PerfbenchBus.drain(spark.sparkContext)
      listener.recording = false
    }

    val ok = untraced.filter(_.ok)
    val inBytes = truth("input.bytes").toDouble
    val lat = ok.flatMap(_.latencies).toSeq
    val wall = median(ok.map(_.wall).toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setup, "s"),
        ("wall_s", wall, "s"),
        ("file_latency_p50_s", median(lat), "s"),
        ("file_latency_tail_s", median(ok.map(_.latencies.max).toSeq), "s"),
        ("heap_peak_mb", heapPeak / 1048576.0, "MB"),
        ("out_bytes_per_in_byte", median(ok.map(_.outBytes / inBytes).toSeq), "ratio"))
      else layerMetrics(truth, traced.toSeq, wall, lat.size)
    log(f"iterations: ${warm.size} warm-up, ${untraced.size} untraced, ${traced.size} traced; " +
      s"warm-up ${warm.map(i => f"${i.wall}%.3f").mkString(" ")}; " +
      s"wall samples ${untraced.map(i => f"${i.wall}%.3f").mkString(" ")}; " +
      s"latencies ${untraced.map(_.latencies.map(x => f"$x%.3f").mkString(",")).mkString(" ")}")
    if (a.trace) {
      val spansFile = a.work.resolve("spans.json")
      tracer.write(spansFile)
      log(s"spans written to $spansFile")
    }
    log("heap samples MB: " + heap.seen.map(b => f"${b / 1048576.0}%.1f").mkString(" "))
    failures.foreach(f => log(s"failure: $f"))
    val correct = failed == 0 && ok.nonEmpty
    val body = metrics.map { case (n, v, u) =>
      Out.quote(n) + ": " + Out.json(Out.obj("value" -> (if (v.isNaN) 0.0 else v), "unit" -> u))
    }.mkString("{", ", ", "}")
    log(s"result at ${(System.currentTimeMillis() - jvmStartMs) / 1e3} s")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $body}""")
    correct
  }

  private def layerMetrics(truth: Map[String, String], traced: Seq[Iter], untracedWall: Double,
      samples: Int): Seq[(String, Double, String)] = {
    val n = math.max(1, traced.size).toDouble
    val spans = tracer.spans.toSeq
    val idsOf = spans.groupBy(_.name).map { case (k, ss) => k -> ss.map(_.id).toSet }
    def per(x: Double) = x / n
    def spanS(name: String, unit: Option[String] = None) =
      per(spans.filter(s => s.name == name && unit.forall(_ == s.unit)).map(_.durNs).sum / 1e9)
    def stats(name: String) = listener.totals(idsOf.getOrElse(name, Set.empty[Int]))
    val all = listener.totals()
    val self = Spans.selfByName(spans)
    val tasks = all.taskMs.map(_ / 1000.0).toSeq
    val inputRecords = per(all.inputRecords.toDouble)
    val tracedWall = median(traced.filter(_.ok).map(_.wall))
    Seq(
      ("adtl.spec.load_s", spanS("adtl.spec"), "s"),
      ("adtl.spec.rules", specRules.toDouble, "count"),
      ("adtl.parse.build_s", spanS("adtl.parse"), "s"),
      ("adtl.parse.jobs", per(stats("adtl.parse").jobs.toDouble), "count"),
      ("catalyst.analysis_s", per(listener.analysisMs / 1000.0), "s"),
      ("catalyst.optimization_s", per(listener.optimizationMs / 1000.0), "s"),
      ("catalyst.planning_s", per(listener.planningMs / 1000.0), "s"),
      ("catalyst.plan_nodes", per(listener.planNodes.toDouble), "count"),
      ("exec.task_s", per(all.runMs / 1000.0), "s"),
      ("exec.task_cpu_s", per(all.cpuNs / 1e9), "s"),
      ("exec.gc_s", per(all.gcMs / 1000.0), "s"),
      ("exec.shuffle_write_bytes", per(all.shuffleWrite.toDouble), "bytes"),
      ("exec.shuffle_read_bytes", per(all.shuffleRead.toDouble), "bytes"),
      ("exec.spill_bytes", per(all.spill.toDouble), "bytes"),
      ("exec.task_p50_s", if (tasks.isEmpty) 0.0 else median(tasks), "s"),
      ("exec.task_max_s", if (tasks.isEmpty) 0.0 else tasks.max, "s"),
      ("exec.jobs", per(all.jobs.toDouble), "count"),
      ("exec.stages", per(all.stages.toDouble), "count"),
      ("exec.tasks", per(all.tasks.toDouble), "count"),
      ("exec.task_wait_s", per(all.waitMs / 1000.0), "s"),
      ("exec.input_records", inputRecords, "count"),
      ("exec.cache_peak_bytes", listener.cachedPeak.toDouble, "bytes"),
      ("exec.scan_amplification", inputRecords / truth("input.rows").toDouble, "ratio"),
      ("adtl.sink.write_s", spanS("adtl.sink"), "s"),
      ("adtl.sink.rows", per(stats("adtl.sink").outputRecords.toDouble), "count"),
      ("adtl.sink.bytes", per(traced.map(_.outBytes).sum.toDouble), "bytes"),
      ("adtl.report.s", spanS("adtl.report"), "s"),
      ("adtl.report.jobs", per(stats("adtl.report").jobs.toDouble), "count")) ++
      Seq("file", "adtl.spec", "adtl.parse", "adtl.sink", "adtl.report").map(k =>
        (s"$k.self_s", per(self.getOrElse(k, 0L) / 1e9), "s")) ++
      // every workload reports every metric: the gate metrics are 0 where
      // no gate runs, as the adtl ones are on operator_gates
      GateData.Gates.sorted.flatMap { g =>
        val ids = spans.filter(s => s.name == "ops" && s.unit == g).map(_.id).toSet
        Seq((s"ops.$g.s", spanS("ops", Some(g)), "s"),
          (s"ops.$g.task_s", per(listener.totals(ids).runMs / 1000.0), "s"))
      } ++ Seq(
        ("trace.wall_untraced_s", untracedWall, "s"),
        ("trace.wall_traced_s", tracedWall, "s"),
        ("trace.overhead_s", tracedWall - untracedWall, "s"),
        ("latency.samples", samples.toDouble, "count"))
  }
}
