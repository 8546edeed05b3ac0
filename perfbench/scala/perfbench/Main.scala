package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.perfbenchshim.Bus
import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload in one JVM on `local[cores]`.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --cores N
  *                  --inputs DIR --inputs-tag T --work DIR --references DIR
  *                  --results FILE [--corrupt]
  *
  * The inputs in `inputs` were written by `Prepare` in a JVM of its
  * own. Set-up (JVM start, session, workload set-up), one cold
  * iteration, then warm iterations until `seconds` have passed since the
  * cold one started. Each iteration's output is checked after its time
  * is taken. With --trace 1, warm iterations alternate between traced
  * (spans, Spark/Catalyst listeners, JVM counters, then the layer
  * probes) and untraced; the untraced ones give the tracing overhead.
  * Metric values go to `results` as JSON; their units are those of
  * BENCHMARK.json.
  */
object Main {

  final case class Args(workload: String = "", seed: Long = 1, seconds: Double = 10,
                        trace: Boolean = false, sf: Double = 0.01, cores: Int = 1,
                        inputs: File = new File("inputs"), inputsTag: String = "inputs",
                        data: Option[File] = None, work: File = new File("."),
                        references: File = new File("references"),
                        results: File = new File("result.json"), corrupt: Boolean = false)

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t     => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t  => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t    => parse(t, a.copy(trace = v == "1"))
    case "--sf" :: v :: t       => parse(t, a.copy(sf = v.toDouble))
    case "--cores" :: v :: t    => parse(t, a.copy(cores = v.toInt))
    case "--inputs" :: v :: t   => parse(t, a.copy(inputs = new File(v)))
    case "--inputs-tag" :: v :: t => parse(t, a.copy(inputsTag = v))
    case "--data" :: v :: t     => parse(t, a.copy(data = Some(new File(v))))
    case "--work" :: v :: t     => parse(t, a.copy(work = new File(v)))
    case "--references" :: v :: t => parse(t, a.copy(references = new File(v)))
    case "--results" :: v :: t  => parse(t, a.copy(results = new File(v)))
    case "--corrupt" :: t       => parse(t, a.copy(corrupt = true))
    case Nil                    => a
    case other :: _             => throw new IllegalArgumentException(s"unknown argument $other")
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // graft.Bench's size for the catalog: the default 100 entries
      // recompile the corpus keys' generated classes every iteration
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def loadAvg(): String =
    new String(java.nio.file.Files.readAllBytes(new File("/proc/loadavg").toPath)).trim
      .split(" ").take(3).mkString(" ")

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }

  final case class Iter(i: Int, traced: Boolean, seconds: Double, outcome: Outcome,
                        layers: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(Workload.names.contains(a.workload),
      s"--workload must be one of ${Workload.names.mkString(", ")}")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = loadAvg()
    val runId = s"${a.workload}-${a.seed}-${if (a.trace) "trace" else "e2e"}-${ProcessHandle.current().pid()}"
    a.work.mkdirs()

    val tMain = System.currentTimeMillis()
    val spark = session(a.cores, a.work)
    val tSession = System.currentTimeMillis()
    val tracer = new Tracer(runId)
    val counters = new SparkCounters
    val phases = new CatalystPhases
    val ctx = new Ctx(spark, a.work, a.inputs, a.seed, a.inputsTag, a.corrupt,
      tracer, counters, a.references)
    val w = Workload(a.workload, ctx)
    w.setup()
    val tSetup = System.currentTimeMillis()
    val setupS = (tSetup - jvmStartMs) / 1e3
    System.err.println(s"[perfbench] set-up: jvm ${(tMain - jvmStartMs) / 1e3}s, session " +
      s"${(tSession - tMain) / 1e3}s, workload ${(tSetup - tSession) / 1e3}s")

    val iters = ArrayBuffer.empty[Iter]
    def runIter(i: Int, traced: Boolean): Unit = {
      tracer.iter = i
      tracer.enabled = traced
      val mark = if (traced) {
        counters.reset()
        phases.reset()
        spark.sparkContext.addSparkListener(counters)
        spark.listenerManager.register(phases)
        JvmCounters.mark()
      } else null
      val t0 = System.nanoTime()
      val done =
        try Right(tracer.span("iteration")(w.iterate(i)))
        catch { case NonFatal(e) => Left(s"exception: $e") }
      val secs = (System.nanoTime() - t0) / 1e9
      // the iteration's own counters, before its checks add JIT and GC work
      val measured = if (!traced) Map.empty[String, Double] else {
        Bus.drain(spark.sparkContext)
        counters.snapshot(secs, a.cores) ++ phases.snapshot ++ JvmCounters.since(mark)
      }
      val outcome = done match {
        case Right(rows) =>
          Outcome(rows, try w.verify(i) catch { case NonFatal(e) => Seq(s"check exception: $e") })
        case Left(problem) => Outcome(0, Seq(problem))
      }
      var probeProblems = Seq.empty[String]
      val layers = if (!traced) Map.empty[String, Double] else {
        probeProblems = try w.probe(i) catch { case NonFatal(e) => Seq(s"probe exception: $e") }
        Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(counters)
        spark.listenerManager.unregister(phases)
        measured ++ w.layers(i)
      }
      tracer.enabled = false
      w.release()
      // every iteration starts from a collected heap
      System.gc()
      val checked = outcome.copy(problems = outcome.problems ++ probeProblems)
      checked.problems.foreach(p => System.err.println(s"[perfbench] iteration $i: $p"))
      iters += Iter(i, traced, secs, checked, layers)
    }

    val first = System.nanoTime()
    runIter(0, a.trace)
    // warm iterations keep getting faster for a while (JIT): only the
    // second half of them is counted
    val minWarm = if (a.trace) 10 else 8
    var i = 1
    def elapsed = (System.nanoTime() - first) / 1e9
    def sinceStart = (System.currentTimeMillis() - jvmStartMs) / 1e3
    while ((i <= minWarm || elapsed < a.seconds) && sinceStart < 110) {
      runIter(i, a.trace && i % 2 == 0)
      i += 1
    }
    val peakRssMb = vmHwmMb()
    stop(spark)
    val loadEnd = loadAvg()

    // --- results
    val warm = iters.filter(_.i > 0).drop((iters.size - 1) / 2)
    val ok = (xs: Seq[Iter]) => { val g = xs.filter(_.outcome.problems.isEmpty); if (g.nonEmpty) g else xs }
    val e2e = ok(warm.filterNot(_.traced).toSeq)
    val failed = iters.count(_.outcome.problems.nonEmpty)
    val p50 = median(e2e.map(_.seconds))
    val metrics = scala.collection.mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "cold_iter_s" -> iters.head.seconds,
      "iter_s_p50" -> p50,
      "rows_per_s" -> median(e2e.map(_.outcome.rows.toDouble)) / p50,
      "peak_rss_mb" -> peakRssMb,
      "failed_frac" -> failed.toDouble / iters.size)
    // the highest percentile with at least ten samples beyond it
    val pHigh = math.floor(100 * (1 - 10.0 / e2e.size)).toInt
    if (pHigh > 50) metrics(s"iter_s_p$pHigh") = percentile(e2e.map(_.seconds), pHigh)
    if (a.trace) {
      val traced = ok(warm.filter(_.traced).toSeq)
      val names = traced.flatMap(_.layers.keys).distinct.sorted
      for (n <- names) metrics(n) = median(traced.flatMap(_.layers.get(n)))
      val tracedP50 = median(traced.map(_.seconds))
      metrics("trace.iter_s_p50") = tracedP50
      metrics("trace.untraced_iter_s_p50") = p50
      metrics("trace.overhead_ratio") = tracedP50 / p50
      tracer.writeJsonl(new File(a.results.getPath.stripSuffix(".json") + ".spans.jsonl").toPath)
    }

    def js(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    val jvmFlags = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    val json =
      s"""{"workload":${js(a.workload)},"seed":${a.seed},"trace":${a.trace},"inputs":${js(a.inputsTag)},
         |"host":{"nproc":${Runtime.getRuntime.availableProcessors},"local_n":${a.cores},
         |"jvm":${js(System.getProperty("java.vm.name") + " " + System.getProperty("java.version"))},
         |"jvm_flags":[${jvmFlags.map(js).mkString(",")}],
         |"load_start":${js(loadStart)},"load_end":${js(loadEnd)}},
         |"attempted":${iters.size},"failed":$failed,"counted":${e2e.size},
         |"failures":[${iters.flatMap(it => it.outcome.problems.map(p => js(s"iteration ${it.i}: $p"))).mkString(",")}],
         |"setup_s":{"jvm":${(tMain - jvmStartMs) / 1e3},"session":${(tSession - tMain) / 1e3},"workload":${(tSetup - tSession) / 1e3}},
         |"iterations":[${iters.map(it => s"""{"i":${it.i},"traced":${it.traced},"s":${num(it.seconds)},"rows":${it.outcome.rows},"ok":${it.outcome.problems.isEmpty}}""").mkString(",")}],
         |"metrics":{${metrics.map { case (n, v) => s"""${js(n)}:${num(v)}""" }.mkString(",")}}}
         |""".stripMargin
    java.nio.file.Files.write(a.results.toPath, json.getBytes("UTF-8"))
  }
}

/** Writes one run's inputs and expected outputs in a JVM of its own,
  * before the measured one starts, so that neither is part of the run's
  * set-up:
  *
  *   perfbench.Prepare --workload W --seed N --sf F --cores N --inputs DIR [--data FIXTURE_DIR]
  *
  * With --data, the tables come from a fixture directory instead of
  * the generator (to compare the two; see README.md).
  */
object Prepare {
  def main(argv: Array[String]): Unit = {
    val a = Main.parse(argv.toList)
    Workload.prepare(a.workload, a.inputs, a.seed, a.sf, a.data, a.cores)
  }
}
