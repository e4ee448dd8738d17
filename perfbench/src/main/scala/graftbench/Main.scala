package graftbench

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark: set up (timed, repeated), then passes
  * over a fixed amount of work until the run's time is spent.
  */
trait Workload {
  /** Untimed, once per process before the timed set-ups. */
  def warmup(spark: SparkSession): Unit = ()
  def setup(spark: SparkSession, tracer: Option[Tracer]): Unit
  /** Untimed, once in the measured session after the set-ups. */
  def prime(): Unit = ()
  def pass(r: Recorder): Unit
  /** Checks on the end state, after the last pass. */
  def finish(r: Recorder): Unit = ()
  /** Table version, file count and bytes of the tracker's store. */
  def layout(): (Long, Long, Long) = (0L, 0L, 0L)
  def teardown(): Unit
}

/** Everything a run measures and checks. */
final class Recorder {
  val passS = ArrayBuffer.empty[Double]
  val opMs = ArrayBuffer.empty[Double]
  val samples = LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val details = LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val problems = ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def pass(s: Double): Unit = passS += s
  /** One completed operation (sync step, batch or query) and its latency. */
  def op(ms: Double): Unit = { attempted += 1; opMs += ms }
  def sample(name: String, v: Double): Unit = samples.getOrElseUpdate(name, ArrayBuffer.empty) += v
  def detail(name: String, v: Double): Unit = details.getOrElseUpdate(name, ArrayBuffer.empty) += v
  def check(what: String, found: Seq[String]): Unit = {
    attempted += 1
    if (found.nonEmpty) { failed += 1; problems ++= found.map(p => s"$what: $p") }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

}

object Main {
  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def session(cores: Int, work: java.io.File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      // the serving-session confs graft.Bench ships with
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def metricJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(sys.error("--seed is required"))
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(sys.error("--seconds is required"))
    val trace = arg(args, "--trace").contains("1")
    val benchDir = new java.io.File(arg(args, "--bench-dir").getOrElse("perfbench"))
    val work = new java.io.File(arg(args, "--work").getOrElse("perfbench/work"))
    val cores = Runtime.getRuntime.availableProcessors()
    work.mkdirs()

    val wl: Workload = workload match {
      case "tracker" => new TrackerWorkload(seed, work, TrackerWorkload.Config(
        gapBlocks = 60, denseRaw = 2800, heads = 4, maxDepth = 2, headRaw = 40,
        readWindow = 100))
      case "query_mix" => new QueryMix(seed, new java.io.File(benchDir, "data/sf0.01").getPath,
        MixQuery.load(new java.io.File(benchDir, "queries.tsv")))
      case other => sys.error(s"unknown workload $other")
    }
    val rec = new Recorder
    val tracer = if (trace) Some(new Tracer) else None
    val engine = new EngineListener
    val stream = new StreamTotals

    // the process's first session start and the workload's warm-up are
    // untimed; then the set-up is timed several times, and their
    // median is reported
    val setupS = ArrayBuffer.empty[Double]
    val w0 = System.nanoTime()
    var spark: SparkSession = session(cores, work)
    wl.warmup(spark)
    spark.stop()
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setups = 3
    (1 to setups).foreach { i =>
      val t0 = System.nanoTime()
      spark = session(cores, work)
      wl.setup(spark, if (i == setups) tracer else None)
      setupS += (System.nanoTime() - t0) / 1e9
      if (i < setups) { wl.teardown(); spark.stop() }
    }
    wl.prime()
    if (trace) {
      spark.sparkContext.addSparkListener(engine)
      spark.streams.addListener(stream)
      tracer.foreach(_.reset())
    }

    val cpu0 = CpuStat.read()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var broken = false
    // another pass only when it should end inside the run's time
    var lastPassNs = 0L
    do {
      val p0 = System.nanoTime()
      try { wl.pass(rec); lastPassNs = System.nanoTime() - p0 }
      catch {
        case e: Exception =>
          broken = true
          rec.check("pass", Seq(s"aborted: $e"))
          e.printStackTrace()
      }
    } while (!broken && System.nanoTime() + lastPassNs <= deadline)
    val wallS = (System.nanoTime() - t0) / 1e9
    val (steal, busy) = CpuStat.read().since(cpu0)
    if (!broken) wl.finish(rec)
    val layout = if (broken) (0L, 0L, 0L) else wl.layout()

    val passes = rec.passS.length.toDouble
    val endToEnd = Seq(
      ("setup_s", Stats.median(setupS.toSeq), "s"),
      ("pass_s", Stats.median(rec.passS.toSeq), "s"),
      ("op_ms.p50", Stats.median(rec.opMs.toSeq), "ms"),
      ("peak_rss_mb", peakRssMb(), "MB"))

    val info = LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "passes" -> rec.passS.length, "ops" -> rec.opMs.length, "wall_s" -> wallS, "warmup_s" -> warmupS,
      "setups_s" -> setupS.toSeq, "host.steal_pct" -> steal, "host.busy_pct" -> busy)
    rec.samples.foreach { case (k, xs) =>
      info(s"$k.p50") = Stats.median(xs.toSeq); info(s"$k.n") = xs.length
    }
    rec.details.foreach { case (k, xs) => info(k) = Stats.median(xs.toSeq) }
    info("failed_ratio") = rec.failed.toDouble / math.max(1L, rec.attempted)
    rec.problems.take(100).foreach(p => System.err.println(s"[perfbench] check failed: $p"))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) endToEnd
      else {
        org.apache.spark.graftbench.BusDrain(spark.sparkContext)
        val t = tracer.get
        Layers.metrics(t, engine, stream, layout, passes, rec, wallS, cores, steal, busy) ++
          endToEnd.filter(_._1 != "setup_s").map { case (k, v, u) => (s"trace.$k", v, u) }
      }
    tracer.foreach(_.write(new java.io.File(work, s"trace-$workload-$seed.jsonl").toPath))
    wl.teardown()
    spark.stop()

    println(info.map { case (k, v) => s""""$k": ${v match {
      case s: String => "\"" + s + "\""
      case d: Double => num(d)
      case xs: Seq[_] => xs.map { case d: Double => num(d); case o => o.toString }.mkString("[", ", ", "]")
      case o => o.toString
    }}""" }.mkString("{\"info\": {", ", ", "}}"))
    println(s"""{"correct": ${rec.failed == 0}, "attempted": ${rec.attempted}, "failed": ${rec.failed}, "metrics": ${metricJson(metrics)}}""")
  }
}
