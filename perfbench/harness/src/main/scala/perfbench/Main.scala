package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` builds it and runs
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --data <gate data dir> --work <scratch dir> --out <trace dir>
  * }}}
  *
  * It sets up the named workload, runs its operations in a closed loop
  * with one client thread for `--seconds` (and at least the workload's
  * minimum count), checks every delivered result, and prints one JSON
  * detail line followed by the result line the benchmark contract asks
  * for. With `--trace 1` the result carries the per-layer metrics instead
  * of the end-to-end ones and the spans go to `<out>/spans-<workload>-<seed>.jsonl`.
  */
object Main {

  val workloads: Seq[String] = Seq("upload_upsert", "page_browse", "gate_mix")

  /** The gates `gate_mix` runs, in the order the seed then permutes. */
  val mixGates: Seq[String] = Seq(
    "q18_large_volume", "q21_sole_late_supplier", "agg_approx_distinct",
    "sim_knn_brute")

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, data: String, work: String, out: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def get(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
      }, get("data"), get("work"), get("out"))
    require(workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  /** graft.Bench's session settings, with spark.local.dir and the
    * warehouse moved into the run's own scratch directory.
    */
  def session(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.cleaner.periodicGC.interval", "90s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One measured operation: its latency and whether its result checked. */
  final case class Op(label: String, ms: Double, ok: Boolean, rows: Long)

  /** Runs `body` as request `req` (its job group): (ms, its result). A
    * request that throws yields None, so it fails its check instead of
    * ending the run.
    */
  def request[A](spark: SparkSession, req: String)(body: => A): (Double, Option[A]) = {
    spark.sparkContext.setJobGroup(req, req)
    val t0 = System.nanoTime()
    val out =
      try Some(body)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] request $req failed: $e")
        None
      } finally spark.sparkContext.clearJobGroup()
    ((System.nanoTime() - t0) / 1e6, out)
  }

  def procField(file: String, f: String => Option[Double]): Double =
    try {
      val src = scala.io.Source.fromFile(file)
      try src.getLines().flatMap(f).toSeq.headOption.getOrElse(0.0)
      finally src.close()
    } catch { case _: java.io.IOException => 0.0 }

  def loadavg(): Double = procField("/proc/loadavg", l => l.split(" ").headOption.map(_.toDouble))

  def peakRssMb(): Double = procField("/proc/self/status", l =>
    if (l.startsWith("VmHWM:")) Some(l.split("\\s+")(1).toDouble / 1024) else None)

  /** Heap still in use after full collections: what the run retains.
    * The pauses between them let Spark's ContextCleaner drop the blocks
    * each collection found unreachable.
    */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(500) }
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric $v")
    v.toString
  }

  /** What a run reports once its workload is gone. */
  final case class Outcome(setup: Seq[(String, Double)], ops: Int, failed: Int,
      measuredS: Double, finalOk: Boolean, p50: Double, mean: Double,
      layers: Map[String, Double], detail: Seq[(String, Double)])

  /** Sets up the workload, runs and checks its operations, and reduces
    * them to an [[Outcome]]. The workload, its inputs and its expected
    * state are unreachable once this returns, so the retained heap the
    * caller measures next is the program's, not the benchmark's.
    */
  def measure(a: Args, spark: SparkSession, tr: Trace, setup: SetupClock,
      work: Path): Outcome = {
    val wl: Workload = a.workload match {
      case "upload_upsert" => new UploadUpsert(spark, tr, a.seed, work)
      case "page_browse" => new PageBrowse(spark, tr, a.seed, work)
      case "gate_mix" => new GateMix(spark, tr, a.seed, a.data)
    }
    wl.setup(setup)
    val ops = ArrayBuffer[Op]()
    val t0 = System.nanoTime()
    while (ops.size < wl.minOps || System.nanoTime() - t0 < a.seconds * 1000000000L)
      ops += wl.op(ops.size)
    val measuredS = (System.nanoTime() - t0) / 1e9
    val finalOk = wl.finish()
    val failed = if (finalOk) ops.count(!_.ok) else ops.size
    val (p50, mean) = wl.summary(ops.toSeq)
    val layers =
      if (!a.trace) Map.empty[String, Double]
      else { tr.drain(); wl.layers(ops.toSeq) }
    Outcome(setup.parts.toSeq, ops.size, failed, measuredS, finalOk, p50, mean,
      layers, wl.detail(ops.toSeq))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val load0 = loadavg()
    val work = Paths.get(a.work).toAbsolutePath
    Files.createDirectories(work)
    val tr = new Trace(a.trace)
    val cpus = Runtime.getRuntime.availableProcessors()
    val setup = new SetupClock(tr)
    val spark = setup("session_s")(session(cpus, work))
    tr.attach(spark)
    val o = measure(a, spark, tr, setup, work)
    val heapMb = retainedHeapMb()
    val load1 = loadavg()

    val setupS = o.setup.map(_._2).sum
    val e2e = Seq("setup_s" -> (setupS, "s"), "op_p50_ms" -> (o.p50, "ms"),
      "op_mean_ms" -> (o.mean, "ms"), "heap_retained_mb" -> (heapMb, "MB"))
    val metrics =
      if (!a.trace) e2e
      else Layers.complete(o.layers ++
        o.setup.map { case (k, v) => s"setup.$k" -> v } ++
        Map("trace.op_p50_ms" -> o.p50, "trace.op_mean_ms" -> o.mean,
          "jvm.peak_rss_mb" -> peakRssMb()))
    tr.writeSpans(Paths.get(a.out, s"spans-${a.workload}-${a.seed}.jsonl"))

    val detail = Seq(
      "workload" -> s""""${a.workload}"""", "seed" -> a.seed.toString,
      "cpus" -> cpus.toString, "ops" -> o.ops.toString,
      "measured_s" -> num(o.measuredS), "final_check" -> o.finalOk.toString,
      "loadavg_start" -> num(load0), "loadavg_end" -> num(load1),
      "peak_rss_mb" -> num(peakRssMb())) ++
      o.detail.map { case (k, v) => k -> num(v) } ++
      o.setup.map { case (k, v) => s"setup_$k" -> num(v) }
    println(detail.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
    spark.stop()

    val metricJson = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    println(s"""{"correct":${o.failed == 0},"attempted":${o.ops},""" +
      s""""failed":${o.failed},"metrics":$metricJson}""")
  }
}

/** Set-up time by part: session, inputs, table build and warm-up. */
final class SetupClock(tr: Trace) {
  val parts: scala.collection.mutable.LinkedHashMap[String, Double] =
    scala.collection.mutable.LinkedHashMap(
      "session_s" -> 0.0, "inputs_s" -> 0.0, "table_build_s" -> 0.0, "warm_s" -> 0.0)

  def apply[A](part: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try tr.span(s"setup.$part", "setup")(body)
    finally parts(part) += (System.nanoTime() - t0) / 1e9
  }
}

/** A workload: set-up, one measured operation at a time, a final check,
  * and how its operations summarise.
  */
trait Workload {
  /** Operations a run makes at least, whatever `--seconds` says. */
  def minOps: Int
  def setup(clock: SetupClock): Unit
  def op(i: Int): Main.Op
  /** Checks state the operations built together; false fails them all. */
  def finish(): Boolean
  /** (op_p50_ms, op_mean_ms). */
  def summary(ops: Seq[Main.Op]): (Double, Double) =
    (Stats.median(ops.map(_.ms)), Stats.mean(ops.map(_.ms)))
  /** Per-layer metrics of a traced run, every name declared in BENCHMARK.json. */
  def layers(ops: Seq[Main.Op]): Map[String, Double]
  /** The workload's own figures for the detail line. */
  def detail(ops: Seq[Main.Op]): Seq[(String, Double)]
}

/** Prints the DuckDB oracle SQL of every `gate_mix` gate as one JSON
  * object, for `perfbench/gate_oracle.py`.
  */
object OracleSql {
  def main(argv: Array[String]): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.createObjectNode()
    Main.mixGates.foreach(g => node.put(g, graft.SparkEntry.oracleSql(g)))
    println(m.writeValueAsString(node))
  }
}
