package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Params, Relational, Upsert}
import graft.streaming.Streams

/** Per-layer metric names (declared in BENCHMARK.json in this order) and
  * the per-operation means they report.
  */
object Layers {
  private def names(prefix: String, unitOf: (String, String)*) =
    unitOf.map { case (n, u) => s"$prefix.$n" -> u }

  val declared: Seq[(String, String)] =
    names("spark", "plan_ms" -> "ms", "jobs" -> "count", "stages" -> "count",
      "tasks" -> "count", "task_run_ms" -> "ms", "task_cpu_ms" -> "ms",
      "idle_ms" -> "ms", "gc_ms" -> "ms", "shuffle_read_bytes" -> "bytes",
      "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes",
      "input_rows" -> "count") ++
    names("streams", "start_ms" -> "ms", "batches" -> "count",
      "latest_offset_ms" -> "ms", "add_batch_ms" -> "ms",
      "wal_commit_ms" -> "ms", "trigger_ms" -> "ms", "input_rows" -> "count") ++
    names("upsert", "log_files" -> "count", "log_rows" -> "count",
      "live_ratio" -> "ratio", "merge_ms" -> "ms") ++
    names("relational", "page_ms" -> "ms", "rows_examined_per_row" -> "ratio") ++
    Main.mixGates.flatMap(g => names(s"gate.$g", "s" -> "s", "cpu_ms" -> "ms",
      "jobs" -> "count", "plan_ms" -> "ms", "shuffle_bytes" -> "bytes",
      "gc_ms" -> "ms")) ++
    names("setup", "session_s" -> "s", "inputs_s" -> "s",
      "table_build_s" -> "s", "warm_s" -> "s") ++
    names("trace", "op_p50_ms" -> "ms", "op_mean_ms" -> "ms") ++
    names("jvm", "peak_rss_mb" -> "MB")

  /** Every declared metric in declared order, 0 where the workload does
    * not exercise the layer.
    */
  def complete(values: Map[String, Double]): Seq[(String, (Double, String))] = {
    val unknown = values.keySet -- declared.map(_._1)
    require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    declared.map { case (k, u) => k -> (values.getOrElse(k, 0.0), u) }
  }

  /** Engine totals of the requests `reqs`, per request. */
  def spark(tr: Trace, reqs: Set[String]): Map[String, Double] = {
    val e = tr.engine(reqs)
    val n = reqs.size.toDouble
    Map[String, Double]("spark.plan_ms" -> e.planMs, "spark.jobs" -> e.jobs,
      "spark.stages" -> e.stages, "spark.tasks" -> e.tasks,
      "spark.task_run_ms" -> e.taskRunMs, "spark.task_cpu_ms" -> e.taskCpuMs,
      "spark.idle_ms" -> e.idleMs, "spark.gc_ms" -> e.gcMs,
      "spark.shuffle_read_bytes" -> e.shuffleReadBytes,
      "spark.shuffle_write_bytes" -> e.shuffleWriteBytes,
      "spark.spill_bytes" -> e.spillBytes, "spark.input_rows" -> e.inputRows)
      .map { case (k, v) => k -> v / n }
  }

  def spanMeanMs(tr: Trace, name: String, reqs: Set[String]): Double = {
    val s = tr.spansOf(name, reqs)
    if (s.isEmpty) 0.0 else s.map(x => (x.endNs - x.startNs) / 1e6).sum / s.size
  }

  def req(i: Int): String = s"m$i"
  def reqs(ops: Seq[Main.Op]): Set[String] = ops.indices.map(req).toSet
}

/** The upsert log a stream appends to: the watched, staging, output and
  * checkpoint directories under `root`.
  */
final class Table(root: Path) {
  val staging: Path = Files.createDirectories(root.resolve("staging"))
  val watched: Path = Files.createDirectories(root.resolve("watched"))
  val out: String = root.resolve("log").toString
  val checkpoint: String = root.resolve("checkpoint").toString
}

object Table {
  val schema: StructType = StructType(Seq("locid", "loctimezone", "country",
    "locname", "business").map(StructField(_, StringType)) :+
    StructField("seq", LongType))
  val pageCols: Seq[String] = schema.fieldNames.toSeq.dropRight(1)

  def log(spark: SparkSession, t: Table): DataFrame =
    spark.read.schema(schema).parquet(t.out)

  def state(spark: SparkSession, t: Table): DataFrame =
    Upsert.lastWins(log(spark, t), Seq("locid"), col("seq"))
}

/** Imports uploads through the stream and tracks the state they must
  * produce; shared by the two workloads that import.
  */
final class Importer(spark: SparkSession, tr: Trace) {
  val expected = new ExpectedState

  /** Imports one upload to termination: (ms, processed every row). */
  def upload(t: Table, u: Upload, req: String): (Double, Boolean) = {
    val name = f"upload-${u.index}%05d.csv"
    u.writeCsv(t.staging.resolve(name))
    val (ms, q) = Main.request(spark, req)(tr.span("upload", req) {
      Files.move(t.staging.resolve(name), t.watched.resolve(name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      val q = tr.span("streams.start", req) {
        Streams.csvUpsertAvailableNow(spark, t.watched.toString, t.out,
          t.checkpoint, Table.schema, Seq("locid"), "seq")
      }
      tr.bindGroup(q.runId.toString, req)
      tr.span("streams.await", req)(q.awaitTermination())
      q
    })
    expected(u)
    (ms, q.exists(_.recentProgress.map(_.numInputRows).sum == u.rows))
  }

  /** The log's last-wins state equals the expected one: row count and
    * the order-insensitive sum of row hashes.
    */
  def stateMatches(t: Table): Boolean = {
    val c = Table.state(spark, t).agg(count(lit(1)),
      sum(xxhash64(concat_ws("|", Table.pageCols.map(col): _*)).cast("decimal(38,0)")))
      .head()
    val (rows, sumHash) = expected.checksum
    c.getLong(0) == rows && BigInt(c.getDecimal(1).toBigInteger) == sumHash
  }

  /** upsert.* of the log `t` holds now. */
  def upsertLayer(t: Table): Map[String, Double] = {
    val files = Files.list(java.nio.file.Paths.get(t.out))
    val nFiles = try files.iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet")) finally files.close()
    val logRows = Table.log(spark, t).count()
    val t0 = System.nanoTime()
    Table.state(spark, t).write.format("noop").mode("overwrite").save()
    Map("upsert.log_files" -> nFiles.toDouble, "upsert.log_rows" -> logRows.toDouble,
      "upsert.live_ratio" -> expected.keys.toDouble / logRows,
      "upsert.merge_ms" -> (System.nanoTime() - t0) / 1e6)
  }
}

/** Uploads imported one stream run each, to termination; no reads. */
final class UploadUpsert(spark: SparkSession, tr: Trace, seed: Long, work: Path)
    extends Workload {
  private val importer = new Importer(spark, tr)
  private val table = new Table(work.resolve("upload"))
  private val gen = new UploadGen(seed, small = (1000, 10000), large = Some((100000, 200000)))
  private val uploads = scala.collection.mutable.ArrayBuffer[Upload]()

  val minOps = 20

  def setup(clock: SetupClock): Unit = {
    clock("inputs_s")(uploads ++= Seq.fill(minOps)(gen.next()))
    // a separate table, so the measured log starts empty
    clock("warm_s") {
      val warm = new Table(work.resolve("warm"))
      val wgen = new UploadGen(seed + 1, small = (5000, 20000), large = None)
      val side = new Importer(spark, tr)
      (0 until 2).foreach(i => side.upload(warm, wgen.next(), s"w$i"))
    }
  }

  def op(i: Int): Main.Op = {
    if (i >= uploads.size) uploads += gen.next()
    val u = uploads(i)
    uploads(i) = null
    val (ms, ok) = importer.upload(table, u, Layers.req(i))
    Main.Op(s"upload-${u.rows}", ms, ok, u.rows.toLong)
  }

  def finish(): Boolean = importer.stateMatches(table)

  def layers(ops: Seq[Main.Op]): Map[String, Double] = {
    val rs = Layers.reqs(ops)
    val e = tr.engine(rs)
    val n = ops.size.toDouble
    def dur(keys: String*) = keys.map(k => e.streamMs.getOrElse(k, 0L)).sum / n
    Layers.spark(tr, rs) ++ importer.upsertLayer(table) ++ Map(
      "streams.start_ms" -> Layers.spanMeanMs(tr, "streams.start", rs),
      "streams.batches" -> e.batches / n,
      "streams.latest_offset_ms" -> dur("latestOffset"),
      "streams.add_batch_ms" -> dur("addBatch"),
      "streams.wal_commit_ms" -> dur("walCommit", "commitOffsets"),
      "streams.trigger_ms" -> dur("triggerExecution"),
      "streams.input_rows" -> e.streamRows / n)
  }

  def detail(ops: Seq[Main.Op]): Seq[(String, Double)] = {
    val s = ops.map(_.ms / 1000)
    Seq("import_rows_per_s" -> ops.map(_.rows).sum / s.sum,
      "upload_p50_s" -> Stats.median(s)) ++
      Stats.tail(s).map { case (p, v) => s"upload_p${p}_s" -> v } ++
      Seq("uploads_large" -> ops.count(_.rows >= 100000).toDouble,
        "rows_imported" -> ops.map(_.rows).sum.toDouble)
  }
}

/** Seeded browse sessions over a table the stream imported in set-up. */
final class PageBrowse(spark: SparkSession, tr: Trace, seed: Long, work: Path)
    extends Workload {
  private val importer = new Importer(spark, tr)
  private def expected = importer.expected
  private val table = new Table(work.resolve("page"))
  private val pageSize = 10
  private var browse: BrowseGen = _

  val minOps = 20

  def setup(clock: SetupClock): Unit = {
    val gen = new UploadGen(seed, small = (35000, 35000), large = None)
    val ups = clock("inputs_s")(Seq.fill(2)(gen.next()))
    clock("table_build_s")(ups.zipWithIndex.foreach { case (u, i) =>
      require(importer.upload(table, u, s"t$i")._2, s"table build upload $i lost rows")
    })
    browse = new BrowseGen(seed, expected.keys, pageSize)
    val warm = new BrowseGen(seed + 1, expected.keys, pageSize)
    // request latency keeps falling for about twenty requests after the
    // import (JIT); warming past that keeps the measured runs on the plateau
    clock("warm_s")((0 until 30).foreach(i => request(warm.next(), s"w$i")))
  }

  def request(offset: Int, req: String): (Double, Boolean) = {
    val (ms, json) = Main.request(spark, req)(PageRequest(spark, tr, table, offset, pageSize, req))
    (ms, json.exists(PageCheck.ok(_, expected, offset, pageSize)))
  }

  def op(i: Int): Main.Op = {
    val offset = browse.next()
    val (ms, ok) = request(offset, Layers.req(i))
    Main.Op(s"page-$offset", ms, ok, math.max(0, math.min(pageSize, expected.keys - offset)).toLong)
  }

  def finish(): Boolean = true

  def layers(ops: Seq[Main.Op]): Map[String, Double] = {
    val rs = Layers.reqs(ops)
    Layers.spark(tr, rs) ++ importer.upsertLayer(table) ++ Map(
      "relational.page_ms" -> Layers.spanMeanMs(tr, "page.collect", rs),
      "relational.rows_examined_per_row" ->
        tr.engine(rs).inputRows.toDouble / math.max(1L, ops.map(_.rows).sum))
  }

  def detail(ops: Seq[Main.Op]): Seq[(String, Double)] = {
    val ms = ops.map(_.ms)
    Seq("page_p50_ms" -> Stats.median(ms)) ++
      Stats.tail(ms).map { case (p, v) => s"page_p${p}_ms" -> v } ++
      Seq("live_keys" -> expected.keys.toDouble,
        "deep_share" -> ops.count(_.label != "page-0").toDouble / ops.size)
  }
}

object PageRequest {
  /** One page request as the API serves it: string params in, the page's
    * JSON out, merging the upsert log on read.
    */
  def apply(spark: SparkSession, tr: Trace, table: Table, offset: Int,
      pageSize: Int, req: String): String = tr.span("page", req) {
    val (limit, off) = tr.span("page.params", req)(
      Params.pageParams(Map("limit" -> pageSize.toString, "offset" -> offset.toString)))
    val df = tr.span("page.plan", req)(Relational.jsonPage(
      Relational.page(Table.state(spark, table), Seq(col("locid")), limit, off),
      Table.pageCols.map(col)))
    tr.span("page.collect", req)(df.collect().head.getString(0))
  }
}

object PageCheck {
  /** A page is right only if it is exactly the expected slice. */
  def ok(json: String, expected: ExpectedState, offset: Int, limit: Int): Boolean =
    json == expected.pageJson(offset, limit)
}

/** The operator-library gates on the full delivered result, checked
  * against checksums derived once from their DuckDB oracles.
  */
final class GateMix(spark: SparkSession, tr: Trace, seed: Long, data: String)
    extends Workload {
  private val rng = new scala.util.Random(seed)
  private var order: Seq[String] = Nil
  private var expectedSums: Map[String, Checksum.Sum] = Map.empty

  // three measured runs of every gate: the host's speed drifts by tens of
  // percent within seconds, so a run's gate times need several passes
  def minOps: Int = 3 * Main.mixGates.size

  def setup(clock: SetupClock): Unit = {
    expectedSums = clock("inputs_s")(GateMix.loadChecksums(
      java.nio.file.Paths.get(data).resolveSibling("gate_checksums.json")))
    // one full pass builds every gate's memoized artifacts and warms the JIT
    clock("warm_s")(Main.mixGates.foreach(g => run(g, s"w-$g")))
  }

  private def run(g: String, req: String): (Double, Boolean) = {
    val (ms, out) = Main.request(spark, req)(tr.span("gate", req) {
      try {
        val df = graft.SparkEntry.queries(g)(spark, data)
        (df.schema, df.collect())
      } finally graft.CacheTracker.releaseAll()
    })
    (ms, out.exists { case (schema, rows) =>
      expectedSums.get(g).contains(Checksum.of(schema, rows)) })
  }

  def op(i: Int): Main.Op = {
    if (i % Main.mixGates.size == 0) order = rng.shuffle(Main.mixGates)
    val g = order(i % Main.mixGates.size)
    val (ms, ok) = run(g, Layers.req(i))
    Main.Op(g, ms, ok, 0L)
  }

  def finish(): Boolean = true

  /** Per gate, the median of its runs; then their median and mean. */
  private def perGate(ops: Seq[Main.Op]): Map[String, Double] =
    ops.groupBy(_.label).map { case (g, os) => g -> Stats.median(os.map(_.ms)) }

  override def summary(ops: Seq[Main.Op]): (Double, Double) = {
    val g = perGate(ops).values.toSeq
    (Stats.median(g), Stats.mean(g))
  }

  def layers(ops: Seq[Main.Op]): Map[String, Double] = {
    val byGate = ops.zipWithIndex.groupBy(_._1.label)
    Layers.spark(tr, Layers.reqs(ops)) ++ byGate.flatMap { case (g, os) =>
      val rs = os.map { case (_, i) => Layers.req(i) }.toSet
      val e = tr.engine(rs)
      val n = os.size.toDouble
      Seq(s"gate.$g.s" -> os.map(_._1.ms).sum / n / 1000,
        s"gate.$g.cpu_ms" -> e.taskCpuMs / n, s"gate.$g.jobs" -> e.jobs / n,
        s"gate.$g.plan_ms" -> e.planMs / n,
        s"gate.$g.shuffle_bytes" -> e.shuffleWriteBytes / n,
        s"gate.$g.gc_ms" -> e.gcMs / n)
    }
  }

  def detail(ops: Seq[Main.Op]): Seq[(String, Double)] = {
    val g = perGate(ops)
    Seq("gate_total_s" -> g.values.sum / 1000,
      "gate_geomean_s" -> Stats.geomean(g.values.toSeq) / 1000) ++
      g.toSeq.sortBy(_._1).map { case (k, v) => s"gate_${k}_s" -> v / 1000 }
  }
}

object GateMix {
  /** `{"<gate>": {"rows": n, "checksum": "<16 hex>"}, ...}` */
  def loadChecksums(p: Path): Map[String, Checksum.Sum] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
    node.fieldNames().asScala.map { g =>
      val e = node.get(g)
      g -> Checksum.Sum(e.get("rows").asLong(), e.get("checksum").asText())
    }.toMap
  }
}
