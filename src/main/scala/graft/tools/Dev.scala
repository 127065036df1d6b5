package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{CacheTracker, Confs, Session, SparkEntry}

/** The dev harness. Every mode runs on the bench's [[graft.Session]] and
  * executes the FULL result through the noop sink — every row and column
  * computed, nothing collected — never `count()`, which lets Catalyst
  * prune aggregates, projections and the final sort.
  *
  * Usage: runMain graft.tools.Dev <mode> ...
  *   stats <sfDir> <q...>
  *       one warm rep, then one measured rep per query: wall seconds,
  *       jobs/stages/tasks, summed task run/cpu/gc/deser seconds, one
  *       line per stage and, for stream gates, each micro-batch's
  *       durationMs slices. `__floor`, `__floorshuffle` and
  *       `__floorckpt` name the per-job driver-floor anchors.
  *   plan <sfDir> <outDir> <q...>
  *       each query's post-execution formatted plan to <outDir>/<q>.txt
  *   ab <sfDir> <q> <k=v;...> <k=v;...> [reps]
  *       interleaved A/B of two SQL-conf sets (default 5 reps after one
  *       warm pair): each side's median, and a failure unless both
  *       sides' order-insensitive checksums agree.
  *
  * A/B of an env switch read at JVM start (SPARK_GRAFT_LOOPCONF,
  * SPARK_GRAFT_ARTIFACT_CACHE) is alternating whole-JVM `stats` runs.
  */
object Dev {
  private val Usage = "usage: Dev stats <sfDir> <q...> | " +
    "plan <sfDir> <outDir> <q...> | ab <sfDir> <q> <k=v;...> <k=v;...> [reps]"

  def main(args: Array[String]): Unit = {
    val ok = args.headOption match {
      case Some("stats") => args.length >= 3
      case Some("plan") => args.length >= 4
      case Some("ab") => args.length == 5 || args.length == 6
      case _ => false
    }
    require(ok, Usage)
    val spark = Session()
    try args(0) match {
      case "stats" => stats(spark, args(1), args.drop(2).toSeq)
      case "plan" => plan(spark, args(1), args(2), args.drop(3).toSeq)
      case "ab" => ab(spark, args(1), args(2), confs(args(3)), confs(args(4)),
        if (args.length > 5) args(5).toInt else 5)
    } finally spark.stop()
  }

  /** Runs `df` to its full result through the noop sink. */
  private def drain(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Wall seconds of `body`; memoized caches are released afterwards,
    * outside the timing.
    */
  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    try { body; (System.nanoTime() - t0) / 1e9 }
    finally CacheTracker.releaseAll()
  }

  // Listener events arrive on Spark's asynchronous bus, whose drain API
  // is private: wait this long after a rep before reading its ledger.
  private val BusDrainMs = 500L

  private val FloorJobs = 40

  /** Per-job driver-cost anchors, each [[FloorJobs]] jobs: no-shuffle
    * 1-row jobs, one-exchange tiny aggregations, and localCheckpoints of
    * a tiny frame — the per-job costs a loop gate's ledger multiplies by
    * its job count.
    */
  private val floors: Map[String, (SparkSession, Int) => DataFrame] = Map(
    "__floor" -> ((s, i) => s.range(1).selectExpr(s"id + $i AS x")),
    "__floorshuffle" -> ((s, i) => s.range(100)
      .selectExpr("id % 7 AS k", s"id + $i AS v").groupBy("k").sum("v")),
    "__floorckpt" -> ((s, i) => s.range(100).selectExpr(s"id + $i AS x")
      .localCheckpoint(true)))

  /** One rep of a registered query or a floor anchor. */
  private def rep(name: String): (SparkSession, String) => Unit =
    floors.get(name) match {
      case Some(f) => (s, _) => (1 to FloorJobs).foreach(i => drain(f(s, i)))
      case None => (s, dir) => drain(SparkEntry.queries(name)(s, dir))
    }

  /** What one measured rep reports, fed by one SparkListener and, for
    * stream gates, one StreamingQueryListener.
    */
  private final class Ledger extends SparkListener {
    private var jobs, stages, tasks = 0L
    private var runMs, cpuNs, gcMs, deserMs = 0L
    private val stageLines = ArrayBuffer[(Int, String)]()
    private val batchLines = ArrayBuffer[String]()

    def reset(): Unit = synchronized {
      jobs = 0; stages = 0; tasks = 0
      runMs = 0; cpuNs = 0; gcMs = 0; deserMs = 0
      stageLines.clear(); batchLines.clear()
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        stages += 1
        val i = e.stageInfo
        val wall = i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)
        // the library frame that built the stage, not this harness's
        val site = i.details.split("\n")
          .find(l => l.contains("graft.") && !l.contains("graft.tools.Dev"))
          .getOrElse(i.name).trim.take(100)
        stageLines += i.stageId -> (f"  stage ${i.stageId}%5d wall=$wall%6d ms " +
          f"run=${i.taskMetrics.executorRunTime}%6d ms tasks=${i.numTasks}%4d  $site")
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime; cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime; deserMs += m.executorDeserializeTime
      }
    }

    val streams: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Ledger.this.synchronized {
          import scala.jdk.CollectionConverters._
          val p = e.progress
          val slices = p.durationMs.asScala.toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k=$v" }.mkString(" ")
          batchLines += s"  batch ${p.batchId} rows=${p.numInputRows} $slices"
        }
    }

    def report(name: String, sec: Double): Unit = synchronized {
      println(f"[stats] $name wall=$sec%.3f s jobs=$jobs stages=$stages " +
        f"tasks=$tasks run=${runMs / 1e3}%.2f s cpu=${cpuNs / 1e9}%.2f s " +
        f"gc=${gcMs / 1e3}%.2f s deser=${deserMs / 1e3}%.2f s")
      stageLines.sortBy(_._1).foreach(l => println(l._2))
      batchLines.foreach(println)
    }
  }

  private def stats(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val ledger = new Ledger
    spark.sparkContext.addSparkListener(ledger)
    spark.streams.addListener(ledger.streams)
    names.foreach { name =>
      val body = rep(name)
      try {
        timed(body(spark, sfDir)) // warm: memoized artifacts and codegen
        Thread.sleep(BusDrainMs)
        ledger.reset()
        val sec = timed(body(spark, sfDir))
        Thread.sleep(BusDrainMs)
        ledger.report(name, sec)
      } catch {
        case e: Throwable => System.err.println(s"[stats] $name FAILED: ${e.getMessage}")
      }
    }
  }

  private def plan(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Unit = {
    // the noop write's own execution: its plan holds the query's final
    // (post-AQE) plan, which the query frame's plan never runs
    val written = new AtomicReference[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.logical.isInstanceOf[V2WriteCommand]) written.set(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        written.set(null)
        try drain(SparkEntry.queries(name)(spark, sfDir))
        finally CacheTracker.releaseAll()
        val deadline = System.currentTimeMillis() + 10 * BusDrainMs
        while (written.get == null && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        val qe = Option(written.get).getOrElse(sys.error("no executed plan"))
        val out = Paths.get(outDir, s"$name.txt")
        Files.write(out, qe.explainString(FormattedMode).getBytes("UTF-8"))
        println(s"[plan] wrote $out")
      } catch {
        case e: Throwable => System.err.println(s"[plan] $name FAILED: ${e.getMessage}")
      }
    }
  }

  private def confs(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k.trim -> v.trim
        case _ => sys.error(s"bad conf '$kv' (want k=v;k=v)")
      }
    }

  /** Order-insensitive checksum over every row and column: the row count
    * and the exact sum of each row's xxhash64 of its JSON form.
    */
  private def checksum(df: DataFrame): String = {
    val r = df.select(xxhash64(to_json(struct(col("*")))).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"rows=${r.getLong(0)} hashsum=${r.get(1)}"
  }

  private def ab(spark: SparkSession, sfDir: String, name: String,
      a: Seq[(String, String)], b: Seq[(String, String)], reps: Int): Unit = {
    require(reps > 0, Usage)
    val q = SparkEntry.queries(name)
    val sides = Seq("A" -> a, "B" -> b)
    def run(c: Seq[(String, String)]): Double =
      Confs.withConf(spark, c: _*)(timed(drain(q(spark, sfDir))))
    sides.foreach { case (_, c) => run(c) } // warm pair
    val times = (1 to reps).map(_ => sides.map { case (_, c) => run(c) })
    val sums = sides.map { case (_, c) =>
      Confs.withConf(spark, c: _*) {
        try checksum(q(spark, sfDir)) finally CacheTracker.releaseAll()
      }
    }
    sides.indices.foreach { i =>
      val (label, c) = sides(i)
      val med = times.map(_(i)).sorted.apply(reps / 2)
      println(f"[ab] $name $label median=$med%.3f s ($reps reps) ${sums(i)}  " +
        c.map { case (k, v) => s"$k=$v" }.mkString(";"))
    }
    require(sums(0) == sums(1), s"[ab] $name checksums differ: A ${sums(0)} vs B ${sums(1)}")
  }
}
