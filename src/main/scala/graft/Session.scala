package graft
import org.apache.spark.sql.SparkSession

/** The one session every main builds ([[Bench]], [[Verify]],
  * [[graft.tools.Dev]]), so a dev tool measures under the settings of the
  * bench it explains: `local[SPARK_GRAFT_CPUS]` (default 4) with that
  * many shuffle partitions, UTC, no UI. The log level, WARN from the
  * first line, comes from `src/main/resources/log4j2.properties`.
  */
object Session {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // shuffle/spill on tmpfs: a disk that stalls under iowait was
      // adding 10x noise to shuffle-heavy query timings
      .config("spark.local.dir", Scratch.sparkLocalDir)
      .config("spark.sql.warehouse.dir",
        s"${Scratch.dir}/graft_warehouse_${Scratch.runToken}")
      // ContextCleaner only releases dropped broadcasts / localCheckpoint
      // blocks / shuffle files after a DRIVER GC notices the references
      // died; the default periodic-GC interval (30 min) never fires
      // inside one bench run, so across 259 queries the old gen fills
      // with dead blocks and every late-run query pays mounting GC.
      // Harmless on an idle host; on a loaded one it is the difference
      // between 0.08 s and 30 s for an 11-row query (r12 bench-record
      // tail spikes — attribution in BENCH_NOTES.md).
      .config("spark.cleaner.periodicGC.interval", "90s")
      .getOrCreate()
  }
}
