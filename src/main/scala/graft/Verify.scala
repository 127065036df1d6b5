package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (scripts/check_oracle.py).
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [prefix...]
  * With prefixes, only the queries whose names start with one of them
  * are dumped — a new query is oracle-checked in seconds instead of
  * re-running all of them.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [prefix...]")
    val spark = Session()
    try run(spark, args(0), args(1), args.drop(2).toSeq)
    finally spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, outDir: String,
      prefixes: Seq[String]): Unit = {
    val selected =
      if (prefixes.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => prefixes.exists(n.startsWith) }
    new java.io.File(outDir).mkdirs()
    // Drop every dump not written by this run: a leftover directory (a
    // since-renamed query, or one outside the prefixes) would otherwise
    // be picked up by the comparator as a rows-only entry and pollute
    // the gate.
    Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !selected.contains(f.getName))
      .foreach { f =>
        def rm(x: java.io.File): Unit = {
          Option(x.listFiles()).getOrElse(Array.empty).foreach(rm); x.delete(); ()
        }
        rm(f)
      }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally CacheTracker.releaseAll()
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.obj(SparkEntry.oracleSql.filter { case (k, _) => selected.contains(k) }))
  }
}
