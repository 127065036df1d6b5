package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The driver's entry points: the SparkEntry smoke probe, the mains it
  * launches by name, and Verify's prefix subset.
  */
class EntryPointsSpec extends SparkSpec {
  test("SparkEntry.entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).collect().nonEmpty)
  }

  test("the mains launched by name keep a static main(Array[String])") {
    Seq("graft.Bench", "graft.Verify", "graft.tools.Dev").foreach { n =>
      val m = Class.forName(n).getMethod("main", classOf[Array[String]])
      assert(java.lang.reflect.Modifier.isStatic(m.getModifiers), n)
    }
  }

  test("Verify with a prefix dumps only the matching queries and their oracles") {
    val out = Files.createTempDirectory("graft-verify-spec")
    try {
      // a dump left by an earlier run outside the prefix
      Files.createDirectories(out.resolve("q1_pricing_summary"))
      Verify.run(spark, sf0001, out.toString, Seq("q6_"))
      val dirs = out.toFile.listFiles().filter(_.isDirectory).map(_.getName).toSet
      assert(dirs == Set("q6_forecast_revenue"))
      val oracle = new ObjectMapper().readTree(out.resolve("oracle_sql.json").toFile)
      assert(oracle.fieldNames().asScala.toSet == Set("q6_forecast_revenue"))
    } finally {
      val walk = Files.walk(out)
      try walk.iterator().asScala.toSeq.reverse.foreach((p: Path) => Files.delete(p))
      finally walk.close()
    }
  }
}
