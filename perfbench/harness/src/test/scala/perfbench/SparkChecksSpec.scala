package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The checks that run against engine output, on tiny inputs. */
class SparkChecksSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work = Files.createTempDirectory("perfbench-spec")
  private lazy val spark = Main.session(2, work)

  override def afterAll(): Unit = {
    spark.stop()
    val all = Files.walk(work)
    try all.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => Files.delete(p))
    finally all.close()
  }

  test("Spark-side checksum agrees with the DuckDB one on the fixture") {
    val f = getClass.getResource("/checksum_fixture.parquet").getPath
    val df = spark.read.parquet(f)
    val want = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(getClass.getResource("/checksum_fixture.json"))
    assert(Checksum.of(df.schema, df.collect()) ==
      Checksum.Sum(want.get("rows").asLong(), want.get("checksum").asText()))
  }

  test("imported state and pages check; a wrong expectation fails") {
    val tr = new Trace(enabled = false)
    val table = new Table(work.resolve("t"))
    val importer = new Importer(spark, tr)
    val gen = new UploadGen(1L, small = (30, 60), large = None)
    (0 until 3).foreach { i =>
      val (_, ok) = importer.upload(table, gen.next(), s"r$i")
      assert(ok, s"upload $i")
    }
    assert(importer.stateMatches(table))
    Seq(0, 10, 50, importer.expected.keys - 3).foreach { off =>
      val json = PageRequest(spark, tr, table, off, 10, s"p$off")
      assert(PageCheck.ok(json, importer.expected, off, 10), json)
      assert(!PageCheck.ok(json, importer.expected, off + 1, 10))
    }
    // an upload the stream never saw makes the expected state differ
    importer.expected(gen.next())
    assert(!importer.stateMatches(table))
  }

  test("BENCHMARK.json declares the metrics the harness emits") {
    val b = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get("..", "..", "BENCHMARK.json").toFile)
    import scala.jdk.CollectionConverters._
    val perLayer = b.get("per_layer").elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    assert(perLayer == Layers.declared)
    assert(b.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq ==
      Main.workloads)
    assert(b.get("end_to_end").elements().asScala.map(_.get("name").asText()).toSeq ==
      Seq("setup_s", "op_p50_ms", "op_mean_ms", "heap_retained_mb"))
  }
}
