package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.HllSketchAgg
import org.apache.spark.sql.execution.{ExpandExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec

/** `agg_approx_distinct`'s plan shape and its sketch's error bound: the
  * sketch lives in one binary buffer (not HLL++'s 1,639 long columns per
  * sketch) in an aggregate no DISTINCT `Expand` feeds, and the lgK-14
  * estimates stay within 3 × rsd of the exact counts.
  */
class ApproxDistinctSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Final (post-AQE) plan: collect first so the stages are materialized. */
  private def finalPlan(): SparkPlan = {
    val df = Queries.queries("agg_approx_distinct")(spark, sf0001)
    df.collect()
    df.queryExecution.executedPlan
  }

  private def aggregates(p: SparkPlan): Seq[BaseAggregateExec] =
    collect(p) { case a: BaseAggregateExec => a }

  private def bufferWidth(a: BaseAggregateExec): Int =
    a.aggregateExpressions.map(_.aggregateFunction.aggBufferAttributes.size).sum

  private def holdsSketch(a: BaseAggregateExec): Boolean =
    a.aggregateExpressions.exists(_.aggregateFunction.isInstanceOf[HllSketchAgg])

  test("no aggregate in the approx-distinct plan carries a wide buffer") {
    val p = finalPlan()
    val aggs = aggregates(p)
    assert(aggs.nonEmpty, p)
    for (a <- aggs)
      assert(bufferWidth(a) <= 64,
        s"${a.nodeName} has ${bufferWidth(a)} aggregate buffer attributes:\n$p")
  }

  test("no Expand feeds the aggregate that holds the sketch") {
    val p = finalPlan()
    val sketchAggs = aggregates(p).filter(holdsSketch)
    assert(sketchAggs.nonEmpty, "the gate must aggregate a DataSketches HLL:\n" + p)
    for (a <- sketchAggs)
      assert(collect(a) { case e: ExpandExec => e }.isEmpty,
        s"a DISTINCT Expand feeds the sketch aggregate:\n$a")
  }

  test("lgK-14 estimates stay within 3 rsd of the exact counts") {
    val bound = 3 * 1.04 / math.sqrt(1 << AdvancedJoins.approxDistinctLgK)
    for (dir <- Seq(sf0001, "/root/testdata/sf0.01")) {
      val r = AdvancedJoins.approxDistinctCounts(spark, dir).collect().head
      for ((exact, est) <- Seq(("exact_orders", "est_orders"),
          ("exact_parts", "est_parts"))) {
        val (x, e) = (r.getAs[Long](exact), r.getAs[Long](est))
        val err = math.abs(e - x).toDouble / x
        val msg = f"$dir $est=$e vs $exact=$x: error $err%.4f, bound $bound%.4f"
        assert(x > 0 && err <= bound, msg)
        info(msg)
      }
    }
  }
}
