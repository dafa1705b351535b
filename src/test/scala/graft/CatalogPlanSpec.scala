package graft

import org.scalatest.funsuite.AnyFunSuite

/** Catalog-wide plan lint: every registered query must BUILD a physical
  * plan against the test tables (round 6's testdata-type break surfaced
  * as analysis-time failures across 7 queries — this spec would have
  * named all of them in one run), and no plan may contain a true
  * Cartesian product (`CartesianProductExec`). The broadcast one-row
  * cross joins the operators use deliberately (bounds/totals attach, the
  * q46 pattern) plan as BroadcastNestedLoopJoin with a 1-row build side
  * and are allowed — the lint targets the unbounded row-pair blowup
  * shape only.
  *
  * Planning only — nothing is executed beyond what query CONSTRUCTION
  * itself materializes (some operators eagerly persist barrier frames at
  * sf0.001 cost). AQE wrapping means the string is the initial physical
  * plan, which is exactly where a Cartesian would appear.
  *
  * The entries that read the reference sample (q10/q11/q63) plan over a
  * generated folder of its layout on hosts without it.
  */
class CatalogPlanSpec extends AnyFunSuite with ReferenceLayout.OnSampleLayout {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name plans without a Cartesian product") {
      onSampleLayout {
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct"),
          s"$name plans a CartesianProduct:\n$plan")
        spark.catalog.clearCache()
      }
    }
  }
}
