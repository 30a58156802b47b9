package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.{CoalesceExec, InputAdapter,
  SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper}

/** One shared local session + fixture path for every suite (suites run
  * in one forked JVM; getOrCreate makes this safe across them). */
object TestSpark extends AdaptiveSparkPlanHelper {
  lazy val spark: SparkSession = Sessions.local("graft-test")
  val sf = "/root/testdata/sf0.001"

  /** Executes `df`'s adaptive plan and returns its final physical plan
    * with the output RDD's partition count. */
  def finalPlan(df: Dataset[_]): (SparkPlan, Int) =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        val parts = a.execute().getNumPartitions
        assert(a.isFinalPlan, "AQE did not reach its final plan")
        (a.executedPlan, parts)
      case p => throw new AssertionError(s"expected an adaptive plan:\n$p")
    }

  /** True when a global Sort reads a one-partition Coalesce directly
    * (graft.plans.SmallSortOneTask's shape), looking inside query
    * stages. */
  def sortsInOneTask(p: SparkPlan): Boolean = find(p) {
    case s: SortExec if s.global => s.child match {
      case CoalesceExec(1, _) | InputAdapter(CoalesceExec(1, _)) => true
      case _ => false
    }
    case _ => false
  }.isDefined
}
