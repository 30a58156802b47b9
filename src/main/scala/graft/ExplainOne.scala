package graft

import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev instrument: print the formatted physical plan of registered
  * queries (`SPARK_GRAFT_ONLY=<name>[,<name>...]`, default
  * q_sim_ann_kmeans) at `SPARK_GRAFT_SF_DIR` — the .explain loop the
  * brief prescribes, runnable without a REPL. With an argument, plans
  * are written to `<arg>/<name>_<suffix>.txt` (suffix = second arg,
  * default "plan") instead of stdout — the round-20 plan-artifact
  * path (plans/r20/<query>_{before,after}.txt). */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val sfDir = SparkEntry.sfDir(
      "/root/testdata/sf0.1")
    val names = SparkEntry.only().getOrElse(Seq("q_sim_ann_kmeans"))
    val outDir = args.headOption
    val suffix = if (args.length > 1) args(1) else "plan"
    val spark = Sessions.local("graft-explain")
    names.foreach { name =>
      // "leg:" names dump non-registered sub-plans that a declared
      // query collects at construction time (invisible in its own
      // executed plan) — round 20: the scout tier's global ADC leg
      val df = name match {
        case "leg:scout_global" =>
          graft.queries.Ann.scoutHits(spark, sfDir)
        case _ => SparkEntry.queries(name)(spark, sfDir)
      }
      // SPARK_GRAFT_EXEC=1: execute the query through the noop sink
      // and dump the AQE FINAL plan (ReusedExchange / AQEShuffleRead
      // nodes only exist there). The write runs its own QueryExecution
      // around the write command, so `df.queryExecution` never executes;
      // the listener captures the write's, whose plan is the final one.
      val execFinal = sys.env.get("SPARK_GRAFT_EXEC").exists(_ == "1")
      val planStr =
        if (execFinal) executedPlan(spark, df)
        else df.queryExecution.explainString(FormattedMode)
      outDir match {
        case Some(dir) =>
          val p = java.nio.file.Paths.get(dir,
            s"${name.replace(':', '_')}_$suffix.txt")
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.write(p, planStr.getBytes("UTF-8"))
          System.err.println(s"[explain] wrote $p")
        case None => println(planStr)
      }
    }
    spark.stop()
  }

  /** Runs `df` through a `noop` write and returns the formatted plan of
    * that write's own QueryExecution. Fails unless the top adaptive node
    * reports `isFinalPlan=true`; a plan with no adaptive node (no
    * exchange and no subquery, e.g. a TakeOrderedAndProject) runs as
    * planned, so its plan is final too. */
  def executedPlan(spark: SparkSession, df: DataFrame): String = {
    val captured = new AtomicReference[QueryExecution]()
    val listener = new QueryExecutionListener {
      // events of earlier actions may still be queued; keep the write's
      def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = qe.logical match {
        case _: V2WriteCommand => captured.compareAndSet(null, qe)
        case _ =>
      }
      def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      df.write.format("noop").mode("overwrite").save()
      // listener events are delivered asynchronously
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (captured.get == null && System.nanoTime() < deadline)
        Thread.sleep(10)
    } finally spark.listenerManager.unregister(listener)
    val qe = captured.get
    require(qe != null, "no QueryExecution was reported for the noop write")
    val top = qe.executedPlan.collectFirst {
      case a: AdaptiveSparkPlanExec => a
    }
    require(top.forall(_.isFinalPlan),
      "the noop write's plan is not the AQE final plan (isFinalPlan=false)")
    qe.explainString(FormattedMode)
  }
}
