package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, InterpretedOrdering, SortOrder, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{LOCAL_RELATION, SORT}
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.internal.SQLConf

/** Session-extension entry point: injects every entry of
  * `functions.GraftFunctions.table`, the optimizer rule
  * [[GraftExtensions.LocalSort]] and the planner strategy
  * [[GraftExtensions.InStageSort]] at session build time, so a cluster
  * enables the whole library surface with
  * `--conf spark.sql.extensions=graft.GraftExtensions`
  * (SQL, views and thrift-server users see the functions too).
  * `GraftSession.builder` sets this conf.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.GraftFunctions.table.foreach(f => ext.injectFunction((f.id, f.info, f.build)))
    ext.injectOptimizerRule(_ => GraftExtensions.LocalSort)
    ext.injectPlannerStrategy(_ => GraftExtensions.InStageSort)
  }
}

object GraftExtensions {

  /** A global sort over rows already on the driver runs on the driver.
    *
    * The Sort counterpart of Spark's `ConvertToLocalRelation`: a global
    * `Sort` whose child is a non-streaming `LocalRelation` becomes a
    * `LocalRelation` of the sorted rows, so collecting it runs no Spark
    * job (planned, the sort ran a range exchange, its sampling job and
    * a sort stage over a few hundred rows). The sort is stable and
    * compares with Spark's interpreted ordering over the sort keys, so
    * nulls first/last, NaN, -0.0 and collations order as in `SortExec`.
    * There is no size bound: the rows are already in driver memory.
    * A streaming relation, a sort within partitions and a sort key
    * that is nondeterministic or cannot be evaluated stay as they are.
    */
  object LocalSort extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.transformWithPruning(_.containsAllPatterns(SORT, LOCAL_RELATION)) {
        case Sort(order, true, l: LocalRelation, _) if !l.isStreaming && order.forall(evaluable) =>
          l.copy(data = l.data.sorted(new InterpretedOrdering(order, l.output)))
      }

    // attributes bind to the relation's output; any other unevaluable
    // expression (a subquery, say) is left to the planner
    private def evaluable(o: SortOrder): Boolean = o.deterministic && !o.child.exists {
      case _: AttributeReference => false
      case e => e.isInstanceOf[Unevaluable]
    }
  }

  /** A small global sort runs inside the stage that computes its input.
    *
    * Spark plans every global `Sort` over a range exchange, whose
    * RangePartitioner runs a sampling job that computes the child once
    * and then a map stage that computes it again, before one more stage
    * sorts. When AQE re-plans a sort whose input is already measured
    * and small, this strategy plans it as `SortExec(global) ←
    * CoalesceExec(1) ← child` instead: no range exchange, no sampling
    * job, no extra shuffle. It fires only when
    *  - every leaf of the child is a materialized AQE query stage
    *    (`LogicalQueryStage`), so the input size is measured, not
    *    estimated;
    *  - the child has no `Generate`, whose output a small input does
    *    not bound;
    *  - the measured bytes of those stages sum to at most
    *    `spark.sql.adaptive.advisoryPartitionSizeInBytes`, the size AQE
    *    already coalesces into one partition under graft's
    *    `parallelismFirst=false`, so the one task loses no parallelism.
    *
    * A larger input, a static plan before any stage has run, a session
    * with AQE off and a streaming query keep the range exchange; so
    * does a sort whose range exchange already ran because an earlier
    * re-plan declined it (over a `Generate`, say).
    */
  object InStageSort extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case Sort(order, true, child, _) if smallMeasuredInput(child) =>
        SortExec(order, global = true, CoalesceExec(1, planLater(child))) :: Nil
      case _ => Nil
    }

    private def smallMeasuredInput(child: LogicalPlan): Boolean = {
      val leaves = child.collectLeaves()
      leaves.forall(_.isInstanceOf[LogicalQueryStage]) &&
        child.find(_.isInstanceOf[Generate]).isEmpty && {
          val stages = leaves.flatMap(_.asInstanceOf[LogicalQueryStage].physicalPlan
            .collect { case s: QueryStageExec => s })
          val stats = stages.map(_.computeStats())
          stats.nonEmpty && stats.forall(_.isDefined) &&
            stats.map(_.get.sizeInBytes).sum <= SQLConf.get.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) &&
            !stages.exists(rangeShuffle)
        }
    }

    // the sort's own range exchange, already run on an earlier re-plan
    // this strategy declined: re-planning over it saves nothing
    private def rangeShuffle(stage: QueryStageExec): Boolean = stage match {
      case s: ShuffleQueryStageExec => s.shuffle.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }
  }
}
