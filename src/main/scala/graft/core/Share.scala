package org.apache.spark.sql {
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  /** A DataFrame over a logical plan, without running it:
    * `classic.Dataset.ofRows` is `private[sql]`.
    */
  object GraftRows {
    def apply(s: SparkSession, plan: LogicalPlan): DataFrame =
      classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)
  }
}

package graft.core {
  import org.apache.spark.sql.{DataFrame, GraftRows}
  import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
  import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
  import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
  import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, SparkStrategy}

  /** A relation that several branches of one query read: a leaf over
    * the relation's optimized plan. As a leaf it is never pushed into,
    * so every branch plans the same subtree and Spark's exchange reuse
    * computes it once per query; a self-join re-instances its output
    * ([[MultiInstanceRelation]]) instead of tripping the ambiguous
    * self-join check a pass-through node does.
    */
  case class Shared(plan: LogicalPlan, output: Seq[Attribute])
      extends LeafNode with MultiInstanceRelation {
    override def newInstance(): Shared = copy(output = output.map(_.newInstance()))
    override def computeStats(): Statistics = plan.stats
    override def innerChildren: Seq[LogicalPlan] = Seq(plan)
  }

  /** Plans a [[Shared]] leaf as its plan, renamed to the leaf's output. */
  object SharedStrategy extends SparkStrategy {
    def apply(p: LogicalPlan): Seq[SparkPlan] = p match {
      case Shared(plan, output) =>
        ProjectExec(output.zip(plan.output).map { case (o, i) => Alias(i, o.name)(o.exprId) },
          planLater(plan)) :: Nil
      case _ => Nil
    }
  }

  /** Share a relation that several branches of ONE query read, lazily:
    * building it runs no job, and the query stays one plan that Spark
    * optimises, plans and recovers from lineage. Spark's exchange reuse
    * (and AQE's stage reuse) then computes the relation once per query.
    *
    * Use it only for a relation whose rows are a deterministic function
    * of its inputs: reuse is an optimisation Spark may skip, and a second
    * evaluation must give the same rows. Sampled range bounds, positional
    * ids and iterations whose plan would grow without bound go through
    * [[Cut]] instead.
    *
    * The planner strategy is installed per session here, so sessions
    * built without [[graft.plans.GraftExtensions]] work too.
    */
  object Share {
    def apply(df: DataFrame): DataFrame = {
      val s = df.sparkSession
      s.experimental.synchronized {
        if (!s.experimental.extraStrategies.contains(SharedStrategy))
          s.experimental.extraStrategies = SharedStrategy +: s.experimental.extraStrategies
      }
      df.queryExecution.analyzed match {
        case _: Shared => df
        case _ =>
          val plan = df.queryExecution.optimizedPlan
          require(plan.deterministic, s"Share needs a deterministic relation: $plan")
          GraftRows(s, Shared(plan, plan.output.map(_.newInstance())))
      }
    }
  }
}
