package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** A graft optimizer rule, installable on a live session through the
  * public experimental hook. `spark.sql.extensions` applies only at
  * session build, so this is the path for an already-running session;
  * the rule then runs in the optimizer's last batch. The one place that
  * assigns `experimental.extraOptimizations`. */
abstract class SessionRule extends Rule[LogicalPlan] {

  /** Install on `spark` (idempotent; safe from concurrent callers). Once
    * installed, a call takes no lock. */
  def enable(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this)) spark.experimental.synchronized {
      val cur = spark.experimental.extraOptimizations
      if (!cur.contains(this)) spark.experimental.extraOptimizations = cur :+ this
    }

  def disable(spark: SparkSession): Unit = spark.experimental.synchronized {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == this)
  }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` — the library's
  * session-extension entry point for cluster deployments (injected at
  * session build, applies to every query including pure SQL users).
  * `OnePartition` goes in as a pre-CBO rule: that batch runs once, after
  * the operator-optimization fixed point, whose `CollapseRepartition`
  * would otherwise fold the coalesce into an explicit repartition above
  * it on every iteration. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => LevRewrite)
    ext.injectPreCBORule(_ => OnePartition)
  }
}
