package graft.plans

import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf

/** Catalyst optimizer rule: a plan whose whole input is smaller than one
  * AQE partition runs as one stage.
  *
  * Under AQE every shuffle stage is its own job, and AQE then coalesces
  * each post-shuffle stage of a small input down to one task anyway
  * (`spark.sql.adaptive.coalescePartitions.minPartitionSize`, 1 MB by
  * default). On the interactive SQL path over small daily partitions the
  * per-job and per-stage fixed cost is the query's cost. When every leaf
  * is a file or local relation and their sizes sum to at most that
  * minimum partition size, this rule puts `Repartition(1, shuffle =
  * false)` above each scan chain (scans under projections, filters,
  * expands and unions). Every operator above sees `SinglePartition`, so
  * `EnsureRequirements` plans no exchange: aggregates, windows, joins,
  * set operations and ORDER BY run in the scan's own stage, and a global
  * sort needs no range-sampling job.
  *
  * AQE's own confs are the switch and the threshold: the rule fires only
  * while AQE and its partition coalescing are on. It leaves a plan alone
  * when its result or its cost could depend on the partitioning:
  *   - a nondeterministic or partition-dependent expression (`rand`,
  *     `spark_partition_id`, `monotonically_increasing_id`, …) or a
  *     `Sample`;
  *   - a `Generate`, or a join with no equi-join key: their output can
  *     grow far beyond the input bytes;
  *   - a streaming plan.
  * A scan chain already under a one-partition coalesce (a user's, or this
  * rule's own) is left as it is, so the rule is idempotent. An explicit
  * repartition stays above the coalesce: a query that needs parallelism
  * on a tiny input (per-row CPU) asks for it that way.
  *
  * Installed like `LevRewrite`: `OnePartition.enable(spark)` on a live
  * session (`sources.Catalog.table`, the loader every graft query reads
  * through, calls it), or `GraftExtensions` at session build.
  */
object OnePartition extends SessionRule {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (scanChain(plan) || !fires(plan)) plan else coalesce(plan)

  /** The guards: AQE coalescing on, a small batch plan of file and local
    * relations, nothing whose result or row count the coalesce could
    * change. */
  private def fires(plan: LogicalPlan): Boolean = {
    val leaves = plan.collectLeaves()
    conf.adaptiveExecutionEnabled && conf.coalesceShufflePartitionsEnabled &&
      !plan.isStreaming && plan.deterministic &&
      leaves.forall {
        case r: LogicalRelation => r.relation.isInstanceOf[HadoopFsRelation]
        case _: LocalRelation   => true
        case _                  => false
      } &&
      !plan.exists {
        case _: Generate | _: Sample => true
        case j: Join                 => ExtractEquiJoinKeys.unapply(j).isEmpty
        case _                       => false
      } &&
      leaves.map(_.stats.sizeInBytes).sum <=
        BigInt(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
  }

  /** Coalesce each maximal scan chain to one partition. */
  private def coalesce(plan: LogicalPlan): LogicalPlan = plan match {
    case r @ Repartition(1, false, _) => r
    case p if scanChain(p)           => Repartition(1, shuffle = false, p)
    case p                           => p.mapChildren(coalesce)
  }

  /** Scans under operators that need no distribution and keep rows in
    * their partition: a coalesce above the chain serves every operator
    * above it. */
  private def scanChain(p: LogicalPlan): Boolean = p match {
    case _: LeafNode                                  => true
    case _: Project | _: Filter | _: Expand | _: Union => p.children.forall(scanChain)
    case _                                            => false
  }
}
