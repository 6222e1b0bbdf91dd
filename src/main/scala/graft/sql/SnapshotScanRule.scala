package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import graft.ingest.FileStats
import graft.sources.v2.{GraftCatalogTable, SnapshotBatchRelation}

/** Vectorizes snapshot-table scans: replaces the V1 [[SnapshotBatchRelation]]
  * leaf (`spark.read.format("graft-snapshots")`) and the catalog's
  * [[GraftCatalogTable]] leaf (`SELECT … FROM graft.t`) with the log-pinned
  * parquet plan each one builds itself (`planFor`), so the PHYSICAL plan is
  * Spark's columnar parquet scan itself — whole-stage codegen, parquet
  * predicate pushdown, partition pruning and column pruning all land in
  * the scan (FileSourceStrategy collapses the splice's Projects via
  * PhysicalOperation) instead of a row-shaped scan node. Injected as a
  * pre-CBO rule: it runs ONCE after operator optimization, when pushed-down
  * filters sit directly above the relation leaf, so the filter condition
  * also feeds log-side FILE skipping ([[FileStats.fromExpression]]) — a
  * pruned file costs nothing, not even a task. Pre-CBO runs before V2 scan
  * pushdown, so a catalog leaf is still its `DataSourceV2Relation` here.
  *
  * The splice re-binds the inner plan's output by name to the leaf's
  * original expression ids (self-joins swap each leaf to an independently
  * built inner plan, keeping both sides' ids distinct). Sessions without
  * the extension still work through the V1 fallback and the per-file DSv2
  * scan. Snapshot pinning is unchanged: each leaf resolved its version at
  * load and every splice serves that same version. */
case class SnapshotScanRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // Row-level command targets (DELETE/UPDATE/MERGE) must STAY DSv2
    // relations — DataSourceV2Strategy plans the command off the relation
    // node itself (unlike AppendData, whose target is not a child). Shield
    // those subtrees from the read splice.
    val shielded = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    plan.foreach {
      case d: org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable =>
        d.table.foreach(shielded.add)
      case u: org.apache.spark.sql.catalyst.plans.logical.UpdateTable =>
        u.table.foreach(shielded.add)
      case m: org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable =>
        m.targetTable.foreach(shielded.add)
      case _ => ()
    }
    val Leaf = new SnapshotLeaf(shielded)
    // The condition both stays as the row filter AND prunes the pinned
    // file list from log stats (best-effort, only ever widens). Write
    // commands are untouched: a V2WriteCommand's target table is not among
    // its children, only its query is.
    plan.transformDown {
      case Filter(cond, leaf @ Leaf(planFor)) =>
        Filter(cond, splice(leaf, planFor(FileStats.fromExpression(cond).orNull)))
      case leaf @ Leaf(planFor) => splice(leaf, planFor(null))
    }
  }

  /** A snapshot-table leaf's own `planFor`. */
  private final class SnapshotLeaf(shielded: java.util.Set[LogicalPlan]) {
    def unapply(p: LogicalPlan): Option[FileStats.Pred => LogicalPlan] =
      p match {
        case lr: LogicalRelation => lr.relation match {
          case r: SnapshotBatchRelation => Some(r.planFor)
          case _ => None
        }
        case r: DataSourceV2Relation if !shielded.contains(r) => r.table match {
          case t: GraftCatalogTable => Some(t.planFor)
          case _ => None
        }
        case _ => None
      }
  }

  /** `inner`'s columns re-bound by name to `leaf`'s expression ids. */
  private def splice(leaf: LogicalPlan, inner: LogicalPlan): LogicalPlan = {
    val byName = inner.output.map(a => a.name -> a).toMap
    Project(leaf.output.map { orig =>
      Alias(byName(orig.name), orig.name)(
        exprId = orig.exprId, qualifier = orig.qualifier)
    }, inner)
  }
}
