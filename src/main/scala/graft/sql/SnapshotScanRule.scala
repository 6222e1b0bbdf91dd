package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Project}
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
  * load and every splice serves that same version.
  *
  * An unfiltered, ungrouped `count(*)` over a leaf is answered from that
  * leaf's pinned log row count (stats tokens, deletion vectors
  * subtracted) — zero files opened, as the V2 aggregate pushdown this
  * rule runs ahead of would; a leaf whose count the log cannot prove is
  * spliced as usual. */
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
      case CountStar(out, Leaf(leaf)) if leaf.logRowBound.isDefined =>
        LocalRelation(Seq(out), Seq(InternalRow(leaf.logRowBound.get)))
      case Filter(cond, l @ Leaf(leaf)) =>
        Filter(cond, splice(l, leaf.planFor(FileStats.fromExpression(cond).orNull)))
      case l @ Leaf(leaf) => splice(l, leaf.planFor(null))
    }
  }

  /** A snapshot-table leaf's own plan builder and pinned row bound. */
  private final class Pinned(val planFor: FileStats.Pred => LogicalPlan,
                             bound: => Option[Long]) {
    lazy val logRowBound: Option[Long] = bound
  }

  private final class SnapshotLeaf(shielded: java.util.Set[LogicalPlan]) {
    def unapply(p: LogicalPlan): Option[Pinned] =
      p match {
        case lr: LogicalRelation => lr.relation match {
          case r: SnapshotBatchRelation => Some(new Pinned(r.planFor, r.logRowBound))
          case _ => None
        }
        case r: DataSourceV2Relation if !shielded.contains(r) => r.table match {
          case t: GraftCatalogTable => Some(new Pinned(t.planFor, t.logRowBound))
          case _ => None
        }
        case _ => None
      }
  }

  /** `SELECT count(*)` (or `count(<literal>)`) with no grouping and no
    * filter, over a leaf or its column-pruned projection: the output
    * attribute and the leaf. */
  private object CountStar {
    def unapply(p: LogicalPlan): Option[(AttributeReference, LogicalPlan)] =
      p match {
        case Aggregate(Nil, Seq(a @ Alias(AggregateExpression(
            Count(args), Complete, false, None, _), _)), child, _)
            if args.forall(e => e.isInstanceOf[Literal] && !e.nullable) =>
          val leaf = child match {
            case Project(_, l) => l
            case l => l
          }
          Some((AttributeReference(a.name, a.dataType, nullable = false)(
            exprId = a.exprId, qualifier = a.qualifier), leaf))
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
