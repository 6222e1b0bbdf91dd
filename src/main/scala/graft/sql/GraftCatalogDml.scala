package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import graft.sources.v2.GraftCatalogTable

/** Lowers catalog-resolved row-level SQL — `UPDATE graft.t SET … WHERE …`,
  * `DELETE FROM graft.t WHERE <any predicate>`, and Delta-grammar
  * `MERGE INTO graft.t USING s ON … WHEN …` — onto the SAME
  * [[graft.ingest.Merge]] engines the warehouse SQL surface and API use
  * (copy-on-write / deletion-vector routing via `graft.dml.mode`), by
  * replacing the analyzed command with the corresponding Graft command.
  *
  * Without this rule a [[GraftCatalogTable]] only supports DELETE with
  * exactly-translatable filters (the `SupportsDelete` capability — still
  * in place for extension-less sessions); UPDATE and MERGE would fail at
  * planning. Conditions and assignment values are re-rendered as SQL with
  * qualifiers stripped, so they re-resolve against the engine's own fresh
  * read of the table — no stale expression ids cross the boundary. */
case class GraftCatalogDmlRule(session: SparkSession) extends Rule[LogicalPlan] {

  /** (warehouse, table) when the target resolves to a graft catalog
    * table — None otherwise (the rule must never touch other sources). */
  private def graftTarget(plan: LogicalPlan): Option[(String, String)] =
    plan.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftCatalogTable] =>
        val t = r.table.asInstanceOf[GraftCatalogTable]
        (t.warehouse, t.table)
    }

  /** Render a resolved expression back to SQL that re-resolves against a
    * bare read of the table: qualifiers dropped (the engine reads the
    * table unaliased), everything else verbatim. Subqueries cannot ride
    * the round trip (their `.sql` is not re-parseable) — fail with a
    * clear message instead of a confusing parse error downstream. */
  private def cleanSql(e: Expression): String = {
    require(!e.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]),
      "subqueries in catalog DML conditions/assignments are not " +
        "supported — materialize the subquery as a view and use MERGE INTO")
    e.transform {
      case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
    }.sql
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** Render a resolved MERGE-clause expression to SQL with every column
    * re-qualified as `t.<name>` (target attribute) or `s.<name>` (source
    * attribute) — the aliases [[graft.ingest.Merge.mergeClauses]] joins
    * under — so the text re-resolves against the engine's own fresh read
    * with no stale expression ids, and same-named target/source columns
    * stay unambiguous. */
  private def qualifiedSql(e: Expression,
                           tgt: org.apache.spark.sql.catalyst.expressions.AttributeSet,
                           src: org.apache.spark.sql.catalyst.expressions.AttributeSet)
      : String = {
    require(!e.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]),
      "subqueries in MERGE clause conditions/values are not supported")
    e.transform {
      case a: AttributeReference if tgt.contains(a) =>
        UnresolvedAttribute(Seq("t", a.name))
      case a: AttributeReference if src.contains(a) =>
        UnresolvedAttribute(Seq("s", a.name))
    }.sql
  }

  /** Conditional / column-level MERGE → [[GraftMergeClausesCommand]] over
    * the general engine. Clause order is preserved (first acting clause
    * wins, per MERGE semantics). */
  private def lowerGeneralMerge(wh: String, t: String,
                                keyPairs: Seq[(String, String)],
                                onResidual: Seq[Expression],
                                m: MergeIntoTable): LogicalPlan = {
    val tgt = m.targetTable.outputSet
    val src = m.sourceTable.outputSet
    def render(e: Expression): String = qualifiedSql(e, tgt, src)
    val tgtCols = m.targetTable.output.map(_.name)
    def assignPairs(assigns: Seq[Assignment]): Seq[(String, String)] =
      assigns.map { a =>
        a.key match {
          case ar: AttributeReference => ar.name -> render(a.value)
          case k => throw new UnsupportedOperationException(
            s"MERGE assignment to nested field ${k.sql} is not supported")
        }
      }
    val matchedCls: Seq[(Option[String], Option[Seq[(String, String)]])] =
      m.matchedActions.map {
        case UpdateAction(cond, assigns, _) =>
          (cond.map(render), Some(assignPairs(assigns)))
        case UpdateStarAction(cond) =>
          // Render through UnresolvedAttribute like every other path so
          // identifiers needing backquotes (space, dash, dot) stay
          // re-parseable — raw s"s.$c" interpolation would emit
          // unparseable expression text for them.
          (cond.map(render), Some(tgtCols.map(c =>
            c -> UnresolvedAttribute(Seq("s", c)).sql)))
        case DeleteAction(cond) => (cond.map(render), None)
        case other => throw new UnsupportedOperationException(
          s"unsupported WHEN MATCHED action: $other")
      }
    val notMatchedCls: Seq[(Option[String], Option[Seq[(String, String)]])] =
      m.notMatchedActions.map {
        case InsertAction(cond, assigns) =>
          (cond.map(render), Some(assignPairs(assigns)))
        case InsertStarAction(cond) => (cond.map(render), None)
        case other => throw new UnsupportedOperationException(
          s"unsupported WHEN NOT MATCHED action: $other")
      }
    // NMBS conditions/assignments see the TARGET only (no source row to
    // reference) — render catches stray source attrs naturally (they
    // fail to re-resolve under the engine's t-only frame).
    val nmbsCls: Seq[(Option[String], Option[Seq[(String, String)]])] =
      m.notMatchedBySourceActions.map {
        case UpdateAction(cond, assigns, _) =>
          (cond.map(render), Some(assignPairs(assigns)))
        case DeleteAction(cond) => (cond.map(render), None)
        case other => throw new UnsupportedOperationException(
          s"unsupported WHEN NOT MATCHED BY SOURCE action: $other")
      }
    GraftMergeClausesCommand(wh, t, keyPairs.map(_._1), matchedCls,
      notMatchedCls, m.sourceTable, nmbsCls,
      srcKeyCols = keyPairs.map(_._2),
      onResidualSql = onResidual match {
        case Seq() => None
        case rs => Some(rs.map(render).mkString("(", ") AND (", ")"))
      })
  }

  /** `WHERE (k, …) IN (SELECT …) [AND residual…]` lowered onto the
    * general merge engine: the subquery becomes the MERGE source (distinct
    * key tuples), the residual subquery-free conjuncts become the matched
    * clause's condition, and DELETE/UPDATE become the clause action — a
    * broadcast-keyed rewrite of only the files that hold matching keys,
    * never a driver-materialized value list. Returns None when the
    * condition has no subquery (the plain path serves it); throws the
    * clear unsupported error for shapes this cannot express (NOT IN,
    * EXISTS, correlated, scalar subqueries). */
  /** Uncorrelated SCALAR subqueries (in the condition or assignment
    * values) swap for `__graft_scalar_i` markers; the command evaluates
    * each plan at run time (one tiny job each) and splices the result
    * back as a SQL literal. Returns None when no scalar subquery is
    * present; leaves IN/EXISTS shapes to [[lowerSubqueryDml]]. */
  private def lowerScalarDml(wh: String, t: String,
                             condition: Option[Expression],
                             assigns: Option[Seq[Assignment]]): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.{PlanExpression, ScalarSubquery}
    val exprs = condition.toSeq ++ assigns.getOrElse(Nil).map(_.value)
    if (!exprs.exists(_.exists(_.isInstanceOf[ScalarSubquery]))) return None
    val scalars = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
    def swap(e: Expression): Expression = e.transform {
      case s: ScalarSubquery if s.outerAttrs.isEmpty =>
        scalars += s.plan
        UnresolvedAttribute(Seq(s"__graft_scalar_${scalars.size - 1}"))
    }
    val cond2 = condition.map(swap)
    val assigns2 = assigns.map(_.map(a => (a.key, swap(a.value))))
    // Anything beyond uncorrelated scalars (mixed IN + scalar, correlated
    // scalar) keeps the crisp unsupported error from cleanSql.
    val rendered = cond2.map(cleanSql).getOrElse("true")
    val assignPairs = assigns2.map(_.map {
      case (k: AttributeReference, v) => k.name -> cleanSql(v)
      case (k, _) => throw new UnsupportedOperationException(
        s"UPDATE of nested field ${k.sql} is not supported")
    }).getOrElse(Nil)
    Some(GraftDmlCommand(wh, t, rendered, assignPairs, scalars.toSeq))
  }

  /** General `NOT IN` — multi-column tuples and equality-correlated
    * subqueries — lowered onto the NMBS engine with a CUSTOM anti-join
    * condition carrying the exact three-valued semantics: a target row
    * acts iff NO subquery row makes every component comparison non-FALSE,
    * i.e. anti-join on `AND_i(t.ki = s.ki OR t.ki IS NULL OR s.ki IS
    * NULL)` with strict equalities for the correlation conjuncts. Every
    * NULL trap follows from that one condition: a subquery row whose
    * components are all NULL-compatible blocks every target row (the
    * global no-op), a NULL target component acts only when some other
    * component differs definitely, an empty subquery acts on everything,
    * and a NULL correlation key (inner WHERE evaluates NULL → empty list)
    * lets the target row act. */
  /** Decorrelate a (NOT) IN ListQuery of the canonical shape —
    * correlation conjuncts in the subquery's top-level filter — into
    * (equality correlation pairs, NON-equality correlated conjuncts, the
    * value projection, the plain-filtered inner plan). Callers decide
    * what to do with the non-equality remainder: IN lowers it as the
    * merge engine's ON residual ([[lowerResidualExists]] — the value
    * column itself anchors the equi-join); NOT IN folds it into its
    * wholesale anti-join ON ([[lowerGeneralNotIn]] — a witness is an
    * inner row the conjunct admits as TRUE, which is exactly the
    * subquery-membership test, so 3VL composes). */
  private def decorrelateList(
      lq: org.apache.spark.sql.catalyst.expressions.ListQuery,
      what: String, unsupported: String => Nothing)
      : (Seq[(AttributeReference, AttributeReference)], Seq[Expression],
         Seq[Expression], LogicalPlan) = {
    import org.apache.spark.sql.catalyst.expressions.OuterReference
    if (lq.outerAttrs.isEmpty) return (Nil, Nil, lq.plan.output, lq.plan)
    lq.plan match {
      case p @ Project(_, f @ Filter(_, child)) =>
        val (cor, plain) = conjuncts(f.condition)
          .partition(_.exists(_.isInstanceOf[OuterReference]))
        val pairsB = Seq.newBuilder[(AttributeReference, AttributeReference)]
        val residB = Seq.newBuilder[Expression]
        cor.foreach {
          case EqualTo(i: AttributeReference, OuterReference(o: AttributeReference)) =>
            pairsB += o -> i
          case EqualTo(OuterReference(o: AttributeReference), i: AttributeReference) =>
            pairsB += o -> i
          case other => residB += other
        }
        (pairsB.result(), residB.result(), p.projectList,
          plain.reduceOption(And).map(Filter(_, child)).getOrElse(child))
      case _ =>
        unsupported(s"correlated $what without a simple filtered subquery")
    }
  }

  /** EXISTS / NOT EXISTS whose correlation carries NON-equality conjuncts
    * beyond the anchoring equalities (`EXISTS (SELECT 1 FROM s WHERE
    * s.g = t.g AND s.ts < t.ts)`): the equalities become MERGE keys, the
    * rest becomes the ON residual (matching = keys AND residual — the
    * engine's partition-scoped-merge machinery), and the inner columns
    * the residual reads ride the source projection. EXISTS routes to the
    * matched path with witness dedupe (several subquery rows witnessing
    * one target row act once — conditions/assignments are t-only by
    * construction); NOT EXISTS anti-joins the full ON, exactly its
    * semantics. */
  /** The INNER attributes an expression reads (everything under an
    * OuterReference belongs to the target side and is excluded). */
  private def innerAttrsOf(e: Expression): Seq[AttributeReference] = {
    import org.apache.spark.sql.catalyst.expressions.OuterReference
    e match {
      case OuterReference(_) => Nil
      case a: AttributeReference => Seq(a)
      case other => other.children.flatMap(innerAttrsOf)
    }
  }

  private def lowerResidualExists(wh: String, t: String, target: LogicalPlan,
                                  pairs: Seq[(AttributeReference, AttributeReference)],
                                  residCor: Seq[Expression], inner: LogicalPlan,
                                  residual: Seq[Expression],
                                  assigns: Option[Seq[Assignment]],
                                  nmbs: Boolean,
                                  unsupported: String => Nothing,
                                  targetFilters: Seq[(String, LogicalPlan, Boolean)] = Nil,
                                  orPlain: Option[Expression] = None)
      : LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, OuterReference}
    val keyNames = pairs.map(_._1.name)
    val tgt = target.outputSet
    require(pairs.map(_._1).forall(tgt.contains),
      "EXISTS correlation outer columns must be columns of the target table")
    // Inner columns the residual reads, projected under their own names
    // (minus those already served by a same-named key alias).
    val residInner = residCor.flatMap(innerAttrsOf)
      .groupBy(_.exprId).map(_._2.head).toSeq.sortBy(_.name)
    val extras = residInner.filterNot(a => pairs.exists(p =>
      p._2.exprId == a.exprId && p._1.name == a.name))
    extras.foreach(a => if (keyNames.contains(a.name)) unsupported(
      s"correlated-subquery column '${a.name}' shadows a correlation key name"))
    if (extras.map(_.name).distinct.size != extras.size)
      unsupported("ambiguous same-named columns in the correlated subquery")
    val srcPlan = Distinct(Project(
      pairs.map { case (o, i) => Alias(i, o.name)() } ++ extras, inner))
    def corSql(e: Expression): String = e.transform {
      case OuterReference(o: AttributeReference) =>
        UnresolvedAttribute(Seq("t", o.name))
      case a: AttributeReference => UnresolvedAttribute(Seq("s", a.name))
    }.sql
    val empty = org.apache.spark.sql.catalyst.expressions.AttributeSet.empty
    def render(e: Expression): String = qualifiedSql(e, tgt, empty)
    // Disjunctions on this engine:
    //  - `NOT EXISTS … OR r` (nmbs): the general-NOT-IN construction —
    //    ¬coalesce(r, false) rides the ON (a witness only blocks rows
    //    where r is not TRUE), (B OR r) rides the condition;
    //  - `EXISTS/IN-with-residual … OR r` (matched): S is TRUE exactly
    //    on witness-matched rows, so matched rows act under (B OR r)
    //    and UNMATCHED rows act under r through an NMBS clause over the
    //    SAME ON — the two clause sets partition the target exactly.
    val orSql = orPlain.map(render)
    val onParts = residCor.map(corSql) ++
      (if (nmbs) orSql.map(r => s"NOT coalesce(($r), false)") else None)
    val onResidualSql =
      if (onParts.isEmpty) None
      else Some(onParts.mkString("(", ") AND (", ")"))
    val residualSql = (residual, orSql) match {
      case (Seq(), _) => None
      case (rs, None) => Some(rs.map(render).mkString("(", ") AND (", ")"))
      case (rs, Some(r)) =>
        Some(s"(${rs.map(render).mkString("(", ") AND (", ")")}) OR ($r)")
    }
    val assignPairs = assigns.map(_.map { a =>
      a.key match {
        case ar: AttributeReference => ar.name -> render(a.value)
        case k => throw new UnsupportedOperationException(
          s"UPDATE of nested field ${k.sql} is not supported")
      }
    })
    if (nmbs)
      GraftMergeClausesCommand(wh, t, keyNames,
        matched = Nil, notMatched = Nil, srcPlan,
        notMatchedBySource = Seq((residualSql, assignPairs)),
        onResidualSql = onResidualSql, evolveSchema = false,
        targetInSubqueries = targetFilters)
    else
      GraftMergeClausesCommand(wh, t, keyNames,
        matched = Seq((residualSql, assignPairs)), notMatched = Nil, srcPlan,
        notMatchedBySource =
          orSql.map(r => (Some(r): Option[String], assignPairs)).toSeq,
        onResidualSql = onResidualSql, dedupeMatched = true,
        evolveSchema = false, targetInSubqueries = targetFilters)
  }

  private def lowerGeneralNotIn(wh: String, t: String, target: LogicalPlan,
                                attrs: Seq[AttributeReference],
                                lq: org.apache.spark.sql.catalyst.expressions.ListQuery,
                                residual: Seq[Expression],
                                assigns: Option[Seq[Assignment]],
                                unsupported: String => Nothing,
                                targetFilters: Seq[(String, LogicalPlan, Boolean)] = Nil,
                                orPlain: Option[Expression] = None)
      : LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, OuterReference}
    val (corrPairs, residCor, projList, below) =
      decorrelateList(lq, "NOT IN", unsupported)
    if (lq.outerAttrs.nonEmpty && corrPairs.isEmpty && residCor.isEmpty)
      unsupported("NOT IN correlation outside the subquery's WHERE clause")
    val tgt = target.outputSet
    require((attrs ++ corrPairs.map(_._1)).forall(tgt.contains),
      "NOT IN values and correlation columns must be columns of the target table")
    val names = attrs.map(_.name) ++ corrPairs.map(_._1.name)
    if (names.distinct.size != names.size)
      unsupported(
        "a target column appears twice across the NOT IN tuple and its correlation")
    // NON-equality correlated conjuncts (`AND s.ts < t.ts`) ride the anti
    // ON directly — 3VL-exact BECAUSE of the join-condition semantics: a
    // witness for target row t is an inner row the subquery's WHERE
    // admits (conjunct TRUE; NULL/false rows are simply not in the
    // subquery result for t), so putting the conjunct in the ON — where
    // NULL = no match — IS the membership test, composed with the
    // three-valued tuple comparison below. The inner columns they read
    // ride the source projection under their own names.
    val residInner = residCor.flatMap(innerAttrsOf)
      .groupBy(_.exprId).map(_._2.head).toSeq.sortBy(_.name)
    val extras = residInner.filterNot(a => corrPairs.exists(p =>
      p._2.exprId == a.exprId && p._1.name == a.name))
    extras.foreach(a => if (names.contains(a.name)) unsupported(
      s"correlated-subquery column '${a.name}' shadows a NOT IN " +
        "tuple/correlation name"))
    if (extras.map(_.name).distinct.size != extras.size)
      unsupported("ambiguous same-named columns in the correlated subquery")
    // Subquery output aliased to the target-side names (value columns to
    // the tuple's names, correlation inners to their outer names), made
    // distinct — membership semantics, smaller anti-join build side.
    val srcPlan = Distinct(Project(
      projList.zip(attrs).map { case (e, a) => Alias(e, a.name)() } ++
        corrPairs.map { case (o, i) => Alias(i, o.name)() } ++ extras, below))
    def tq(n: String) = UnresolvedAttribute(Seq("t", n)).sql
    def sq(n: String) = UnresolvedAttribute(Seq("s", n)).sql
    def corSql(e: Expression): String = e.transform {
      case OuterReference(o: AttributeReference) =>
        UnresolvedAttribute(Seq("t", o.name))
      case a: AttributeReference => UnresolvedAttribute(Seq("s", a.name))
    }.sql
    val empty = org.apache.spark.sql.catalyst.expressions.AttributeSet.empty
    def render(e: Expression): String = qualifiedSql(e, tgt, empty)
    // `NOT IN … OR r` (r subquery-free, t-only): the t-only conjunct
    // `NOT coalesce(r, false)` joins the anti ON, so a witness only
    // BLOCKS rows where r is not TRUE — "unmatched" becomes r′ ∨ ¬∃w —
    // and the clause condition (b OR r) below restores exactly
    // (NOT IN ∧ b) ∨ r: (r′ ∨ ¬∃w) ∧ (b ∨ r) evaluates act-iff-TRUE by
    // cases on r (TRUE → acts; FALSE → ¬∃w ∧ b; UNKNOWN → r′ = false,
    // acts iff ¬∃w ∧ b — the 3VL answer each time).
    val orSql = orPlain.map(render)
    val antiOn = (attrs.map(a =>
        s"${tq(a.name)} = ${sq(a.name)} OR ${tq(a.name)} IS NULL OR " +
          s"${sq(a.name)} IS NULL") ++
      corrPairs.map { case (o, _) => s"${tq(o.name)} = ${sq(o.name)}" } ++
      residCor.map(corSql) ++
      orSql.map(r => s"NOT coalesce(($r), false)"))
      .mkString("(", ") AND (", ")")
    val residualSql = (residual, orSql) match {
      case (Seq(), _) => None // b empty: (TRUE OR r) = TRUE
      case (rs, None) => Some(rs.map(render).mkString("(", ") AND (", ")"))
      case (rs, Some(r)) =>
        Some(s"(${rs.map(render).mkString("(", ") AND (", ")")}) OR ($r)")
    }
    val assignPairs = assigns.map(_.map { a =>
      a.key match {
        case ar: AttributeReference => ar.name -> render(a.value)
        case k => throw new UnsupportedOperationException(
          s"UPDATE of nested field ${k.sql} is not supported")
      }
    })
    GraftMergeClausesCommand(wh, t, attrs.map(_.name),
      matched = Nil, notMatched = Nil, srcPlan,
      notMatchedBySource = Seq((residualSql, assignPairs)),
      nmbsAntiOnSql = Some(antiOn), evolveSchema = false,
      targetInSubqueries = targetFilters)
  }

  private def lowerSubqueryDml(wh: String, t: String, target: LogicalPlan,
                               condition: Expression,
                               assigns: Option[Seq[Assignment]]): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, InSubquery, ListQuery, PlanExpression}
    if (!condition.exists(_.isInstanceOf[PlanExpression[_]])) return None
    def isSub(e: Expression): Boolean =
      e.exists(_.isInstanceOf[PlanExpression[_]])
    // Top-level DISJUNCTION with exactly one subquery side: `S OR r` acts
    // on the UNION of the two act sets, which the engine expresses in one
    // atomic merge — matched rows (S's key match) act with condition
    // `B OR r` (B = S's own plain conjuncts), unmatched target rows act
    // through a NOT MATCHED BY SOURCE clause with condition `r`. Sound
    // for non-negated membership (plain/correlated IN, equality-anchored
    // EXISTS): S evaluates TRUE exactly on key-matched rows, so the
    // matched/unmatched split IS the S/¬S split (a NULL key never
    // matches — not-TRUE — and still acts iff r). NEGATED subqueries
    // (`NOT IN … OR r`, `NOT EXISTS … OR r`) lower on their anti-join
    // routes instead: the t-only conjunct ¬coalesce(r, false) joins the
    // unmatched-ness ON (a witness only blocks rows where r is not
    // TRUE) and the clause condition becomes b ∨ r — algebra restores
    // exactly (S ∧ b) ∨ r, 3VL traps staying structural in the ON.
    val (splitSrc, orPlain) = condition match {
      case org.apache.spark.sql.catalyst.expressions.Or(l, r)
          if isSub(l) && !isSub(r) => (l, Some(r))
      case org.apache.spark.sql.catalyst.expressions.Or(l, r)
          if isSub(r) && !isSub(l) => (r, Some(l))
      case _ => (condition, None)
    }
    val parts = conjuncts(splitSrc)
    val (subq0, residual0) =
      parts.partition(_.exists(_.isInstanceOf[PlanExpression[_]]))
    def unsupported(why: String): Nothing =
      throw new UnsupportedOperationException(
        s"unsupported subquery in catalog DML condition ($why) — only " +
          "`(col, …) IN (SELECT …)` [AND subquery-free predicates] is " +
          "lowered; materialize other subqueries as a view and use MERGE INTO")
    // Several subquery conjuncts: the FIRST stays the engine's subquery
    // source; every OTHER must be an uncorrelated single-column IN /
    // NOT IN. Small ones (≤ `graft.dml.inlineCap`, default 1024) are
    // evaluated NOW (bounded driver materialization — the same value-cap
    // discipline as keyed point pruning) and join the residual as a
    // literal membership condition; PAST the cap they become distributed
    // target-side semi/anti joins (the engine's targetFilter) — never an
    // error, never an unbounded collect. 3VL holds on both routes: a NULL
    // in a NOT IN list (or an empty IN list) renders the conjunct false,
    // an empty NOT IN list renders it true, NULL elements of an IN list
    // drop (they can never make IN true).
    val targetFiltersB =
      Seq.newBuilder[(String, LogicalPlan, Boolean)] // (col, subquery, negated)
    def inlineLiteral(e: Expression): Option[Expression] = {
      import org.apache.spark.sql.catalyst.expressions.{And => CAnd, In, IsNotNull, Literal, Not => CNot}
      val inlineCap = SparkSession.active.conf
        .getOption("graft.dml.inlineCap").map(_.toInt).getOrElse(1024)
      def valuesOf(lq: ListQuery): Option[Seq[Any]] = {
        val rows = org.apache.spark.sql.graftbridge.ColumnBridge
          .ofRows(SparkSession.active, lq.plan).limit(inlineCap + 1).collect()
        if (rows.length > inlineCap) None else Some(rows.toSeq.map(_.get(0)))
      }
      e match {
        case InSubquery(Seq(a: AttributeReference), lq: ListQuery)
            if lq.outerAttrs.isEmpty =>
          valuesOf(lq) match {
            case None =>
              targetFiltersB += ((a.name, lq.plan, false)); None
            case Some(vs) =>
              val nn = vs.filter(_ != null)
              Some(if (nn.isEmpty) Literal(false)
              else In(a, nn.map(v =>
                Literal.create(v, lq.plan.output.head.dataType))))
          }
        case org.apache.spark.sql.catalyst.expressions.Not(
            InSubquery(Seq(a: AttributeReference), lq: ListQuery))
            if lq.outerAttrs.isEmpty =>
          valuesOf(lq) match {
            case None =>
              targetFiltersB += ((a.name, lq.plan, true)); None
            case Some(vs) =>
              Some(if (vs.contains(null)) Literal(false) // NOT IN is never TRUE
              else if (vs.isEmpty) Literal(true)
              else CAnd(IsNotNull(a), CNot(In(a, vs.map(v =>
                Literal.create(v, lq.plan.output.head.dataType))))))
          }
        case other => unsupported(
          "multiple subqueries: every conjunct after the first must be an " +
            s"uncorrelated single-column IN/NOT IN, got ${other.sql.take(60)}")
      }
    }
    orPlain.foreach { _ =>
      subq0.headOption.toSeq match {
        case Seq(_: InSubquery) => ()
        case Seq(_: org.apache.spark.sql.catalyst.expressions.Exists) => ()
        case Seq(org.apache.spark.sql.catalyst.expressions.Not(
          _: InSubquery | _: org.apache.spark.sql.catalyst.expressions.Exists
        )) => ()
        case _ => unsupported(
          "a disjunction's subquery side must be an IN, NOT IN, EXISTS " +
            "or NOT EXISTS")
      }
    }
    val (subq, residual) =
      if (subq0.size <= 1) (subq0, residual0)
      else (Seq(subq0.head), residual0 ++ subq0.tail.flatMap(inlineLiteral))
    val targetFilters = targetFiltersB.result()
    // Secondary subquery conjuncts COMPOSE with a disjunction only on the
    // literal-inline route (the inlined predicate is subquery-free and
    // rides `B` in (S ∧ B) ∨ r); the past-cap route's targetFilter
    // restricts the WHOLE act set — wrong under OR, where r-TRUE rows act
    // regardless of the secondary membership. Crisp error past the cap.
    if (orPlain.isDefined && targetFilters.nonEmpty)
      unsupported(
        "past-the-inline-cap secondary subqueries under a disjunction — " +
          "raise graft.dml.inlineCap or materialize the subquery")
    targetFilters.foreach { case (c, _, _) =>
      require(target.output.exists(_.name == c),
        s"secondary subquery column '$c' must be a column of the target table")
    }
    // Equality-correlated EXISTS decorrelates to the IN shape: pull the
    // `inner = outer` conjuncts out of the subquery's (top-level) Filter,
    // project the inner sides, and treat the outer sides as the key
    // columns. Handles the canonical `EXISTS (SELECT … FROM s WHERE
    // s.k = t.k [AND s-side preds])`; deeper correlation shapes keep the
    // unsupported error.
    def decorrelate(ex: org.apache.spark.sql.catalyst.expressions.Exists)
        : (Seq[(AttributeReference, AttributeReference)], Seq[Expression],
           LogicalPlan) = {
      import org.apache.spark.sql.catalyst.expressions.OuterReference
      val (filter, below) = ex.plan match {
        case Project(_, f @ Filter(_, child)) => (f, child)
        case f @ Filter(_, child) => (f, child)
        case _ => unsupported("EXISTS without a simple filtered subquery")
      }
      val (cor, plain) = conjuncts(filter.condition)
        .partition(_.exists(_.isInstanceOf[OuterReference]))
      // Equality conjuncts become the join keys; the rest of the
      // correlated conjuncts (range comparisons etc.) become the ON
      // residual — at least one equality must anchor the join (a purely
      // non-equi correlation would be a cross join).
      val pairsB = Seq.newBuilder[(AttributeReference, AttributeReference)]
      val residB = Seq.newBuilder[Expression]
      cor.foreach {
        case EqualTo(i: AttributeReference, OuterReference(o: AttributeReference)) =>
          pairsB += o -> i
        case EqualTo(OuterReference(o: AttributeReference), i: AttributeReference) =>
          pairsB += o -> i
        case other => residB += other
      }
      val pairs = pairsB.result()
      if (pairs.isEmpty) unsupported("EXISTS without equality correlation")
      val inner = plain.reduceOption(And).map(Filter(_, below)).getOrElse(below)
      (pairs, residB.result(), inner)
    }
    // nmbs = act on rows WITHOUT a source match; nullGuards = NOT IN's
    // three-valued-logic traps (NOT EXISTS has none: a NULL-keyed target
    // row never matches, so NOT EXISTS is TRUE and the row acts).
    val (keyAttrs, listPlan, nmbsMode, nullGuards) = subq match {
      case Seq(InSubquery(values, lq: ListQuery)) =>
        val attrs = values.map {
          case a: AttributeReference => a
          case v => unsupported(s"non-column IN value ${v.sql}")
        }
        // Equality-correlated IN decorrelates onto the SAME multi-key
        // matched path: `t.k IN (SELECT x FROM s WHERE s.c = t.c)` acts
        // exactly on rows with a source tuple (x = t.k, c = t.c) — the
        // correlation column joins alongside the value column, and IN's
        // NULL semantics (never TRUE on a NULL key) fall out of the
        // strict equi-join.
        val (pairs, residCor, projList, below) =
          decorrelateList(lq, "IN", unsupported)
        val inNames = (attrs ++ pairs.map(_._1)).map(_.name)
        if (inNames.distinct.size != inNames.size)
          unsupported(
            "a target column appears twice across the IN tuple and its correlation")
        if (residCor.nonEmpty) {
          // NON-equality correlated conjuncts (`s.ts < t.ts` beside the
          // values/anchors): `IN` ≡ EXISTS with the value columns as
          // extra equality anchors — the residual rides the merge
          // engine's ON condition, multiple witnesses collapse
          // (dedupeMatched; DML actions are t-only).
          if (attrs.size != projList.size)
            unsupported("IN tuple arity mismatch")
          // The projected value expressions must be addressable inner
          // ATTRIBUTES for the key pairing — alias non-attribute
          // projections on top of the filtered plan (old attrs stay
          // valid for the residual).
          val (valAttrs, inner2) = {
            val aliases = projList.zipWithIndex.map {
              case (a: AttributeReference, _) => Left(a)
              case (e, i) =>
                Right(Alias(e, s"__graft_in_v$i")())
            }
            val extraAliases = aliases.collect { case Right(al) => al }
            val plan =
              if (extraAliases.isEmpty) below
              else Project(below.output ++ extraAliases, below)
            (aliases.map {
              case Left(a) => a
              case Right(al) => al.toAttribute match {
                case ar: AttributeReference => ar
                case other => unsupported(s"unexpected alias ${other.sql}")
              }
            }, plan)
          }
          return Some(lowerResidualExists(wh, t, target,
            attrs.zip(valAttrs) ++ pairs, residCor, inner2,
            residual, assigns, nmbs = false, unsupported, targetFilters,
            orPlain))
        }
        val named = projList.map {
          case n: org.apache.spark.sql.catalyst.expressions.NamedExpression => n
          case e => Alias(e, "v")()
        }
        (attrs ++ pairs.map(_._1),
          Project(named ++ pairs.map(_._2), below), false, false)
      case Seq(org.apache.spark.sql.catalyst.expressions.Not(
          InSubquery(values, lq: ListQuery))) =>
        val attrs = values.map {
          case a: AttributeReference => a
          case v => unsupported(s"non-column NOT IN value ${v.sql}")
        }
        // Single-column uncorrelated NOT IN keeps the key-equality NMBS
        // path (stats-prunable; its NULL traps ride as clause conditions
        // plus the source-null no-op probe). Multi-column tuples,
        // equality-correlated subqueries and disjunctions (whose r-TRUE
        // rows must act even when the no-op probe fires) take the
        // general anti-join lowering, whose ON condition IS the
        // three-valued semantics.
        if (lq.outerAttrs.isEmpty && attrs.size == 1 && orPlain.isEmpty)
          (attrs, lq.plan, true, true)
        else
          return Some(lowerGeneralNotIn(wh, t, target, attrs, lq,
            residual, assigns, unsupported, targetFilters, orPlain))
      case Seq(ex: org.apache.spark.sql.catalyst.expressions.Exists) =>
        val (pairs, residCor, inner) = decorrelate(ex)
        if (residCor.isEmpty)
          (pairs.map(_._1), Project(pairs.map(_._2), inner), false, false)
        else
          return Some(lowerResidualExists(wh, t, target, pairs, residCor,
            inner, residual, assigns, nmbs = false, unsupported,
            targetFilters, orPlain))
      case Seq(org.apache.spark.sql.catalyst.expressions.Not(
          ex: org.apache.spark.sql.catalyst.expressions.Exists)) =>
        val (pairs, residCor, inner) = decorrelate(ex)
        if (residCor.isEmpty && orPlain.isEmpty)
          (pairs.map(_._1), Project(pairs.map(_._2), inner), true, false)
        else
          return Some(lowerResidualExists(wh, t, target, pairs, residCor,
            inner, residual, assigns, nmbs = true, unsupported,
            targetFilters, orPlain))
      case Seq(one) => unsupported(s"shape ${one.sql.take(80)}")
      case _ => unsupported("multiple subqueries")
    }
    val tgt = target.outputSet
    require(keyAttrs.forall(tgt.contains),
      "IN-subquery values must be columns of the target table")
    val empty = org.apache.spark.sql.catalyst.expressions.AttributeSet.empty
    def render(e: Expression): String = qualifiedSql(e, tgt, empty)
    val keyCols = keyAttrs.map(_.name)
    // The subquery's output, aliased to the key column names and made
    // distinct — IN is membership, and distinct keys satisfy the engine's
    // multi-match contract by construction.
    val aliased = Project(listPlan.output.zip(keyCols).map {
      case (a, n) => Alias(a, n)() }, listPlan)
    val source = Distinct(aliased)
    val residualSql = residual match {
      case Seq() => None
      case rs => Some(rs.map(render).mkString("(", ") AND (", ")"))
    }
    val assignPairs = assigns.map(_.map { a =>
      a.key match {
        case ar: AttributeReference => ar.name -> render(a.value)
        case k => throw new UnsupportedOperationException(
          s"UPDATE of nested field ${k.sql} is not supported")
      }
    })
    if (nmbsMode) {
      // `k NOT IN (sub)` / `NOT EXISTS (…)`: act on target rows with NO
      // source match — the NOT MATCHED BY SOURCE machinery. NOT IN's SQL
      // three-valued logic rides as clause conditions: a NULL target key
      // makes NOT IN evaluate NULL (row must NOT act), and a NULL
      // anywhere in the subquery result makes it never-TRUE (whole
      // statement no-ops — checked at run time by sourceNullNoop). NOT
      // EXISTS has neither trap: unmatched is unmatched.
      val cond =
        if (!nullGuards) residualSql
        else {
          val notNull = s"(t.${keyCols.head} IS NOT NULL)"
          Some(residualSql.fold(notNull)(r => s"$notNull AND $r"))
        }
      Some(GraftMergeClausesCommand(wh, t, keyCols,
        matched = Nil, notMatched = Nil, source,
        notMatchedBySource = Seq((cond, assignPairs)),
        sourceNullNoop = nullGuards, evolveSchema = false,
        targetInSubqueries = targetFilters))
    } else orPlain match {
      case Some(pl) =>
        // `S OR r`: matched rows (S's key match) act iff B ∨ r (B = S's
        // own plain conjuncts, None = always); unmatched target rows act
        // iff r, through a conditional NMBS clause over the same source.
        val rSql = render(pl)
        Some(GraftMergeClausesCommand(wh, t, keyCols,
          matched = Seq((residualSql.map(b => s"($b) OR ($rSql)"),
            assignPairs)),
          notMatched = Nil, source,
          notMatchedBySource = Seq((Some(rSql), assignPairs)),
          evolveSchema = false))
      case None =>
        Some(GraftMergeClausesCommand(wh, t, keyCols,
          matched = Seq((residualSql, assignPairs)), notMatched = Nil, source,
          evolveSchema = false, targetInSubqueries = targetFilters))
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case u: UpdateTable if u.resolved && graftTarget(u.table).isDefined =>
      val (wh, t) = graftTarget(u.table).get
      lowerScalarDml(wh, t, u.condition, Some(u.assignments))
        .orElse(u.condition.flatMap(c =>
          lowerSubqueryDml(wh, t, u.table, c, Some(u.assignments))))
        .getOrElse {
          val assigns = u.assignments.map { a =>
            a.key match {
              case ar: AttributeReference => ar.name -> cleanSql(a.value)
              case k => throw new UnsupportedOperationException(
                s"UPDATE of nested field ${k.sql} is not supported")
            }
          }
          GraftDmlCommand(wh, t, u.condition.map(cleanSql).getOrElse("true"),
            assigns)
        }

    case d: DeleteFromTable if d.resolved && graftTarget(d.table).isDefined =>
      val (wh, t) = graftTarget(d.table).get
      lowerScalarDml(wh, t, Some(d.condition), None)
        .orElse(lowerSubqueryDml(wh, t, d.table, d.condition, None))
        .getOrElse(GraftDmlCommand(wh, t, cleanSql(d.condition), Nil))

    case m: MergeIntoTable
        if m.resolved && graftTarget(m.targetTable).isDefined =>
      val (wh, t) = graftTarget(m.targetTable).get
      // Star NMBS (the mirror-sync fast path) is exactly one
      // unconditional DELETE; anything else routes to the general engine.
      val nmbsStar: Option[Boolean] = m.notMatchedBySourceActions match {
        case Seq() => Some(false)
        case Seq(DeleteAction(None)) => Some(true)
        case _ => None
      }
      // Key columns: AND-ed target=source column equalities, sides
      // resolved by attribute ownership (names may differ:
      // `ON t.id = s.customer_id`). Non-equi conjuncts become the ON
      // residual — matching requires keys AND residual (the
      // partition-scoped merge, `ON t.k = s.k AND t.dt = '…'`).
      val tgtSet = m.targetTable.outputSet
      val srcSet = m.sourceTable.outputSet
      val keyPairsB = Seq.newBuilder[(String, String)]
      val residualB = Seq.newBuilder[Expression]
      conjuncts(m.mergeCondition).foreach {
        case EqualTo(l: AttributeReference, r: AttributeReference)
            if tgtSet.contains(l) && srcSet.contains(r) =>
          keyPairsB += l.name -> r.name
        case EqualTo(l: AttributeReference, r: AttributeReference)
            if srcSet.contains(l) && tgtSet.contains(r) =>
          keyPairsB += r.name -> l.name
        case other => residualB += other
      }
      val keyPairs = keyPairsB.result()
      val onResidual = residualB.result()
      require(keyPairs.nonEmpty,
        "MERGE ON needs at least one target=source column equality " +
          "(t.k = s.k) — a purely non-equi ON would be a cross join")
      val keyCols = keyPairs.map(_._1)
      val sameNamedKeys = keyPairs.forall { case (t0, s0) => t0 == s0 }
      // Star shapes (the engine's upsert semantics): UPDATE SET * may
      // arrive pre-expansion or expanded to same-named assignments — but
      // only counts as star when it covers EVERY target column (a partial
      // same-named assignment like `SET v = s.v` must keep the other
      // columns, which is the general engine's job, not upsert's).
      val tgtColCount = m.targetTable.output.size
      def allSameNamed(assigns: Seq[Assignment]): Boolean =
        assigns.size == tgtColCount && assigns.forall {
          case Assignment(k: AttributeReference, v: AttributeReference) =>
            k.name == v.name
          case _ => false
        }
      def isStarUpdate(a: MergeAction): Boolean = a match {
        case UpdateStarAction(None) => true
        case UpdateAction(None, assigns, _) => allSameNamed(assigns)
        case _ => false
      }
      def isStarInsert(a: MergeAction): Boolean = a match {
        case InsertStarAction(None) => true
        case InsertAction(None, assigns) => allSameNamed(assigns)
        case _ => false
      }
      val matchedUpdate = m.matchedActions.exists(isStarUpdate)
      val matchedDelete = m.matchedActions.exists {
        case DeleteAction(None) => true; case _ => false }
      val notMatchedInsert = m.notMatchedActions.exists(isStarInsert)
      val recognized = m.matchedActions.count(a => isStarUpdate(a) ||
          (a match { case DeleteAction(None) => true; case _ => false })) +
        m.notMatchedActions.count(isStarInsert)
      if (nmbsStar.isEmpty || !sameNamedKeys || onResidual.nonEmpty ||
          recognized != m.matchedActions.size + m.notMatchedActions.size)
        // Conditional and/or column-level clauses (incl. conditional /
        // UPDATE-ing NOT MATCHED BY SOURCE), differently-named ON keys,
        // or a non-equi ON residual: the general engine (star shapes
        // expand there).
        return lowerGeneralMerge(wh, t, keyPairs, onResidual, m)
      val nmbsDelete = nmbsStar.get
      require(!(matchedUpdate && matchedDelete),
        "MERGE cannot have both an unconditional MATCHED UPDATE and a " +
          "MATCHED DELETE clause")
      if (nmbsDelete) {
        require(!matchedDelete,
          "MATCHED DELETE with NOT MATCHED BY SOURCE DELETE would empty " +
            "the table — use TRUNCATE")
        // Mirror-sync shapes, each ONE atomic commit:
        //   UPDATE* + INSERT* + NMBS DELETE ≡ the table BECOMES the source
        //     (matched rows replaced by source, unmatched inserted,
        //     everything else deleted) → one OCC overwrite;
        //   UPDATE* + NMBS DELETE ≡ the source restricted to existing
        //     keys → one OCC overwrite of that semi-join;
        //   NMBS DELETE alone ≡ delete target keys absent from the
        //     source → one keyed-delete commit.
        GraftMergeSyncCommand(wh, t, keyCols, m.sourceTable,
          matchedUpdate, notMatchedInsert)
      } else
        GraftMergeCommand(wh, t, source = "", keyCols,
          matchedUpdate, matchedDelete, notMatchedInsert,
          sourcePlan = Some(m.sourceTable))

    case _ => plan
  }
}

/** Conditional / column-level MERGE clauses lowered onto
  * [[graft.ingest.Merge.mergeClauses]]. Conditions and assignment values
  * arrive as SQL text qualified with the engine's own `t`/`s` aliases
  * (see [[GraftCatalogDmlRule.qualifiedSql]]); `assigns = None` on a
  * matched clause is DELETE, on a not-matched clause INSERT *. */
case class GraftMergeClausesCommand(warehouse: String, table: String,
                                    keyCols: Seq[String],
                                    matched: Seq[(Option[String], Option[Seq[(String, String)]])],
                                    notMatched: Seq[(Option[String], Option[Seq[(String, String)]])],
                                    sourcePlan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                                    notMatchedBySource: Seq[(Option[String], Option[Seq[(String, String)]])] = Nil,
                                    sourceNullNoop: Boolean = false,
                                    srcKeyCols: Seq[String] = Nil,
                                    onResidualSql: Option[String] = None,
                                    nmbsAntiOnSql: Option[String] = None,
                                    dedupeMatched: Boolean = false,
                                    evolveSchema: Boolean = true,
                                    targetInSubqueries: Seq[(String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Boolean)] = Nil)
  extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
  import org.apache.spark.sql.types.{IntegerType, LongType}

  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_rewritten", IntegerType)(),
    AttributeReference("files_added", IntegerType)(),
    AttributeReference("rows_matched", LongType)())

  override def run(session: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions.expr
    def toClause(c: (Option[String], Option[Seq[(String, String)]]))
        : graft.ingest.Merge.WhenClause =
      graft.ingest.Merge.WhenClause(c._1.map(expr),
        c._2.map(_.map { case (col, e) => col -> expr(e) }))
    val src =
      org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(session, sourcePlan)
    // NOT IN semantics: one NULL in the subquery result makes the
    // predicate never-TRUE — the whole statement is a no-op. One cheap
    // limit(1) job on the dim-sized subquery decides it.
    if (sourceNullNoop && src.filter(
        org.apache.spark.sql.functions.col(keyCols.head).isNull)
        .limit(1).count() > 0)
      return Seq(org.apache.spark.sql.Row(0, 0, 0L))
    // Past-cap secondary IN/NOT IN conjuncts: each becomes a distributed
    // semi/anti join restricting which TARGET rows may act. The 3VL edge
    // cases resolve with bounded limit(1) probes here, exactly mirroring
    // the literal-inline route: NOT IN over a NULL-carrying list is never
    // TRUE (whole statement no-ops), over an empty list always TRUE (no
    // filter at all); a NULL target value never satisfies either form
    // against a non-empty list.
    var targetFilter: Option[org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.DataFrame] = None
    for ((c, plan, negated) <- targetInSubqueries) {
      import org.apache.spark.sql.functions.col
      val sub = org.apache.spark.sql.graftbridge.ColumnBridge
        .ofRows(session, plan)
      val vals = sub.select(sub.columns.head).toDF(c).distinct()
      val isEmpty = vals.limit(1).count() == 0
      val step: Option[org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame] =
        if (!negated) {
          if (isEmpty) // IN (empty) is never TRUE: nothing acts.
            return Seq(org.apache.spark.sql.Row(0, 0, 0L))
          Some(df => df.filter(col(c).isNotNull)
            .join(vals.filter(col(c).isNotNull), Seq(c), "left_semi"))
        } else {
          if (isEmpty) None // NOT IN (empty) is TRUE for every row.
          else if (vals.filter(col(c).isNull).limit(1).count() > 0)
            return Seq(org.apache.spark.sql.Row(0, 0, 0L))
          else Some(df => df.filter(col(c).isNotNull)
            .join(vals, Seq(c), "left_anti"))
        }
      (targetFilter, step) match {
        case (Some(f), Some(g)) => targetFilter = Some(f.andThen(g))
        case (None, s) => targetFilter = s
        case _ => ()
      }
    }
    val res = graft.ingest.Merge.mergeClauses(session, warehouse, table,
      src, keyCols, matched.map(toClause), notMatched.map(toClause),
      notMatchedBySource.map(toClause), sourceKeyCols = srcKeyCols,
      onResidual = onResidualSql.map(expr),
      nmbsAntiOn = nmbsAntiOnSql.map(expr),
      dedupeMatched = dedupeMatched, evolveSchema = evolveSchema,
      targetFilter = targetFilter)
    Seq(org.apache.spark.sql.Row(
      res.filesRewritten, res.filesAdded, res.rowsMatched))
  }
}

/** The mirror-sync MERGE shapes (`WHEN NOT MATCHED BY SOURCE THEN
  * DELETE`), each lowered to ONE atomic commit — never a multi-commit
  * window where the table is neither old nor new:
  *
  *   - with `UPDATE SET *` + `INSERT *`: the table becomes exactly the
  *     source (the CDC mirror) — an OCC-guarded overwrite;
  *   - with `UPDATE SET *` only: the source restricted to keys already in
  *     the table — an OCC-guarded overwrite of that semi-join;
  *   - alone: a keyed delete of target keys the source no longer has.
  *
  * Duplicate source keys are rejected up front (the MERGE contract — an
  * overwrite would otherwise silently keep both copies). */
case class GraftMergeSyncCommand(warehouse: String, table: String,
                                 keyCols: Seq[String],
                                 sourcePlan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                                 matchedUpdate: Boolean,
                                 notMatchedInsert: Boolean)
  extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
  import org.apache.spark.sql.types.LongType

  override val output: Seq[Attribute] = Seq(
    AttributeReference("rows_after", LongType)())

  override def run(session: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions.{assert_true, col, count, lit, when}
    val src =
      org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(session, sourcePlan)
    // Duplicate-key contract (Delta errors on duplicate matches too),
    // enforced IN the overwrite job rather than as a separate
    // count-aggregate pass: a per-key window count rides the write, and
    // the first key column is wrapped in an assert that throws on any
    // key seen twice — one source scan total, failing before the commit
    // point (the write stages first; an assert aborts staging, nothing
    // publishes). Applied after the semi-join on the UPDATE*-only shape,
    // so only rows that will ACT are under the contract.
    def guarded(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col): _*)
      val k0 = keyCols.head
      df.withColumn("_graft_key_n", count(lit(1)).over(w))
        .withColumn(k0, when(
          assert_true(col("_graft_key_n") <= 1,
            lit(s"MERGE source has duplicate keys on " +
              s"(${keyCols.mkString(", ")})")).isNull,
          col(k0)))
        .drop("_graft_key_n")
    }
    val result =
      if (matchedUpdate && notMatchedInsert) guarded(src)
      else if (matchedUpdate) {
        val targetKeys = graft.ingest.Snapshots
          .read(session, warehouse, table)
          .select(keyCols.map(col): _*).distinct()
        guarded(src.join(targetKeys, keyCols, "left_semi"))
      } else null
    if (result != null) {
      val partCols = graft.ingest.Snapshots.partitionLayout(
        new org.apache.hadoop.fs.Path(warehouse).getFileSystem(
          session.sparkContext.hadoopConfiguration), warehouse, table)
      val w = result.write.format("graft-snapshots")
        .option("warehouse", warehouse).option("table", table)
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
      (if (partCols.isEmpty) w
       else w.option("partitionBy", partCols.mkString(","))).save()
    } else {
      // NMBS DELETE alone: drop target keys absent from the source.
      val gone = graft.ingest.Snapshots.read(session, warehouse, table)
        .select(keyCols.map(col): _*).distinct()
        .join(src.select(keyCols.map(col): _*).distinct(),
          keyCols, "left_anti")
      graft.ingest.Merge.deleteKeys(session, warehouse, table, gone, keyCols)
    }
    // rows_after from the log's stats tokens (DV counts subtracted) — a
    // MERGE must not end with a full count job at 100 TB; -1 when any
    // file lacks a rows token.
    val fsW = new org.apache.hadoop.fs.Path(warehouse).getFileSystem(
      session.sparkContext.hadoopConfiguration)
    val files = graft.ingest.Snapshots.fileMeta(fsW, warehouse, table)
      .getOrElse(Seq.empty)
    val rowsAfter = files.foldLeft(Option(0L)) { (acc, a) =>
      for (t <- acc; st <- graft.ingest.FileStats.decode(a.stats))
        yield t + math.max(0L, st.rows - a.dvCount)
    }.getOrElse(-1L)
    Seq(org.apache.spark.sql.Row(rowsAfter))
  }
}
