package graft.ivm

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedHaving, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, EqualTo, Exists, Expression, InSubquery, ListQuery, NamedExpression, Not}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, LeftOuter, RightOuter, UsingJoin}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions.expr

/** SQL front-end: `CREATE IMMV <name> AS <select>` → registered [[IvmQuery]].
  *
  * The reference recognizes this DDL in a parser extension but never wires
  * it up (ivm_parser.cpp:14-84 parses, then returns an empty result with
  * the real plumbing commented out). Here the intent is implemented: the
  * statement body is parsed by Spark's own SQL parser and the unresolved
  * logical plan is folded into the engine's restricted AST. Anything
  * outside the supported surface (the reference's GET/FILTER/PROJECT/
  * AGGREGATE plus our JOIN extension) raises with the same spirit as the
  * reference's NotImplementedException (ivm_rewrite_rule.hpp:282-283).
  *
  * Expressions cross from Catalyst back to the public Column API via their
  * SQL form (`Expression.sql` → `functions.expr`), so the engine keeps
  * zero dependencies on Catalyst internals at execution time.
  */
object SqlFrontend {

  private val CreateImmv = """(?is)\s*create\s+immv\s+(\w+)\s+as\s+(.*)""".r

  /** Parse + register a `CREATE IMMV name AS select` statement (parity with
    * the reference's trigger string match, ivm_parser.cpp:24-26). Returns
    * the view name and its AST. */
  def createImmv(spark: SparkSession, sql: String): (String, IvmQuery) =
    sql match {
      case CreateImmv(name, select) =>
        val q = parseSelect(spark, select)
        Ivm.createView(name, q)
        (name, q)
      case _ => throw new IllegalArgumentException(
        s"not a CREATE IMMV statement: $sql")
    }

  /** Parse a SELECT into the engine AST. */
  def parseSelect(spark: SparkSession, select: String): IvmQuery =
    foldTop(spark.sessionState.sqlParser.parsePlan(select))

  /** Top-of-view fold: positions where READ decorations may apply. A
    * SELECT list with uncorrelated scalar subqueries folds to
    * [[ScalarDeco]] here — child and 1-row scalars as independent O(‖Δ‖)
    * states, combined at read — instead of [[fold]]'s join composition,
    * which embeds the scalar IN state and pays an O(|view|) rewrite every
    * time it moves. Nested positions (the scalar feeding an outer
    * aggregate) still need the value in state and keep the join fold. */
  private def foldTop(plan: LogicalPlan): IvmQuery = plan match {
    case GlobalLimit(
        org.apache.spark.sql.catalyst.expressions.IntegerLiteral(n),
        LocalLimit(_, Sort(order, true, child, _))) =>
      graft.ivm.TopK(foldTop(child), order.map(sortPair), n)
    case w: UnresolvedWith if !w.allowRecursion =>
      val defs = w.cteRelations.foldLeft(Map.empty[String, IvmQuery]) {
        case (acc, (name, sub, _)) => acc + (name -> substitute(fold(sub), acc))
      }
      substitute(foldTop(w.child), defs)
    case Project(exprs, child)
        if exprs.exists(hasScalarSub) && !exprs.exists(isGlobalAggItem) &&
          !exprs.exists(hasWindowExpr) &&
          !exprs.exists(hasCorrelatedScalarSub) &&
          !exprs.exists(_.isInstanceOf[UnresolvedStar]) =>
      var subViews = Seq.empty[IvmQuery]
      val newItems = exprs.map { item =>
        val (ni, svs) = extractScalarSubs(item, offset = subViews.size)
        subViews ++= svs.map(_._1) // guard: all uncorrelated (1-row views)
        ni.asInstanceOf[NamedExpression]
      }
      // prune the maintained child to the attributes the select list reads
      // (the scalars live in their own states, not the child's)
      val referenced = newItems.flatMap(_.collect {
        case a: UnresolvedAttribute
            if !a.nameParts.last.startsWith("__ivm_sq") => a.nameParts.last
      }).distinct
      val folded = fold(child)
      val pruned =
        if (referenced.isEmpty) folded
        else graft.ivm.Project(folded,
          referenced.map(org.apache.spark.sql.functions.col))
      graft.ivm.ScalarDeco(pruned, subViews, newItems.map(selectItemCol))
    case other => fold(other)
  }

  private def fold(plan: LogicalPlan): IvmQuery = plan match {
    // ORDER BY + LIMIT → TopK read decoration: the child is maintained as
    // usual; ranking applies at read (TakeOrderedAndProject, never a full
    // sort). Include a unique tiebreaker for deterministic output.
    case GlobalLimit(
        org.apache.spark.sql.catalyst.expressions.IntegerLiteral(n),
        LocalLimit(_, Sort(order, true, child, _))) =>
      graft.ivm.TopK(fold(child), order.map(sortPair), n)
    // Window functions in the select list → WindowDeco read decoration:
    // the child is maintained as usual (O(‖Δ‖) refresh); the window
    // projection applies at read over the maintained state. A window value
    // is a function of the WHOLE relation (one insert can shift every
    // rank), so it is not Z-linear and row-wise maintenance is impossible
    // — read-time evaluation over maintained state is the right split.
    // Windows over aggregates of the SAME select (rank() OVER (ORDER BY
    // count(*))) need the subquery/CTE form, mirroring the fold's
    // aggregate-then-project structure.
    case Project(exprs, child) if exprs.exists(hasWindowExpr) =>
      graft.ivm.WindowDeco(fold(child), exprs.map(selectItemCol))
    case Project(exprs, child) if exprs.exists(_.isInstanceOf[UnresolvedStar]) =>
      fold(child) // SELECT * — passthrough (reference tests/ivm.test:29)
    // Global aggregate: the parser leaves SELECT SUM(x) FROM t (no GROUP
    // BY) as a Project — aggregation is normally inferred at analysis
    // time, which the fold replaces. Detect by aggregate-function name.
    case Project(exprs, child) if exprs.exists(isGlobalAggItem) =>
      foldAggregate(Nil, exprs, fold(child))
    // Scalar subqueries in the SELECT list (e.g. `SELECT x, x / (SELECT
    // sum(y) FROM u) AS share`): same cross-join fold as the WHERE form;
    // the projected expressions then read the subviews' output columns.
    case Project(exprs, child) if exprs.exists(hasScalarSub) =>
      var subViews = Seq.empty[(IvmQuery, Seq[String])]
      val newItems = exprs.map { item =>
        val (ni, svs) = extractScalarSubs(item, offset = subViews.size)
        subViews ++= svs
        ni.asInstanceOf[NamedExpression]
      }
      val joined = subViews.foldLeft(fold(child)) {
        case (acc, (v, Seq()))  => graft.ivm.Join(acc, v, Seq.empty)
        case (acc, (v, keys))   => graft.ivm.LeftJoin(acc, v, keys)
      }
      Filterable.project(newItems, joined)
    case Project(exprs, child) => Filterable.project(exprs, fold(child))
    // IN-subquery → maintained SEMI JOIN: the subquery becomes a DISTINCT
    // key-set view (group liveness = set membership) inner-joined against
    // the outer query — both halves are existing delta rules.
    case Filter(InSubquery(Seq(a: UnresolvedAttribute), lq: ListQuery), child) =>
      val (outerKey, keySet) = foldInList(a, lq)
      IvmQuery.semiJoin(fold(child), keySet, Seq(outerKey))
    // NOT IN → maintained ANTI JOIN: LEFT OUTER against the subquery's
    // distinct keys carrying a constant marker, keeping marker-IS-NULL rows
    // (all existing delta rules). The marker column is dropped by the
    // enclosing select list, which must therefore name its columns.
    // NULL-key caveat as for IN: supply null-free keys for SQL parity
    // (SQL's NOT IN over a NULL-containing set returns nothing).
    case Filter(Not(InSubquery(Seq(a: UnresolvedAttribute), lq: ListQuery)), child) =>
      val (outerKey, keySet) = foldInList(a, lq)
      antiComposition(fold(child), keySet, Seq(outerKey))
    // Multi-column (a, b) IN / NOT IN (SELECT x, y ...) — same semi/anti
    // compositions over the composite key (the subquery's columns rename
    // positionally to the outer attributes).
    case Filter(InSubquery(attrs, lq: ListQuery), child)
        if attrs.length > 1 && attrs.forall(_.isInstanceOf[UnresolvedAttribute]) =>
      val (keys, keySet) =
        foldInListMulti(attrs.map(_.asInstanceOf[UnresolvedAttribute]), lq)
      IvmQuery.semiJoin(fold(child), keySet, keys)
    case Filter(Not(InSubquery(attrs, lq: ListQuery)), child)
        if attrs.length > 1 && attrs.forall(_.isInstanceOf[UnresolvedAttribute]) =>
      val (keys, keySet) =
        foldInListMulti(attrs.map(_.asInstanceOf[UnresolvedAttribute]), lq)
      antiComposition(fold(child), keySet, keys)
    // Correlated EXISTS / NOT EXISTS → the same maintained semi/anti
    // compositions. The correlation must be same-name equi conditions
    // (x.k = y.k — alias the subquery side if names differ), matching the
    // engine's join-key surface; remaining conjuncts stay as the
    // subquery's own filter.
    case Filter(Exists(sub, _, _, _, _), child) =>
      foldExists(sub, child, negated = false)
    case Filter(Not(Exists(sub, _, _, _, _)), child) =>
      foldExists(sub, child, negated = true)
    // Uncorrelated scalar subquery in WHERE (e.g. `x > (SELECT avg(y)
    // FROM u)`): each subquery folds to a 1-row GLOBAL aggregate subview
    // cross-joined (empty-key Join) against the child; the predicate then
    // reads its output column, and a final Project drops it. When the
    // scalar changes, the A⋈ΔB delta term re-qualifies rows against both
    // the old (w=-1) and new (w=+1) value — rows whose qualification is
    // unchanged cancel in the multiset merge, so ΔV is exactly the rows
    // that entered or left the view. Maintenance cost on a scalar change
    // is one streamed pass over the child (no shuffle of it) — inherent
    // to the semantics, since every row's predicate could flip.
    case Filter(cond, child) if hasScalarSub(cond) =>
      val (newCond, subViews) = extractScalarSubs(cond)
      val folded = fold(child)
      val joined = subViews.foldLeft(folded) {
        case (acc, (v, Seq()))  => graft.ivm.Join(acc, v, Seq.empty)
        case (acc, (v, keys))   => graft.ivm.LeftJoin(acc, v, keys)
      }
      val filteredQ = graft.ivm.Filter(joined, expr(newCond.sql))
      outputNames(folded) match {
        case Some(cols) => // drop the helper scalar columns here
          graft.ivm.Project(filteredQ,
            cols.map(org.apache.spark.sql.functions.col))
        case None => // bare Scan child: the enclosing (named) select list
          // projects the helper columns away; SELECT * would keep them
          filteredQ
      }
    case Filter(cond, child)   => graft.ivm.Filter(fold(child), expr(cond.sql))
    // GROUP BY ROLLUP/CUBE → the MAINTAINED compositions (one aggregate
    // state per grouping level + stateless bag union); NULL subtotal keys
    // take their type from union coercion against the finest level.
    case Aggregate(Seq(r: org.apache.spark.sql.catalyst.expressions.Rollup),
        aggExprs, child, _) =>
      val (flags, rest) = groupingFlags(aggExprs)
      val graft.ivm.Aggregate(c2, keys, specs) =
        foldAggregate(flatGroupingKeys(r.groupingSets, "ROLLUP"),
          rest, fold(child)): @unchecked
      IvmQuery.rollup(c2, keys.map(_ -> null), specs, flags)
    case Aggregate(Seq(c: org.apache.spark.sql.catalyst.expressions.Cube),
        aggExprs, child, _) =>
      val (flags, rest) = groupingFlags(aggExprs)
      val graft.ivm.Aggregate(c2, keys, specs) =
        foldAggregate(flatGroupingKeys(c.groupingSets, "CUBE"),
          rest, fold(child)): @unchecked
      IvmQuery.cube(c2, keys.map(_ -> null), specs, flags)
    case Aggregate(Seq(gs: org.apache.spark.sql.catalyst.expressions.GroupingSets),
        aggExprs, child, _) =>
      def keyName(e: Expression): String = e match {
        case a: UnresolvedAttribute => a.nameParts.last
        case other => throw new UnsupportedOperationException(
          s"IVM GROUPING SETS supports plain column keys, got: ${other.sql}")
      }
      val (flags, rest) = groupingFlags(aggExprs)
      val allKeys = gs.groupingSets.flatten.map(keyName).distinct
      val graft.ivm.Aggregate(c2, keys, specs) =
        foldAggregate(allKeys.map(UnresolvedAttribute(_)),
          rest, fold(child)): @unchecked
      IvmQuery.groupingSets(c2, keys.map(_ -> null),
        gs.groupingSets.map(_.map(keyName)), specs, flags)
    case Aggregate(grouping, aggExprs, child, _) =>
      foldAggregate(grouping, aggExprs, fold(child))
    // HAVING: a Filter over the aggregate's OUTPUT — the delta rule is the
    // existing σ∘Δγ composition (retraction/assertion rows filter alike; a
    // group entering/leaving the HAVING set is exactly retract-only /
    // assert-only). Unsupported in BOTH engines of the reference pair
    // (reference README.md:34) — this is a capability extension. Aggregate
    // calls in the predicate (HAVING COUNT(*) > 2) are rewritten to the
    // select list's matching output alias.
    case UnresolvedHaving(cond, Aggregate(grouping, aggExprs, child, _)) =>
      val folded = foldAggregate(grouping, aggExprs, fold(child))
      val bySql: Map[String, String] = aggExprs.collect {
        case Alias(fn: UnresolvedFunction, name) => fn.sql -> name
      }.toMap
      val cond2 = cond.transform {
        case fn: UnresolvedFunction if bySql.contains(fn.sql) =>
          UnresolvedAttribute(bySql(fn.sql))
      }
      val aggFns = Set("sum", "count", "avg", "mean", "min", "max",
        "var_samp", "variance", "var_pop", "stddev_samp", "stddev", "std",
        "stddev_pop", "min_by", "max_by",
        "covar_pop", "covar_samp", "corr", "listagg", "string_agg",
        "bool_and", "every", "bool_or", "median", "percentile",
        "approx_count_distinct")
      cond2.collectFirst {
        case fn: UnresolvedFunction if aggFns(fn.nameParts.last.toLowerCase) => fn
      }.foreach { fn =>
        throw new UnsupportedOperationException(
          s"HAVING aggregate ${fn.sql} must also appear (aliased) in the " +
            "select list so the maintained view carries it")
      }
      graft.ivm.Filter(folded, expr(cond2.sql))
    case Join(l, r, UsingJoin(Inner, cols), None, _) =>
      graft.ivm.Join(fold(l), fold(r), cols)
    // INNER JOIN ON <equi keys AND residual>: the residual (range/theta)
    // conjuncts become a Filter over the equi join — Δ(σ(A⋈B)) = σ(Δ(A⋈B)),
    // so maintained range joins come free from composition. At least one
    // same-name equi conjunct is still required: it is the partition key
    // that keeps the join from degenerating to a cross product at scale
    // (the standard banded-join formulation: equi on a bucket/key column,
    // residual on the range bounds).
    case Join(l, r, Inner, Some(cond), _) =>
      val (keys, residual) = splitJoinCond(cond)
      if (keys.isEmpty) throw new UnsupportedOperationException(
        "IVM joins need at least one same-name equi condition " +
          s"(a.k = b.k); got only: ${cond.sql}")
      val j = graft.ivm.Join(fold(l), fold(r), keys)
      residual.fold(j: IvmQuery)(rc => graft.ivm.Filter(j, expr(rc.sql)))
    case Join(l, r, UsingJoin(LeftOuter, cols), None, _) =>
      graft.ivm.LeftJoin(fold(l), fold(r), cols)
    case Join(l, r, LeftOuter, Some(cond), _) =>
      graft.ivm.LeftJoin(fold(l), fold(r), equiKeys(cond))
    case Join(l, r, UsingJoin(RightOuter, cols), None, _) =>
      graft.ivm.RightJoin(fold(l), fold(r), cols)
    case Join(l, r, RightOuter, Some(cond), _) =>
      graft.ivm.RightJoin(fold(l), fold(r), equiKeys(cond))
    case Join(l, r, UsingJoin(FullOuter, cols), None, _) =>
      graft.ivm.FullJoin(fold(l), fold(r), cols)
    case Join(l, r, FullOuter, Some(cond), _) =>
      graft.ivm.FullJoin(fold(l), fold(r), equiKeys(cond))
    case Distinct(Project(exprs, child))
        if exprs.forall(_.isInstanceOf[UnresolvedAttribute]) =>
      IvmQuery.distinct(fold(child),
        exprs.map(_.asInstanceOf[UnresolvedAttribute].nameParts.last))
    // Plain UNION (set semantics) = DISTINCT over the bag union: the
    // parser leaves it as Distinct(Union(...)); the distinct is the
    // empty-aggs Aggregate (group liveness = membership) over ΔA ⊎ ΔB.
    case Distinct(org.apache.spark.sql.catalyst.plans.logical.Union(
        children, _, _)) if children.length >= 2 =>
      val folded = children.map(fold).reduce(graft.ivm.Union(_, _))
      IvmQuery.distinct(folded, requireNames(folded, "UNION"))
    // UNION ALL (bag union): Δ(A ⊎ B) = ΔA ⊎ ΔB, stateless. Spark parses
    // n-ary unions into one node — fold left-deep.
    case org.apache.spark.sql.catalyst.plans.logical.Union(children, _, _)
        if children.length >= 2 =>
      children.map(fold).reduce(graft.ivm.Union(_, _))
    // INTERSECT / EXCEPT (set semantics) compose from distinct + (semi/
    // anti) join; the left side must have statically-known output names.
    case Intersect(l, r, false) =>
      val lf = fold(l)
      IvmQuery.intersect(lf, fold(r), requireNames(lf, "INTERSECT"))
    case Except(l, r, false) =>
      val lf = fold(l)
      IvmQuery.except(lf, fold(r), requireNames(lf, "EXCEPT"))
    // INTERSECT ALL / EXCEPT ALL (bag semantics): per-side per-row
    // COUNT(*) states + min / clamped-difference scalar + read-time
    // expansion. Sides must expose the same column names.
    case Intersect(l, r, true) =>
      val lf = fold(l)
      IvmQuery.intersectAll(lf, fold(r), requireNames(lf, "INTERSECT ALL"))
    case Except(l, r, true) =>
      val lf = fold(l)
      IvmQuery.exceptAll(lf, fold(r), requireNames(lf, "EXCEPT ALL"))
    // WITH (common table expressions): fold each definition, then splice it
    // in wherever the body (or a later CTE) scans its name — the IVM algebra
    // is closed under composition, so a CTE is pure syntax. Definitions may
    // reference earlier ones (substituted left-to-right); recursion is out
    // of surface.
    case w: UnresolvedWith if !w.allowRecursion =>
      val defs = w.cteRelations.foldLeft(Map.empty[String, IvmQuery]) {
        case (acc, (name, sub, _)) => acc + (name -> substitute(fold(sub), acc))
      }
      substitute(fold(w.child), defs)
    case SubqueryAlias(_, child) => fold(child)
    case u: UnresolvedRelation   => Scan(u.multipartIdentifier.last)
    case other => throw new UnsupportedOperationException(
      s"IVM SQL surface does not support ${other.nodeName} " +
        "(supported: SELECT/WHERE/GROUP BY/inner JOIN over base tables)")
  }

  /** Fold an IN-list subquery: returns (outer key name, key-set view whose
    * single column is renamed to the outer key). */
  private def foldInList(
      a: UnresolvedAttribute, lq: ListQuery): (String, IvmQuery) = {
    val outerKey = a.nameParts.last
    val innerName = lq.plan match {
      case Project(Seq(ia: UnresolvedAttribute), _) => ia.nameParts.last
      case Project(Seq(Alias(_, n)), _)             => n
      case other => throw new UnsupportedOperationException(
        s"IN subquery must select a single column, got: ${other.nodeName}")
    }
    val inner = fold(lq.plan)
    val renamed = if (innerName == outerKey) inner
      else graft.ivm.Project(inner, Seq(expr(innerName).as(outerKey)))
    (outerKey, renamed)
  }

  /** Fold a multi-column IN-list subquery: the subquery must select as
    * many columns as the outer tuple; each renames positionally to its
    * outer attribute. Returns (outer key names, renamed key-set view). */
  private def foldInListMulti(
      attrs: Seq[UnresolvedAttribute], lq: ListQuery): (Seq[String], IvmQuery) = {
    val outerKeys = attrs.map(_.nameParts.last)
    val innerNames = lq.plan match {
      case Project(items, _) if items.length == attrs.length => items.map {
        case ia: UnresolvedAttribute => ia.nameParts.last
        case Alias(_, n)             => n
        case other => throw new UnsupportedOperationException(
          s"IN subquery select item must be a column or alias: ${other.sql}")
      }
      case other => throw new UnsupportedOperationException(
        s"IN subquery must select ${attrs.length} columns, got: ${other.nodeName}")
    }
    val inner = fold(lq.plan)
    val renamed = if (innerNames == outerKeys) inner
      else graft.ivm.Project(inner,
        innerNames.zip(outerKeys).map { case (in, out) => expr(in).as(out) })
    (outerKeys, renamed)
  }

  /** ANTI composition shared by NOT IN and NOT EXISTS: LEFT OUTER against
    * the marked distinct key set, keeping marker-IS-NULL rows. The marker
    * column is dropped by the enclosing select list (which must therefore
    * name its columns). NULL keys never match — SQL NOT EXISTS semantics
    * (for NOT IN's empty-result-on-NULL rule, supply null-free keys). */
  private def antiComposition(
      left: IvmQuery, keySet: IvmQuery, keys: Seq[String]): IvmQuery = {
    import org.apache.spark.sql.functions.lit
    val marked = IvmQuery.distinct(
      graft.ivm.Project(keySet, keys.map(expr) :+ lit(1).as(IvmQuery.PRESENT)),
      keys :+ IvmQuery.PRESENT)
    graft.ivm.Filter(
      graft.ivm.LeftJoin(left, marked, keys),
      expr(IvmQuery.PRESENT).isNull)
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other     => Seq(other)
  }

  /** Correlated EXISTS/NOT EXISTS: partition the subquery's predicate into
    * same-name equi correlations (the join keys) and inner-only conjuncts
    * (the subquery's filter, with qualifiers stripped so they resolve over
    * the folded inner view). */
  private def foldExists(
      sub: LogicalPlan, child: LogicalPlan, negated: Boolean): IvmQuery = {
    val (cond, inner) = sub match {
      case Project(_, Filter(c, i)) => (c, i)
      case Filter(c, i)             => (c, i)
      case other => throw new UnsupportedOperationException(
        s"EXISTS subquery must be SELECT ... WHERE <correlation [AND filter]>, got: ${other.nodeName}")
    }
    val (corr, rest) = splitAnd(cond).partition {
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
        a.nameParts.last == b.nameParts.last && a.nameParts != b.nameParts
      case _ => false
    }
    if (corr.isEmpty) throw new UnsupportedOperationException(
      "EXISTS requires a same-name equi correlation (x.k = y.k; alias the " +
        "subquery side if column names differ)")
    val keys = corr.map {
      case EqualTo(a: UnresolvedAttribute, _) => a.nameParts.last
    }
    def stripQualifiers(e: Expression): Expression = e.transform {
      case a: UnresolvedAttribute => UnresolvedAttribute(Seq(a.nameParts.last))
    }
    val innerFolded = fold(inner)
    val innerFiltered =
      if (rest.isEmpty) innerFolded
      else graft.ivm.Filter(innerFolded,
        rest.map(c => expr(stripQualifiers(c).sql)).reduce(_ && _))
    val keySet = graft.ivm.Project(innerFiltered, keys.map(k => expr(k)))
    if (negated) antiComposition(fold(child), keySet, keys)
    else IvmQuery.semiJoin(fold(child), keySet, keys)
  }

  /** Replace scans of CTE names with their folded definitions. */
  private def substitute(q: IvmQuery, defs: Map[String, IvmQuery]): IvmQuery =
    if (defs.isEmpty) q
    else q match {
      case Scan(t) if defs.contains(t) => defs(t)
      case s: Scan                     => s
      case graft.ivm.Filter(c, p)      => graft.ivm.Filter(substitute(c, defs), p)
      case graft.ivm.Project(c, cols)  => graft.ivm.Project(substitute(c, defs), cols)
      case graft.ivm.Aggregate(c, k, a) =>
        graft.ivm.Aggregate(substitute(c, defs), k, a)
      case graft.ivm.Join(l, r, k) =>
        graft.ivm.Join(substitute(l, defs), substitute(r, defs), k)
      case graft.ivm.LeftJoin(l, r, k) =>
        graft.ivm.LeftJoin(substitute(l, defs), substitute(r, defs), k)
      case graft.ivm.RightJoin(l, r, k) =>
        graft.ivm.RightJoin(substitute(l, defs), substitute(r, defs), k)
      case graft.ivm.FullJoin(l, r, k) =>
        graft.ivm.FullJoin(substitute(l, defs), substitute(r, defs), k)
      case graft.ivm.Union(l, r) =>
        graft.ivm.Union(substitute(l, defs), substitute(r, defs))
      case graft.ivm.TopK(c, sort, n) =>
        graft.ivm.TopK(substitute(c, defs), sort, n)
      case graft.ivm.WindowDeco(c, cols) =>
        graft.ivm.WindowDeco(substitute(c, defs), cols)
      case graft.ivm.ExpandCount(c, n) =>
        graft.ivm.ExpandCount(substitute(c, defs), n)
      case graft.ivm.ScalarDeco(c, subs, cols) =>
        graft.ivm.ScalarDeco(substitute(c, defs),
          subs.map(substitute(_, defs)), cols)
    }

  /** True when the expression tree contains an OVER clause (inline spec or
    * a named-window reference). */
  private def hasWindowExpr(e: Expression): Boolean = e.exists {
    case _: org.apache.spark.sql.catalyst.expressions.WindowExpression => true
    case _: org.apache.spark.sql.catalyst.expressions.UnresolvedWindowExpression => true
    case _ => false
  }

  /** A select item as a public Column, preserving its alias. Window items
    * cannot round-trip through `Expression.sql` (an unspecified frame
    * prints as the non-parseable `unspecifiedframe$()`), so the unresolved
    * Catalyst expression is wrapped directly — Spark's analyzer resolves
    * it in the read-time select exactly as it would in a SQL text. */
  private def selectItemCol(e: NamedExpression): org.apache.spark.sql.Column =
    e match {
      case a: UnresolvedAttribute =>
        org.apache.spark.sql.functions.col(a.nameParts.mkString("."))
      case Alias(ch, n) if hasWindowExpr(ch) =>
        org.apache.spark.sql.GraftColumnOps.columnOf(ch).as(n)
      case Alias(ch, n) => expr(ch.sql).as(n)
      case _: UnresolvedStar => org.apache.spark.sql.functions.col("*")
      case other if hasWindowExpr(other) =>
        org.apache.spark.sql.GraftColumnOps.columnOf(other)
      case other => expr(other.sql)
    }

  /** Output column names of a folded query, when statically known. */
  private def outputNames(q: IvmQuery): Option[Seq[String]] = q match {
    case graft.ivm.Project(_, cols)        => Some(cols.map(ZDelta.colName))
    case graft.ivm.Aggregate(_, keys, aggs) => Some(keys ++ aggs.map(_.name))
    case graft.ivm.Filter(c, _)            => outputNames(c)
    case graft.ivm.Union(l, _)             => outputNames(l)
    case graft.ivm.WindowDeco(_, cols)     => Some(cols.map(ZDelta.colName))
    case graft.ivm.ExpandCount(c, n)       => outputNames(c).map(_.filterNot(_ == n))
    case graft.ivm.ScalarDeco(_, _, cols)  => Some(cols.map(ZDelta.colName))
    case _                                 => None
  }

  private def requireNames(q: IvmQuery, op: String): Seq[String] =
    outputNames(q).getOrElse(throw new UnsupportedOperationException(
      s"$op requires a left side with explicit output columns " +
        "(SELECT named columns, not *)"))

  private object Filterable {
    def project(exprs: Seq[NamedExpression], child: IvmQuery): IvmQuery =
      graft.ivm.Project(child, exprs.map(e => expr(e.sql)))
  }

  /** Same-name equi-join keys from `a.k = b.k [AND ...]` conditions. */
  private def hasScalarSub(e: Expression): Boolean =
    e.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.ScalarSubquery])

  /** Aggregate-function names recognized inside a scalar subquery's select
    * item (the maintained-aggregate surface of [[toAggSpec]]). */
  private val scalarAggNames = Set("sum", "count", "avg", "mean", "min",
    "max", "var_samp", "variance", "var_pop", "stddev_samp", "stddev",
    "std", "stddev_pop", "min_by", "max_by", "covar_pop", "covar_samp",
    "corr", "median", "percentile", "mode", "listagg", "string_agg",
    "bool_and", "every", "bool_or", "approx_count_distinct",
    "approx_percentile", "percentile_approx", "approx_top_k")

  /** Same-name equi correlation conjunct (foldExists's convention): the
    * two sides carry the same terminal name under different qualifiers. */
  private def isCorrConjunct(e: Expression): Boolean = e match {
    case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
      a.nameParts.last == b.nameParts.last && a.nameParts != b.nameParts
    case _ => false
  }

  /** Does `e` contain a CORRELATED scalar subquery? (Routes the select
    * list away from the 1-row ScalarDeco read decoration, which only
    * serves uncorrelated global aggregates.) */
  private def hasCorrelatedScalarSub(e: Expression): Boolean = e.exists {
    case sq: org.apache.spark.sql.catalyst.expressions.ScalarSubquery =>
      sq.plan match {
        case Project(_, Filter(c, _)) => splitAnd(c).exists(isCorrConjunct)
        case _                        => false
      }
    case _ => false
  }

  /** Fold ONE scalar subquery plan. Returns (replacement expression over
    * the subview's hidden output columns, subview, join keys).
    *
    * Uncorrelated → a 1-row global-aggregate view, keys empty (cross
    * join). Correlated (same-name equi conjuncts in the subquery's WHERE,
    * [[foldExists]]'s convention — alias the inner side if names differ) →
    * the standard DECORRELATION: a per-key aggregate view LEFT-joined on
    * the correlation keys; an outer row with no inner group reads NULL,
    * exactly SQL's empty-scalar-subquery semantics. The select item may be
    * any expression over recognized aggregate calls (`0.2 * avg(x)`) —
    * each call becomes a hidden maintained aggregate and the surrounding
    * arithmetic stays in the replacement expression. */
  private def foldScalarSub(
      plan: LogicalPlan, tag: String): (Expression, IvmQuery, Seq[String]) = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAlias
    val (item, from) = plan match {
      case Project(Seq(i), c) => (i, c)
      case other => throw new UnsupportedOperationException(
        s"a scalar subquery must select exactly one item, got: ${other.nodeName}")
    }
    def stripQualifiers(e: Expression): Expression = e.transform {
      case a: UnresolvedAttribute => UnresolvedAttribute(Seq(a.nameParts.last))
    }
    val itemExpr: Expression = stripQualifiers(item match {
      case UnresolvedAlias(ue, _) => ue
      case Alias(ue, _)           => ue
      case other                  => other
    })
    val (keys, foldedFrom) = from match {
      case Filter(c, i) =>
        val (corr, rest) = splitAnd(c).partition(isCorrConjunct)
        if (corr.isEmpty) (Seq.empty[String], fold(from))
        else {
          val ks = corr.map {
            case EqualTo(a: UnresolvedAttribute, _) => a.nameParts.last }
          val fi = fold(i)
          (ks, if (rest.isEmpty) fi
               else graft.ivm.Filter(fi,
                 rest.map(r => expr(stripQualifiers(r).sql)).reduce(_ && _)))
        }
      case other => (Seq.empty[String], fold(other))
    }
    var n = 0
    val hidden = scala.collection.mutable.Buffer.empty[(String, UnresolvedFunction)]
    val replacement = itemExpr.transformUp {
      case fn: UnresolvedFunction
          if scalarAggNames(fn.nameParts.last.toLowerCase) =>
        val h = s"${tag}_$n"; n += 1
        hidden += (h -> fn)
        UnresolvedAttribute(Seq(h))
    }
    if (hidden.isEmpty) throw new UnsupportedOperationException(
      "a scalar subquery must compute at least one aggregate " +
        s"(SELECT agg(...) FROM ...), got: ${item.sql}")
    val aggItems: Seq[NamedExpression] =
      keys.map(k => UnresolvedAttribute(Seq(k)): NamedExpression) ++
        hidden.map { case (h, fn) => Alias(fn, h)() }
    val view = foldAggregate(
      keys.map(k => UnresolvedAttribute(Seq(k)): Expression), aggItems, foldedFrom)
    (replacement, view, keys)
  }

  /** Replace each scalar subquery in `e` with an expression over hidden
    * `__ivm_sq<i>_<j>` columns and return the rewritten expression plus
    * the subviews with their join keys (empty keys = cross join, nonempty
    * = correlated LEFT join). `offset` numbers the hidden columns when a
    * caller extracts from several expressions into one join chain. */
  private def extractScalarSubs(
      e: Expression, offset: Int = 0): (Expression, Seq[(IvmQuery, Seq[String])]) = {
    import org.apache.spark.sql.catalyst.expressions.ScalarSubquery
    val subViews = scala.collection.mutable.Buffer.empty[(IvmQuery, Seq[String])]
    val rewritten = e.transformUp {
      case sq: ScalarSubquery =>
        val (repl, view, keys) =
          foldScalarSub(sq.plan, s"__ivm_sq${offset + subViews.size}")
        subViews += ((view, keys))
        repl
    }
    (rewritten, subViews.toSeq)
  }

  /** Split an inner-join ON condition into same-name equi keys and the
    * residual (theta) conjuncts, AND-folded back together. */
  private def splitJoinCond(cond: Expression): (Seq[String], Option[Expression]) = {
    val conjuncts = splitAnd(cond)
    val (equi, residual) = conjuncts.partition {
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
        a.nameParts.last == b.nameParts.last
      case _ => false
    }
    val keys = equi.collect {
      case EqualTo(a: UnresolvedAttribute, _) => a.nameParts.last
    }
    // the join output carries unqualified names — strip table qualifiers
    // (side columns referenced by the residual must be distinctly named)
    val stripped = residual.reduceOption(And).map(_.transformUp {
      case a: UnresolvedAttribute => UnresolvedAttribute(Seq(a.nameParts.last))
    })
    (keys, stripped)
  }

  private def equiKeys(cond: Expression): Seq[String] = cond match {
    case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
        if a.nameParts.last == b.nameParts.last =>
      Seq(a.nameParts.last)
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      equiKeys(l) ++ equiKeys(r)
    case other => throw new UnsupportedOperationException(
      s"IVM joins require same-name equi conditions, got: ${other.sql}")
  }

  private def isAggCall(e: Expression): Boolean = e match {
    case _: UnresolvedFunction => true
    case _                     => false
  }

  /** Split `GROUPING(key) AS name` indicators out of a grouping-set select
    * list: they become plan-time per-level literals in the composition. */
  private def groupingFlags(
      aggExprs: Seq[NamedExpression]): (Seq[(String, String)], Seq[NamedExpression]) = {
    val (flagItems, rest) = aggExprs.partition {
      case Alias(UnresolvedFunction(fn, Seq(_: UnresolvedAttribute),
          false, None, _, _, _), _) => fn.last.toLowerCase == "grouping"
      case _ => false
    }
    val flags = flagItems.collect {
      case Alias(UnresolvedFunction(_, Seq(a: UnresolvedAttribute),
          _, _, _, _, _), name) => name -> a.nameParts.last
    }
    (flags, rest)
  }

  /** Sort key of a TopK decoration: plain column + direction. */
  private def sortPair(
      so: org.apache.spark.sql.catalyst.expressions.SortOrder): (String, Boolean) =
    so.child match {
      case a: UnresolvedAttribute =>
        a.nameParts.last ->
          (so.direction == org.apache.spark.sql.catalyst.expressions.Ascending)
      case other => throw new UnsupportedOperationException(
        s"IVM ORDER BY supports plain columns, got: ${other.sql}")
    }

  /** One plain key per ROLLUP/CUBE argument (groupByExprs needs resolved
    * children, which an unresolved fold never has — read the raw sets). */
  private def flatGroupingKeys(
      sets: Seq[Seq[Expression]], what: String): Seq[Expression] =
    sets.map {
      case Seq(e) => e
      case other => throw new UnsupportedOperationException(
        s"IVM $what supports single-column arguments, got: " +
          other.map(_.sql).mkString("(", ", ", ")"))
    }

  private val AggFnNames = Set("sum", "count", "avg", "mean", "min", "max",
    "var_samp", "variance", "var_pop", "stddev_samp", "stddev", "std",
    "stddev_pop", "min_by", "max_by",
    "covar_pop", "covar_samp", "corr", "listagg", "string_agg",
    "bool_and", "every", "bool_or", "median", "percentile",
    "approx_count_distinct")

  /** True for a select item that is an aggregate call by NAME (the naive
    * [[isAggCall]] matches any function — too broad to distinguish a
    * global aggregate from a scalar projection). */
  private def isGlobalAggItem(e: NamedExpression): Boolean = e match {
    case Alias(UnresolvedFunction(fn, _, _, _, _, _, _), _) =>
      AggFnNames(fn.last.toLowerCase)
    case _ => false
  }

  /** Fold GROUP BY + select list. Grouping items may be plain columns,
    * arbitrary scalar EXPRESSIONS, or references to a select-list alias
    * (`GROUP BY year(d)` with `SELECT year(d) AS y`, or `GROUP BY y`);
    * computed keys materialize in a Project inserted BELOW the Aggregate
    * (σ/π/γ all compose in the delta algebra, so the rewrite is free) and
    * must appear aliased in the select list — the maintained view's output
    * carries every group key. */
  private def foldAggregate(
      grouping: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      child: IvmQuery): IvmQuery = {
    // select-list aliases of NON-aggregate expressions: candidate computed
    // keys, addressable by name (GROUP BY y) or by form (GROUP BY year(d))
    val scalarAliases: Seq[(String, Expression)] = aggExprs.collect {
      case Alias(e, name) if !isAggCall(e) => name -> e
    }
    val byName = scalarAliases.toMap
    val bySql = scalarAliases.map { case (n, e) => e.sql -> n }.toMap
    // (key name, computed expression when the key is not a plain column)
    val keySpecs: Seq[(String, Option[Expression])] = grouping.map {
      case a: UnresolvedAttribute if byName.contains(a.nameParts.last) =>
        a.nameParts.last -> Some(byName(a.nameParts.last))
      // GROUP BY <expr> where the select list carries it ALIASED (incl. the
      // plain-rename `SELECT a AS b ... GROUP BY a`): the view's key is the
      // alias — check before the bare-attribute fallback, which would
      // otherwise claim the pre-rename name and orphan the select item
      case g if bySql.contains(g.sql) => bySql(g.sql) -> Some(byName(bySql(g.sql)))
      case a: UnresolvedAttribute => a.nameParts.last -> None
      case other => throw new UnsupportedOperationException(
        s"IVM GROUP BY expression ${other.sql} must appear aliased in the " +
          "select list so the maintained view carries it")
    }
    val keys = keySpecs.map(_._1)
    val aggs = aggExprs.flatMap {
      case a: UnresolvedAttribute if keys.contains(a.nameParts.last) => None
      case Alias(e, name) if keys.contains(name) && !isAggCall(e) => None
      case Alias(UnresolvedFunction(fn, args, false, filt, _, _, _), name) =>
        Some(toAggSpec(fn.last.toLowerCase, args, filt, name))
      case Alias(UnresolvedFunction(fn, Seq(e), true, filt, _, _, _), name)
          if fn.last.toLowerCase == "count" => // COUNT(DISTINCT e)
        Some(AggSpec.CountDistinct(filtered(e, filt), name))
      case Alias(UnresolvedFunction(fn, Seq(e), true, filt, _, _, _), name)
          if fn.last.toLowerCase == "sum" => // SUM(DISTINCT e)
        Some(AggSpec.SumDistinct(filtered(e, filt), name))
      case other => throw new UnsupportedOperationException(
        s"unsupported select item in aggregate: ${other.sql}")
    }
    val computed = keySpecs.collect { case (n, Some(e)) => n -> e }
    val foldedChild =
      if (computed.isEmpty) child
      else {
        // Pass through every base column the aggregate or the computed
        // keys reference (unresolved plans have no schema to star-expand),
        // plus the computed keys themselves.
        val referenced = (aggExprs ++ grouping).flatMap(_.collect {
          case a: UnresolvedAttribute => a.nameParts.last
        }).distinct.filterNot(computed.map(_._1).contains)
        graft.ivm.Project(child,
          referenced.map(org.apache.spark.sql.functions.col) ++
            computed.map { case (n, e) => expr(e.sql).as(n) })
      }
    graft.ivm.Aggregate(foldedChild, keys, aggs)
  }

  /** Aggregate argument with its `FILTER (WHERE p)` clause applied: rows
    * failing the predicate contribute a NULL argument, which every
    * aggregate's null guard already ignores — the standard CASE-WHEN
    * equivalence, so the maintained delta rules need no new machinery. */
  private def filtered(
      e: Expression, filt: Option[Expression]): org.apache.spark.sql.Column =
    filt match {
      case None    => expr(e.sql)
      case Some(f) => org.apache.spark.sql.functions.when(expr(f.sql), expr(e.sql))
    }

  private def toAggSpec(fn: String, args: Seq[Expression],
      filt: Option[Expression], name: String): AggSpec =
    (fn, args) match {
      // COUNT(*) FILTER (WHERE p) counts qualifying rows = COUNT(p-guarded 1)
      case ("count", Seq(_: UnresolvedStar)) => filt match {
        case None    => AggSpec.CountStar(name)
        case Some(f) => AggSpec.Count(
          org.apache.spark.sql.functions.when(expr(f.sql),
            org.apache.spark.sql.functions.lit(1)), name)
      }
      case ("sum", Seq(e))              => AggSpec.Sum(filtered(e, filt), name)
      case ("count", Seq(e))            => AggSpec.Count(filtered(e, filt), name)
      case ("avg" | "mean", Seq(e))     => AggSpec.Avg(filtered(e, filt), name)
      case ("min", Seq(e))              => AggSpec.Min(filtered(e, filt), name)
      case ("max", Seq(e))              => AggSpec.Max(filtered(e, filt), name)
      case ("var_samp" | "variance", Seq(e)) => AggSpec.VarSamp(filtered(e, filt), name)
      case ("var_pop", Seq(e))          => AggSpec.VarPop(filtered(e, filt), name)
      case ("stddev_samp" | "stddev" | "std", Seq(e)) =>
        AggSpec.StddevSamp(filtered(e, filt), name)
      case ("stddev_pop", Seq(e))       => AggSpec.StddevPop(filtered(e, filt), name)
      // SQL argument order is min_by(arg, value); a filtered-out row gets a
      // NULL value, and a NULL value never enters the (value, arg) pair state
      case ("min_by", Seq(a, v)) => AggSpec.MinBy(filtered(v, filt), expr(a.sql), name)
      case ("max_by", Seq(a, v)) => AggSpec.MaxBy(filtered(v, filt), expr(a.sql), name)
      // Cross-moment family: FILTER nulls one input, and xyGuarded already
      // drops any pair with a null side — the standard CASE-WHEN equivalence.
      case ("covar_pop", Seq(x, y)) =>
        AggSpec.CovarPop(filtered(x, filt), expr(y.sql), name)
      case ("covar_samp", Seq(x, y)) =>
        AggSpec.CovarSamp(filtered(x, filt), expr(y.sql), name)
      case ("corr", Seq(x, y)) =>
        AggSpec.Corr(filtered(x, filt), expr(y.sql), name)
      // exact interpolated percentile: MEDIAN(e) = fraction 0.5; the
      // fraction of PERCENTILE(e, p) must be a literal — it is part of
      // the maintained state's formula
      case ("median", Seq(e)) =>
        AggSpec.Percentile(filtered(e, filt), 0.5, name)
      case ("percentile", Seq(e, pE)) =>
        val p = pE match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
              if v != null => String.valueOf(v).toDouble
          case other => throw new UnsupportedOperationException(
            s"PERCENTILE fraction must be a numeric literal, got: ${other.sql}")
        }
        AggSpec.Percentile(filtered(e, filt), p, name)
      // boolean reductions (DuckDB bool_and/bool_or; SQL:2023 EVERY/ANY)
      case ("bool_and" | "every", Seq(e)) =>
        AggSpec.BoolAnd(filtered(e, filt), name)
      case ("bool_or" | "any" | "some", Seq(e)) =>
        AggSpec.BoolOr(filtered(e, filt), name)
      // deterministic listagg (ascending value order); separator must be
      // a string literal — it is part of the maintained state's formula
      case ("listagg" | "string_agg", Seq(e)) =>
        AggSpec.ListAgg(filtered(e, filt), ",", name)
      case ("listagg" | "string_agg", Seq(e, sepE)) =>
        val sep = sepE match {
          case org.apache.spark.sql.catalyst.expressions.Literal(
                u, org.apache.spark.sql.types.StringType) => String.valueOf(u)
          case other => throw new UnsupportedOperationException(
            s"LISTAGG separator must be a string literal, got: ${other.sql}")
        }
        AggSpec.ListAgg(filtered(e, filt), sep, name)
      // maintained HLL sketch (insert-only; see AggSpec scaladoc). Spark's
      // relativeSD calling convention is intentionally not exposed — the
      // maintained state is parameterized by lgK (register count)
      case ("approx_count_distinct", Seq(e)) =>
        AggSpec.ApproxCountDistinct(filtered(e, filt), 12, name)
      // maintained KLL quantile sketch (insert-only; see AggSpec scaladoc).
      // Spark's accuracy calling convention is not exposed — the maintained
      // state is parameterized by the sketch's k (retained items)
      case ("approx_percentile" | "percentile_approx", Seq(e, pE)) =>
        val p = pE match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, t)
              if t.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
            v.toString.toDouble
          case other => throw new UnsupportedOperationException(
            s"APPROX_PERCENTILE fraction must be a numeric literal, got: ${other.sql}")
        }
        AggSpec.ApproxPercentile(filtered(e, filt), p, 200, name)
      // maintained frequent-items sketch (insert-only; see AggSpec
      // scaladoc): the top-k heavy-hitter CANDIDATE list, ordered
      // (estimate DESC, item ASC); any input type stringifies
      case ("approx_top_k", Seq(e, kE)) =>
        val k = kE match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, t)
              if Seq(org.apache.spark.sql.types.ByteType,
                org.apache.spark.sql.types.ShortType,
                org.apache.spark.sql.types.IntegerType,
                org.apache.spark.sql.types.LongType).contains(t) =>
            v.toString.toInt
          case other => throw new UnsupportedOperationException(
            s"APPROX_TOP_K k must be an integer literal, got: ${other.sql}")
        }
        AggSpec.ApproxTopK(filtered(e, filt), k, 256, name)
      case _ => throw new UnsupportedOperationException(
        s"unsupported aggregate function $fn (reference surface: SUM, COUNT" +
          " — README.md:35; extensions: COUNT(*), AVG, MIN, MAX, VAR/STDDEV)")
    }
}
