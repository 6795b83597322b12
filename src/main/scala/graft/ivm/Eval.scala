package graft.ivm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Batch evaluation of an [[IvmQuery]] against base tables — "the view
  * itself". Pure DataFrame combinators: Catalyst performs predicate
  * pushdown, column pruning, and join strategy selection on the declarative
  * plan, so nothing here hand-schedules execution (SURVEY.md §4).
  *
  * `resolve` maps a table name to its DataFrame (parquet path, catalog
  * table, in-memory fixture — the engine does not care).
  */
object Eval {

  /** Evaluate a view tree from base tables. `hook` short-circuits any
    * subtree with an already-materialized frame (create uses it to serve
    * interior aggregates from their just-written states instead of
    * recomputing them from base — once per shared/spliced subtree, not
    * once per referencing parent). */
  def eval(q: IvmQuery, resolve: String => DataFrame,
      hook: IvmQuery => Option[DataFrame] = _ => None): DataFrame =
    hook(q).getOrElse(q match {
    case Scan(t)            => resolve(t)
    case Filter(c, pred)    => eval(c, resolve, hook).filter(pred)
    case Project(c, cols)   => eval(c, resolve, hook).select(cols: _*)
    case Join(l, r, keys)   =>
      val (le, re) = (eval(l, resolve, hook), eval(r, resolve, hook))
      if (keys.isEmpty) le.crossJoin(re) else le.join(re, keys)
    case Union(l, r) => eval(l, resolve, hook).unionByName(eval(r, resolve, hook))
    case TopK(c, sort, n) =>
      eval(c, resolve, hook).orderBy(sortCols(sort): _*).limit(n)
    case WindowDeco(c, cols) => eval(c, resolve, hook).select(cols: _*)
    case ExpandCount(c, n) =>
      val ex = Ivm.expandMultiset(eval(c, resolve, hook), n)
      ex.select(ex.columns.filterNot(_ == n).map(col): _*)
    case ScalarDeco(c, subs, cols) =>
      subs.foldLeft(eval(c, resolve, hook))(
        (acc, s) => acc.crossJoin(eval(s, resolve, hook)))
        .select(cols: _*)
    case LeftJoin(l, r, keys) =>
      eval(l, resolve, hook).join(eval(r, resolve, hook), keys, "left_outer")
    case RightJoin(l, r, keys) =>
      eval(l, resolve, hook).join(eval(r, resolve, hook), keys, "right_outer")
    case FullJoin(l, r, keys) =>
      eval(l, resolve, hook).join(eval(r, resolve, hook), keys, "full_outer")
    case Aggregate(c, keys, aggs) =>
      val child = eval(c, resolve, hook)
      if (aggs.isEmpty) child.select(keys.map(col): _*).distinct() // DISTINCT view
      else {
        val exprs = aggs.map(evalAgg)
        if (keys.isEmpty) child.agg(exprs.head, exprs.tail: _*)
        else child.groupBy(keys.map(col): _*).agg(exprs.head, exprs.tail: _*)
      }
  })

  /** ORDER BY columns of a [[TopK]] decoration. */
  private[ivm] def sortCols(sort: Seq[(String, Boolean)]): Seq[Column] =
    sort.map { case (n, asc) => if (asc) col(n).asc else col(n).desc }

  private def evalAgg(a: AggSpec): Column = a match {
    case AggSpec.Sum(e, n)    => sum(e).as(n)
    case AggSpec.Count(e, n)  => count(e).as(n)
    case AggSpec.CountStar(n) => count(lit(1)).as(n)
    case AggSpec.Avg(e, n)    => avg(e).as(n)
    case AggSpec.Min(e, n)    => min(e).as(n)
    case AggSpec.Max(e, n)    => max(e).as(n)
    case AggSpec.CountDistinct(e, n) => count_distinct(e).as(n)
    case AggSpec.SumDistinct(e, n)   => sum_distinct(e).as(n)
    // Deterministic listagg: ascending value order (plain listagg leaves
    // order undefined — unmaintainable); all-NULL group yields NULL.
    case AggSpec.ListAgg(e, sep, n) =>
      when(count(e) > 0, array_join(
        transform(array_sort(collect_list(e)), _.cast("string")), sep)).as(n)
    // Exact interpolated percentile (MEDIAN = 0.5) — Spark's builtin.
    case AggSpec.Percentile(e, p, n) =>
      call_function("percentile", e, lit(p)).as(n)
    // Deterministic min_by/max_by: arg of the lexicographic extremum pair
    // (the builtin min_by leaves ties undefined — unmaintainable).
    case a @ AggSpec.MinBy(_, _, n) =>
      min(AggSpec.expr(a).get).getField(AggSpec.PairA).as(n)
    case a @ AggSpec.MaxBy(_, _, n) =>
      max(AggSpec.expr(a).get).getField(AggSpec.PairA).as(n)
    // Approx distinct via the SAME sketch the maintained state stores —
    // union of per-batch sketches is register-wise max, so the estimate
    // is bit-identical between refresh and recompute.
    case AggSpec.ApproxCountDistinct(e, lgK, n) =>
      when(count(e) > 0, hll_sketch_estimate(hll_sketch_agg(e, lgK))).as(n)
    // Approx percentile via the SAME KLL sketch the maintained state
    // stores (built-in approx_percentile is a different, non-mergeable
    // summary); agreement with refresh is within the sketch's rank-error
    // bound, not bit-exact — see AggSpec scaladoc.
    case AggSpec.ApproxPercentile(e, p, k, n) =>
      val d = e.cast("double")
      when(count(d) > 0,
        graft.functions.Kll.quantile(graft.functions.Kll.agg(d, k), p)).as(n)
    // Heavy hitters via the SAME frequent-items sketch the maintained
    // state stores; see AggSpec scaladoc for the containment (not list
    // hash) comparison contract.
    case AggSpec.ApproxTopK(e, k, m, n) =>
      val t = e.cast("string")
      when(count(t) > 0,
        graft.functions.Freq.topK(graft.functions.Freq.agg(t, m), k)).as(n)
    // BOOL_AND/OR via the same two-count formula the maintained state
    // derives its output from (true count vs non-null count).
    case AggSpec.BoolAnd(e, n) =>
      val (t, nn) = (sum(when(e, 1L).otherwise(0L)), count(e))
      when(nn > 0, t === nn).as(n)
    case AggSpec.BoolOr(e, n) =>
      val (t, nn) = (sum(when(e, 1L).otherwise(0L)), count(e))
      when(nn > 0, t > 0).as(n)
    // Variance family: evaluated via the SAME moment formula the maintained
    // state derives its output from (not the builtin Welford-style
    // var_samp), so refresh == recompute is bit-exact for exact inputs.
    case a if AggSpec.isMoment2(a) =>
      val e = AggSpec.expr(a).get.cast("double")
      momentOutput(a, sum(e), sum(e * e), count(e)).as(a.name)
    // Covariance/correlation family: same moment-formula-on-both-paths
    // discipline as variance (the builtins use Welford-style updates).
    case a if AggSpec.isMomentXY(a) =>
      val (gx, gy) = AggSpec.xyGuarded(a)
      momentXYOutput(a, sum(gx), sum(gy), sum(gx * gy),
        sum(gx * gx), sum(gy * gy), count(gx)).as(a.name)
  }

  /** Variance-family output from the moments (Σe, Σe², n), everything in
    * double. The clamp to 0 guards the catastrophic-cancellation case
    * (all-equal values) from going epsilon-negative under sqrt. Sample
    * variants are NULL for n ≤ 1, population for n = 0 — SQL semantics. */
  private[graft] def momentOutput(
      a: AggSpec, s1raw: Column, s2raw: Column, nnRaw: Column): Column = {
    val s1 = s1raw.cast("double"); val s2 = s2raw.cast("double")
    val nn = nnRaw.cast("double")
    def pop  = greatest((s2 - s1 * s1 / nn) / nn, lit(0d))
    def samp = greatest((s2 - s1 * s1 / nn) / (nn - 1), lit(0d))
    a match {
      case _: AggSpec.VarPop     => when(nnRaw > 0, pop)
      case _: AggSpec.VarSamp    => when(nnRaw > 1, samp)
      case _: AggSpec.StddevPop  => when(nnRaw > 0, sqrt(pop))
      case _: AggSpec.StddevSamp => when(nnRaw > 1, sqrt(samp))
      case other => sys.error(s"not a moment aggregate: $other")
    }
  }

  /** Covariance-family output from the cross-moments. COVAR_SAMP is NULL
    * for n ≤ 1, COVAR_POP for n = 0; CORR additionally NULL when either
    * marginal variance is 0 (constant input — the ratio is undefined).
    * The sqrt arguments clamp at 0 against catastrophic cancellation. */
  private[graft] def momentXYOutput(
      a: AggSpec, sxR: Column, syR: Column, sxyR: Column,
      sxxR: Column, syyR: Column, nnRaw: Column): Column = {
    val sx = sxR.cast("double"); val sy = syR.cast("double")
    val sxy = sxyR.cast("double"); val sxx = sxxR.cast("double")
    val syy = syyR.cast("double"); val nn = nnRaw.cast("double")
    def co   = sxy - sx * sy / nn
    def varX = greatest(sxx - sx * sx / nn, lit(0d))
    def varY = greatest(syy - sy * sy / nn, lit(0d))
    a match {
      case _: AggSpec.CovarPop  => when(nnRaw > 0, co / nn)
      case _: AggSpec.CovarSamp => when(nnRaw > 1, co / (nn - 1))
      case _: AggSpec.Corr =>
        when(nnRaw > 0 && varX > 0 && varY > 0, co / sqrt(varX * varY))
      case other => sys.error(s"not a cross-moment aggregate: $other")
    }
  }

  /** Evaluate with the hidden bookkeeping columns a materialized aggregate
    * state needs: per-aggregate physical columns plus [[IvmCore.HCOUNT]]
    * (group liveness). Used by [[Ivm.create]] to seed state; the delta path
    * ([[ZDelta]]) maintains the same schema incrementally. */
  private[ivm] def evalState(q: Aggregate, resolve: String => DataFrame,
      hook: IvmQuery => Option[DataFrame] = _ => None): DataFrame = {
    val child = eval(q.child, resolve, hook)
    val exprs = q.aggs.flatMap(Eval.statePhysical) :+ count(lit(1)).as(IvmCore.HCOUNT)
    if (q.keys.isEmpty) child.agg(exprs.head, exprs.tail: _*)
    else child.groupBy(q.keys.map(col): _*).agg(exprs.head, exprs.tail: _*)
  }

  /** Physical (stored) columns for an aggregate: enough state to combine
    * with signed deltas and to reconstruct the user-visible value.
    * SUM additionally tracks its non-null input count so SUM over a group
    * whose non-null inputs all get deleted correctly returns to NULL. */
  private[ivm] def statePhysical(a: AggSpec): Seq[Column] = a match {
    case AggSpec.Sum(e, n) =>
      Seq(sum(e).as(physSum(n)), count(e).as(physNn(n)))
    case AggSpec.Count(e, n)  => Seq(count(e).as(physNn(n)))
    case AggSpec.CountStar(n) => Seq(count(lit(1)).as(physNn(n)))
    case AggSpec.Avg(e, n) =>
      Seq(sum(e).as(physSum(n)), count(e).as(physNn(n)))
    case AggSpec.Min(e, n) =>
      Seq(min(e).as(physExt(n)), count(e).as(physNn(n)))
    case AggSpec.Max(e, n) =>
      Seq(max(e).as(physExt(n)), count(e).as(physNn(n)))
    case AggSpec.CountDistinct(e, n) =>
      Seq(count_distinct(e).as(physExt(n)), count(e).as(physNn(n)))
    case AggSpec.SumDistinct(e, n) =>
      Seq(sum_distinct(e).as(physExt(n)), count(e).as(physNn(n)))
    case AggSpec.ListAgg(e, sep, n) =>
      Seq(array_join(transform(array_sort(collect_list(e)), _.cast("string")),
        sep).as(physExt(n)), count(e).as(physNn(n)))
    case AggSpec.BoolAnd(e, n) =>
      Seq(sum(when(e, 1L).otherwise(0L)).as(physSum(n)), count(e).as(physNn(n)))
    case AggSpec.BoolOr(e, n) =>
      Seq(sum(when(e, 1L).otherwise(0L)).as(physSum(n)), count(e).as(physNn(n)))
    case AggSpec.Percentile(e, p, n) =>
      Seq(call_function("percentile", e, lit(p)).as(physExt(n)),
        count(e).as(physNn(n)))
    case AggSpec.ApproxCountDistinct(e, lgK, n) =>
      Seq(hll_sketch_agg(e, lgK).as(physExt(n)), count(e).as(physNn(n)))
    case AggSpec.ApproxPercentile(e, _, k, n) =>
      val d = e.cast("double")
      Seq(graft.functions.Kll.agg(d, k).as(physExt(n)),
        count(d).as(physNn(n)))
    case AggSpec.ApproxTopK(e, _, m, n) =>
      val t = e.cast("string")
      Seq(graft.functions.Freq.agg(t, m).as(physExt(n)),
        count(t).as(physNn(n)))
    // Moments in double: exact for integer-valued inputs (≤ 2^53), and the
    // signed-delta adjustments commute with the base sums.
    case a if AggSpec.isMoment2(a) =>
      val e = AggSpec.expr(a).get.cast("double")
      Seq(sum(e).as(physSum(a.name)), sum(e * e).as(physSum2(a.name)),
        count(e).as(physNn(a.name)))
    case a if AggSpec.isMomentXY(a) =>
      val (gx, gy) = AggSpec.xyGuarded(a); val n = a.name
      Seq(sum(gx).as(physSum(n)), sum(gy).as(physSumY(n)),
        sum(gx * gy).as(physSumXY(n)),
        sum(gx * gx).as(physSum2(n)), sum(gy * gy).as(physSum2Y(n)),
        count(gx).as(physNn(n)))
    // min_by/max_by: the extremum PAIR is stored; delta maintenance goes
    // through the aux multiset exactly like MIN/MAX.
    case a @ AggSpec.MinBy(_, _, n) =>
      Seq(min(AggSpec.expr(a).get).as(physExt(n)),
        count(AggSpec.expr(a).get).as(physNn(n)))
    case a @ AggSpec.MaxBy(_, _, n) =>
      Seq(max(AggSpec.expr(a).get).as(physExt(n)),
        count(AggSpec.expr(a).get).as(physNn(n)))
  }

  /** User-visible output column derived from the physical state columns. */
  private[ivm] def stateOutput(a: AggSpec): Column = a match {
    case AggSpec.Sum(_, n) =>
      when(col(physNn(n)) > 0, col(physSum(n))).as(n)
    case AggSpec.Count(_, n)  => col(physNn(n)).as(n)
    case AggSpec.CountStar(n) => col(physNn(n)).as(n)
    case AggSpec.Avg(_, n) =>
      when(col(physNn(n)) > 0, col(physSum(n)) / col(physNn(n))).as(n)
    case AggSpec.Min(_, n) =>
      when(col(physNn(n)) > 0, col(physExt(n))).as(n)
    case AggSpec.Max(_, n) =>
      when(col(physNn(n)) > 0, col(physExt(n))).as(n)
    case AggSpec.CountDistinct(_, n) => // 0 (not NULL) over empty input
      when(col(physNn(n)) > 0, col(physExt(n))).otherwise(lit(0L)).as(n)
    case AggSpec.SumDistinct(_, n) => // NULL over empty input, like SUM
      when(col(physNn(n)) > 0, col(physExt(n))).as(n)
    case AggSpec.ListAgg(_, _, n) => // NULL over all-NULL input
      when(col(physNn(n)) > 0, col(physExt(n))).as(n)
    case AggSpec.BoolAnd(_, n) =>
      when(col(physNn(n)) > 0, col(physSum(n)) === col(physNn(n))).as(n)
    case AggSpec.BoolOr(_, n) =>
      when(col(physNn(n)) > 0, col(physSum(n)) > 0).as(n)
    case AggSpec.Percentile(_, _, n) =>
      when(col(physNn(n)) > 0, col(physExt(n))).as(n)
    case AggSpec.ApproxCountDistinct(_, _, n) =>
      when(col(physNn(n)) > 0, hll_sketch_estimate(col(physExt(n)))).as(n)
    case AggSpec.ApproxPercentile(_, p, _, n) =>
      when(col(physNn(n)) > 0,
        graft.functions.Kll.quantile(col(physExt(n)), p)).as(n)
    case AggSpec.ApproxTopK(_, k, _, n) =>
      when(col(physNn(n)) > 0,
        graft.functions.Freq.topK(col(physExt(n)), k)).as(n)
    case a if AggSpec.isMoment2(a) =>
      val n = a.name
      momentOutput(a, col(physSum(n)), col(physSum2(n)), col(physNn(n))).as(n)
    case a if AggSpec.isMomentXY(a) =>
      val n = a.name
      momentXYOutput(a, col(physSum(n)), col(physSumY(n)), col(physSumXY(n)),
        col(physSum2(n)), col(physSum2Y(n)), col(physNn(n))).as(n)
    case AggSpec.MinBy(_, _, n) =>
      when(col(physNn(n)) > 0, col(physExt(n)).getField(AggSpec.PairA)).as(n)
    case AggSpec.MaxBy(_, _, n) =>
      when(col(physNn(n)) > 0, col(physExt(n)).getField(AggSpec.PairA)).as(n)
  }

  private[ivm] def physSum(name: String) = s"__ivm_sum_$name"
  private[ivm] def physSum2(name: String) = s"__ivm_sum2_$name"
  private[ivm] def physSumY(name: String)  = s"__ivm_sumy_$name"
  private[ivm] def physSum2Y(name: String) = s"__ivm_sum2y_$name"
  private[ivm] def physSumXY(name: String) = s"__ivm_sumxy_$name"
  private[ivm] def physNn(name: String)  = s"__ivm_nn_$name"
  private[ivm] def physExt(name: String) = s"__ivm_ext_$name"
  private[ivm] def auxVal(name: String)  = s"__ivm_val_$name"
  private[ivm] def physicalNames(a: AggSpec): Seq[String] = a match {
    case AggSpec.Sum(_, n)    => Seq(physSum(n), physNn(n))
    case AggSpec.Count(_, n)  => Seq(physNn(n))
    case AggSpec.CountStar(n) => Seq(physNn(n))
    case AggSpec.Avg(_, n)    => Seq(physSum(n), physNn(n))
    case AggSpec.Min(_, n)    => Seq(physExt(n), physNn(n))
    case AggSpec.Max(_, n)    => Seq(physExt(n), physNn(n))
    case AggSpec.CountDistinct(_, n) => Seq(physExt(n), physNn(n))
    case AggSpec.SumDistinct(_, n)   => Seq(physExt(n), physNn(n))
    case AggSpec.ListAgg(_, _, n)    => Seq(physExt(n), physNn(n))
    case AggSpec.BoolAnd(_, n)       => Seq(physSum(n), physNn(n))
    case AggSpec.BoolOr(_, n)        => Seq(physSum(n), physNn(n))
    case AggSpec.Percentile(_, _, n) => Seq(physExt(n), physNn(n))
    case AggSpec.ApproxCountDistinct(_, _, n) => Seq(physExt(n), physNn(n))
    case AggSpec.ApproxPercentile(_, _, _, n) => Seq(physExt(n), physNn(n))
    case AggSpec.ApproxTopK(_, _, _, n) => Seq(physExt(n), physNn(n))
    case a if AggSpec.isMoment2(a) =>
      Seq(physSum(a.name), physSum2(a.name), physNn(a.name))
    case a if AggSpec.isMomentXY(a) =>
      Seq(physSum(a.name), physSumY(a.name), physSumXY(a.name),
        physSum2(a.name), physSum2Y(a.name), physNn(a.name))
    case AggSpec.MinBy(_, _, n) => Seq(physExt(n), physNn(n))
    case AggSpec.MaxBy(_, _, n) => Seq(physExt(n), physNn(n))
  }

  /** Auxiliary value-multiset state for one MIN/MAX spec: per
    * (group keys, value) count of non-null occurrences. The delta path
    * adjusts these counts with signed weights; the new extremum of a
    * touched group is the min/max over its alive (count>0) values. */
  private[ivm] def evalAuxState(
      q: Aggregate, a: AggSpec, resolve: String => DataFrame,
      hook: IvmQuery => Option[DataFrame] = _ => None): DataFrame = {
    val child = eval(q.child, resolve, hook)
    val v = AggSpec.expr(a).get.as(auxVal(a.name))
    child.select((q.keys.map(col) :+ v): _*)
      .where(col(auxVal(a.name)).isNotNull)
      .groupBy((q.keys.map(col) :+ col(auxVal(a.name))): _*)
      .agg(count(lit(1)).as(IvmCore.HCOUNT))
  }
}
