package graft.ivm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference-parity delta transform: computes `delta_V` from `delta_T`
  * exactly as the reference's optimizer rewrite does
  * (include/ivm_rewrite_rule.hpp:89-285), preserving its observable
  * semantics (SURVEY.md §2.3):
  *
  *   - the boolean multiplicity column `_duckdb_ivm_multiplicity` is
  *     threaded through every operator and appended last in the output;
  *   - aggregates gain the multiplicity as an extra GROUP BY key, so
  *     insert-side and delete-side aggregates come out as SEPARATE rows,
  *     never merged or negated (tests/ivm_issue2.test:20-26);
  *   - a global aggregate (no GROUP BY) groups by multiplicity alone
  *     (ivm_rewrite_rule.hpp:237-239, tests/ivm.test:146-152);
  *   - a missing delta table is an error (ivm_rewrite_rule.hpp:112-116).
  *
  * Unlike the reference, this transform never consults the base table, so
  * the reference's known failure on views whose base result is empty
  * (reference README.md:38-39, upstream issue #10) cannot occur here —
  * SURVEY.md §7 step 5.
  *
  * Joins are intentionally NOT handled here (parity: the reference throws
  * NotImplementedException, ivm_rewrite_rule.hpp:282-283); the generalized
  * signed-weight engine in [[ZDelta]] handles them.
  */
object ParityDelta {
  import IvmCore.MULT

  /** `resolveDelta(t)` returns the delta table `delta_t` if it exists. */
  def delta(
      q: IvmQuery,
      resolveDelta: String => Option[DataFrame]): DataFrame = q match {

    case Scan(t) =>
      // O1 + O2: scan the delta table; the multiplicity column rides along.
      resolveDelta(t).getOrElse {
        throw new IllegalStateException(
          s"IVM: delta table ${IvmCore.deltaTableName(t)} not found for base table $t")
      }

    case Filter(c, pred) =>
      // O3: selection commutes with delta; identical predicate on delta rows.
      delta(c, resolveDelta).filter(pred)

    case Project(c, cols) =>
      // O4/O7: projection with the multiplicity column appended last.
      delta(c, resolveDelta).select(cols :+ col(MULT): _*)

    case Aggregate(_, _, aggs) if aggs.isEmpty =>
      throw new UnsupportedOperationException(
        "DISTINCT views are outside the reference parity surface; " +
          "maintain them via Ivm.refresh")

    case Aggregate(c, keys, aggs) =>
      // O5/O6: multiplicity joins the grouping keys; aggregate functions
      // themselves are reused unchanged (unsigned SUM/COUNT per (group, ±)).
      val child = delta(c, resolveDelta)
      val exprs: Seq[Column] = aggs.map {
        case AggSpec.Sum(e, n)    => sum(e).as(n)
        case AggSpec.Count(e, n)  => count(e).as(n)
        case AggSpec.CountStar(n) => count(lit(1)).as(n)
        case AggSpec.Avg(e, n)    => avg(e).as(n)
        case AggSpec.Min(_, _) | AggSpec.Max(_, _) | AggSpec.CountDistinct(_, _) |
            AggSpec.SumDistinct(_, _) =>
          throw new UnsupportedOperationException(
            "MIN/MAX are outside the reference parity surface " +
              "(README.md:35); maintain them via Ivm.refresh")
      }
      // Output order: keys first, aggregates, multiplicity last
      // (ivm_rewrite_rule.hpp:77-79); views wanting a different select-list
      // order wrap the Aggregate in a Project.
      child
        .groupBy((keys.map(col) :+ col(MULT)): _*)
        .agg(exprs.head, exprs.tail: _*)
        .select((keys.map(col) ++ aggs.map(a => col(a.name)) :+ col(MULT)): _*)

    case Union(l, r) =>
      // Δ(A ⊎ B) = ΔA ⊎ ΔB holds in boolean-multiplicity form too; parity
      // mode requires deltas on BOTH sides (no notion of a missing delta).
      delta(l, resolveDelta).unionByName(delta(r, resolveDelta))

    case _: Join | _: LeftJoin | _: RightJoin | _: FullJoin | _: TopK |
        _: WindowDeco | _: ExpandCount | _: ScalarDeco =>
      throw new UnsupportedOperationException(
        "IVM parity mode does not support joins, top-k, or windows " +
          "(reference ivm_rewrite_rule.hpp:282-283); use ZDelta / Ivm.refresh")
  }
}
