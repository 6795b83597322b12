package graft.ivm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Repartition}

/** Core constants of the IVM engine.
  *
  * The multiplicity column name/type mirrors the reference convention
  * (reference: include/ivm_rewrite_rule.hpp:77-78, README.md:10):
  * `_duckdb_ivm_multiplicity BOOLEAN`, true = inserted row, false = deleted
  * row; an update is modeled as delete + insert.
  *
  * Internally the engine generalizes the boolean to a signed integer weight
  * (a Z-set / DBToaster-style multiplicity, cf. the reference poster's
  * refs [2][3]): weight = +1 for inserts, -1 for deletes. Signed weights
  * compose through joins (weights multiply) and aggregates (SUM(e*w)),
  * which the boolean form cannot.
  */
object IvmCore {
  /** Boolean multiplicity column — public surface, byte-for-byte parity
    * with the reference (ivm_rewrite_rule.hpp:77). */
  val MULT = "_duckdb_ivm_multiplicity"

  /** Signed weight column — internal Z-set annotation (+1 insert / -1 delete). */
  val WEIGHT = "__ivm_weight"

  /** Hidden per-group row count in materialized aggregate state; detects
    * group death (count reaching 0) under deletions. The reference leaves
    * this entire "apply ΔV to V" half as future work (poster Future Work;
    * SURVEY.md §2.3.4) — we implement it. */
  val HCOUNT = "__ivm_count"

  /** Conventional name of the delta table for a base table
    * (ivm_rewrite_rule.hpp:107). */
  def deltaTableName(table: String): String = s"delta_$table"

  /** The driver-resident relation of an already-local frame: a
    * LocalRelation, bare or under a pin's coalesce(1). Matches the LOGICAL
    * plan — running the optimizer just to detect this costs a full
    * Catalyst pass per call. */
  def localLeaf(df: DataFrame): Option[LocalRelation] =
    df.queryExecution.logical match {
      case l: LocalRelation                        => Some(l)
      case Repartition(1, false, l: LocalRelation) => Some(l)
      case _                                       => None
    }
}

/** Restricted view-definition AST — exactly the operator surface the
  * reference rewrites (GET / FILTER / PROJECTION / AGGREGATE, the
  * authoritative list at ivm_rewrite_rule.hpp:99-284) plus the equi-JOIN
  * the reference poster aspires to (TPC-H Q13 running example) but its code
  * rejects (ivm_rewrite_rule.hpp:282-283).
  *
  * Two interpreters (SURVEY.md §7):
  *   - [[Eval]]:  IvmQuery => DataFrame over base tables (the view itself);
  *   - [[ParityDelta]] / [[ZDelta]]: IvmQuery => DataFrame over delta tables
  *     (the incremental rewrite).
  */
sealed trait IvmQuery {
  /** Base tables scanned by this query, left-to-right. */
  def tables: Seq[String] = this match {
    case Scan(t)             => Seq(t)
    case Filter(c, _)        => c.tables
    case Project(c, _)       => c.tables
    case Aggregate(c, _, _)  => c.tables
    case Join(l, r, _)       => l.tables ++ r.tables
    case LeftJoin(l, r, _)   => l.tables ++ r.tables
    case RightJoin(l, r, _)  => l.tables ++ r.tables
    case FullJoin(l, r, _)   => l.tables ++ r.tables
    case Union(l, r)         => l.tables ++ r.tables
    case TopK(c, _, _)       => c.tables
    case WindowDeco(c, _)    => c.tables
    case ExpandCount(c, _)   => c.tables
    case ScalarDeco(c, subs, _) => c.tables ++ subs.flatMap(_.tables)
  }
}

/** Leaf scan of a named base table (reference O1, ivm_rewrite_rule.hpp:100-145). */
final case class Scan(table: String) extends IvmQuery

/** WHERE predicate; selection commutes with delta (reference O3,
  * ivm_rewrite_rule.hpp:277-281). */
final case class Filter(child: IvmQuery, pred: Column) extends IvmQuery

/** Projection; computed columns must be aliased (reference O2/O4/O7). */
final case class Project(child: IvmQuery, cols: Seq[Column]) extends IvmQuery

/** GROUP BY over named key columns with structured aggregates
  * (reference O5/O6, ivm_rewrite_rule.hpp:221-253). Empty keys = global
  * aggregate; empty aggs = DISTINCT over the keys (dropDuplicates as an
  * IVM-able operator: group liveness IS the distinct row set). Aggregates
  * are structured (not opaque Columns) because the delta rules differ per
  * function. */
final case class Aggregate(child: IvmQuery, keys: Seq[String], aggs: Seq[AggSpec])
    extends IvmQuery

/** Inner equi-join on same-named key columns. Beyond reference code parity
  * (README.md:36 declares joins unsupported) but squarely inside the
  * poster's intended design (Q13; delta rule
  * Δ(A⋈B) = ΔA⋈B ⊎ A⋈ΔB ⊎ ΔA⋈ΔB with weights multiplied). */
final case class Join(left: IvmQuery, right: IvmQuery, keys: Seq[String])
    extends IvmQuery

/** LEFT OUTER equi-join — the join the poster's actual TPC-H Q13 uses.
  * Incremental maintenance needs one extra piece of state: the per-key
  * match count of the right side, so right-side deltas can detect 0↔>0
  * transitions (birth/death of null-extended left rows). */
final case class LeftJoin(left: IvmQuery, right: IvmQuery, keys: Seq[String])
    extends IvmQuery {
  require(keys.nonEmpty, "LeftJoin requires join keys")
}

/** RIGHT OUTER equi-join — the mirror of [[LeftJoin]]: the preserved side
  * is `right`, so the maintained match count is of the LEFT side (state
  * `.lcnt`), detecting birth/death of null-extended right rows. */
final case class RightJoin(left: IvmQuery, right: IvmQuery, keys: Seq[String])
    extends IvmQuery {
  require(keys.nonEmpty, "RightJoin requires join keys")
}

/** FULL OUTER equi-join — both sides preserved; maintains BOTH per-key
  * match counts (`.rcnt` of the right side for left anti-rows, `.lcnt` of
  * the left side for right anti-rows). */
final case class FullJoin(left: IvmQuery, right: IvmQuery, keys: Seq[String])
    extends IvmQuery {
  require(keys.nonEmpty, "FullJoin requires join keys")
}

/** UNION ALL (bag union) — column names must align across sides (use
  * Projects to shape them). The delta rule is the multiset identity
  * Δ(A ⊎ B) = ΔA ⊎ ΔB: unions commute with deltas with NO state, so the
  * node composes freely under filters, joins, and aggregates. Plain UNION
  * (set semantics) = `IvmQuery.distinct` over a Union. */
final case class Union(left: IvmQuery, right: IvmQuery) extends IvmQuery

/** ORDER BY + LIMIT as a READ-TIME decoration: the maintained state is the
  * CHILD's full multiset — a deletion inside the current top-k must promote
  * the runner-up, so the k-th row cannot be the state boundary. Maintenance
  * absorbs Δ in O(‖Δ‖); the ranking applies at read and plans as
  * TakeOrderedAndProject (per-partition heap + k-row driver merge, never a
  * full sort). `sort` is (column, ascending) pairs — include a unique
  * tiebreaker for deterministic output. Valid at the TOP of a view only
  * (not under joins/aggregates: top-k is not a Z-linear operator). */
final case class TopK(child: IvmQuery, sort: Seq[(String, Boolean)], n: Int)
    extends IvmQuery {
  require(sort.nonEmpty && n > 0, "TopK needs sort keys and a positive limit")
}

/** Window functions (RANK/ROW_NUMBER/moving SUM/…) as a READ-TIME
  * decoration, like [[TopK]]: a window value is a function of the WHOLE
  * child relation (one inserted row can shift every row's rank), so it is
  * not Z-linear and cannot be maintained row-by-row — but the CHILD is
  * maintained as usual in O(‖Δ‖), and the window projection applies on
  * read over the maintained state. The read plans as Spark's Window exec
  * partitioned by the spec's PARTITION BY — O(|view|) at read, the same
  * cost any engine pays to evaluate the window, never a base-table rescan.
  * `cols` is the full output select list (window expressions aliased).
  * Valid at the TOP of a view only (optionally under [[TopK]]). */
final case class WindowDeco(child: IvmQuery, cols: Seq[Column]) extends IvmQuery {
  require(cols.nonEmpty, "WindowDeco needs a select list")
}

/** Multiplicity expansion as a READ-TIME decoration: the child computes a
  * per-row repeat count in column `countCol`; the read repeats each row
  * that many times and drops the column. The bag set-ops build on this —
  * INTERSECT ALL is min(countA, countB) copies of each common row and
  * EXCEPT ALL is (countA − countB) clamped at 0 — with the per-side row
  * counts maintained as ordinary COUNT(*) aggregate states (min/clamped
  * difference are not Z-linear, but they are plain scalar functions OVER
  * maintained counts). Valid at the TOP of a view only. */
final case class ExpandCount(child: IvmQuery, countCol: String) extends IvmQuery

/** Uncorrelated SELECT-list scalar subqueries (`SELECT x, x / (SELECT
  * SUM(y) FROM u) AS share`) as a READ-TIME decoration: the child and
  * each 1-row global-aggregate subview maintain as INDEPENDENT states
  * (each O(‖Δ‖) per batch), and the read cross-joins the 1-row scalars
  * against the child state and applies `cols` (which reference each
  * subview's single output column by its hidden name).
  *
  * This is the O(‖Δ‖) counterpart of folding the subquery INTO the
  * maintained plan (the WHERE-form's cross-join composition): a scalar
  * embedded in state forces an O(|view|) rewrite whenever the scalar
  * moves, because every stored row carries the old value; a scalar kept
  * OUTSIDE the state changes nothing about the child when it moves — the
  * multiplication happens at read, which is O(output) for any engine.
  * Valid at the TOP of a view only (optionally under [[TopK]] /
  * [[WindowDeco]]); in nested positions (a subquery feeding an outer
  * aggregate) the value must live in state and the join fold applies. */
final case class ScalarDeco(child: IvmQuery, subs: Seq[IvmQuery],
    cols: Seq[Column]) extends IvmQuery {
  require(subs.nonEmpty && cols.nonEmpty, "ScalarDeco needs subviews + cols")
}

object IvmQuery {
  import org.apache.spark.sql.functions.{coalesce, col, least, lit}

  /** DISTINCT over `cols` — `dropDuplicates` as a maintainable view. */
  def distinct(child: IvmQuery, cols: Seq[String]): IvmQuery =
    Aggregate(child, cols, Seq.empty)

  /** Marker column the anti-join composition null-extends on. */
  val PRESENT = "__ivm_present"

  /** LEFT SEMI equi-join (EXISTS / IN-subquery) as pure composition: the
    * right side reduces to its DISTINCT key set — maintained with group
    * liveness, so a key's last supporting row dying retracts every
    * dependent left row — and an inner join against a key SET never
    * duplicates left rows, which is exactly semi-join multiset semantics.
    * Key matching is null-safe (NULL = NULL, like GROUP BY), unlike SQL
    * EXISTS with `=`; supply null-free keys for SQL parity. */
  def semiJoin(left: IvmQuery, right: IvmQuery, keys: Seq[String]): IvmQuery =
    Join(left, distinct(right, keys), keys)

  /** SQL INTERSECT (set semantics) as pure composition: the inner join of
    * the two sides' DISTINCT row sets on every output column — each side's
    * group liveness maintains membership, so a row leaves the view when
    * its last supporting row on EITHER side dies. */
  def intersect(left: IvmQuery, right: IvmQuery, cols: Seq[String]): IvmQuery =
    semiJoin(distinct(left, cols), right, cols)

  /** SQL EXCEPT (set semantics): DISTINCT left rows with no matching right
    * row — the anti-join composition over the distinct left set. */
  def except(left: IvmQuery, right: IvmQuery, cols: Seq[String]): IvmQuery =
    antiJoin(distinct(left, cols), right, cols, cols.map(col))

  /** Hidden per-side row counts / repeat count of the bag set-ops. */
  private[ivm] val CntA = "__ivm_ca"
  private[ivm] val CntB = "__ivm_cb"
  private[ivm] val CntN = "__ivm_n"

  /** SQL INTERSECT ALL (bag semantics): each common row appears
    * min(multA, multB) times. Pure composition + read decoration: each
    * side maintains a per-row COUNT(*) state (group liveness = row
    * presence), the inner join pairs alive rows, min is a scalar over the
    * two counts, and [[ExpandCount]] repeats the row at read. Both sides
    * must expose the same column names (`cols`). */
  def intersectAll(left: IvmQuery, right: IvmQuery, cols: Seq[String]): IvmQuery = {
    val ca = Aggregate(left, cols, Seq(AggSpec.CountStar(CntA)))
    val cb = Aggregate(right, cols, Seq(AggSpec.CountStar(CntB)))
    ExpandCount(
      Project(Join(ca, cb, cols),
        cols.map(col) :+ least(col(CntA), col(CntB)).as(CntN)),
      CntN)
  }

  /** SQL EXCEPT ALL (bag semantics): max(0, multA − multB) copies of each
    * left row — the LEFT JOIN of the per-row count states (a right miss
    * subtracts nothing), clamped by the filter. */
  def exceptAll(left: IvmQuery, right: IvmQuery, cols: Seq[String]): IvmQuery = {
    val ca = Aggregate(left, cols, Seq(AggSpec.CountStar(CntA)))
    val cb = Aggregate(right, cols, Seq(AggSpec.CountStar(CntB)))
    ExpandCount(
      Filter(
        Project(LeftJoin(ca, cb, cols),
          cols.map(col) :+
            (col(CntA) - coalesce(col(CntB), lit(0L))).as(CntN)),
        col(CntN) > 0),
      CntN)
  }

  /** Typed NULL for a subtotal key; a null type string (the SQL-frontend
    * path, where unresolved plans carry no schema) leaves NullType — the
    * level union coerces it against the finest level's real key type. */
  private def nullKey(t: String): Column =
    if (t == null) lit(null) else lit(null).cast(t)

  /** GROUP BY ROLLUP as pure composition: one maintained Aggregate per
    * grouping level, null-extended to the full key width and bag-unioned
    * (Δ(A⊎B) = ΔA⊎ΔB is stateless, so each level refreshes independently
    * in the same batch). `keys` carries (name, SQL type) so the null
    * literals of coarser levels type-align with the finest level —
    * unresolved ASTs cannot infer them (the SQL frontend passes null
    * types and relies on union coercion instead). Spark/DuckDB evaluate
    * ROLLUP the same way (Expand + aggregate); here each level's state
    * makes the whole rollup incrementally maintainable. */
  def rollup(
      child: IvmQuery,
      keys: Seq[(String, String)],
      aggs: Seq[AggSpec],
      flags: Seq[(String, String)] = Seq.empty): IvmQuery = {
    val names = keys.map(_._1)
    groupingSets(child, keys,
      (keys.length to 0 by -1).map(k => names.take(k)), aggs, flags)
  }

  /** GROUP BY CUBE — same composition as [[rollup]] over ALL 2^k key
    * subsets instead of prefixes. State count doubles per key, so keep the
    * cube key list short (as with any engine's CUBE). */
  def cube(
      child: IvmQuery,
      keys: Seq[(String, String)],
      aggs: Seq[AggSpec],
      flags: Seq[(String, String)] = Seq.empty): IvmQuery = {
    val names = keys.map(_._1)
    val sets = keys.indices.toSet.subsets().toSeq
      .sortBy(s => -s.size) // finest level first, grand total last
      .map(keep => names.zipWithIndex.collect { case (n, i) if keep(i) => n })
    groupingSets(child, keys, sets, aggs, flags)
  }

  /** GROUP BY GROUPING SETS — one maintained Aggregate per listed set,
    * null-extended to the full key width and bag-unioned (duplicate sets
    * duplicate their rows, the standard bag semantics). [[rollup]] and
    * [[cube]] are the prefix/power-set instances of this.
    *
    * `flags` emits SQL `GROUPING(key)` indicators — (output name, key) →
    * an INT that is 1 on levels where the key is rolled up, 0 where it
    * groups — distinguishing subtotal NULLs from NULL data. In the
    * composition each level's flag is a plan-time LITERAL: zero state,
    * zero runtime cost. */
  def groupingSets(
      child: IvmQuery,
      keys: Seq[(String, String)],
      sets: Seq[Seq[String]],
      aggs: Seq[AggSpec],
      flags: Seq[(String, String)] = Seq.empty): IvmQuery = {
    val names = keys.map(_._1)
    require(sets.nonEmpty && sets.forall(_.forall(names.contains)),
      s"grouping sets $sets must draw from keys $names")
    require(flags.forall { case (_, k) => names.contains(k) },
      s"GROUPING flags $flags must reference keys $names")
    val levels = sets.map { set =>
      val kept = names.filter(set.contains) // key order, not set order
      val agg = Aggregate(child, kept, aggs)
      def flagCols = flags.map { case (out, k) =>
        lit(if (kept.contains(k)) 0 else 1).cast("int").as(out)
      }
      if (kept.length == keys.length && flags.isEmpty) agg: IvmQuery
      else Project(agg,
        keys.map { case (n, t) =>
          if (kept.contains(n)) col(n) else nullKey(t).as(n)
        } ++ aggs.map(a => col(a.name)) ++ flagCols)
    }
    levels.reduce(Union(_, _))
  }

  /** LEFT ANTI equi-join (NOT EXISTS) as pure composition: LEFT OUTER
    * against the right side's distinct keys carrying a constant marker;
    * anti rows are exactly the null-extended ones, so the Filter keeps
    * marker-IS-NULL and the Project drops the bookkeeping. 0↔>0 match
    * transitions (a customer losing its last order enters the view) are
    * the LeftJoin rule's existing birth/death machinery. `leftCols` is the
    * view's output projection (the unresolved AST cannot star-expand). */
  def antiJoin(
      left: IvmQuery,
      right: IvmQuery,
      keys: Seq[String],
      leftCols: Seq[org.apache.spark.sql.Column]): IvmQuery =
    Project(
      Filter(
        LeftJoin(
          left,
          distinct(Project(right, keys.map(col) :+ lit(1).as(PRESENT)),
            keys :+ PRESENT),
          keys),
        col(PRESENT).isNull),
      leftCols)
}

/** Structured aggregate functions with known delta rules.
  * SUM and COUNT are the reference's declared surface (README.md:35);
  * COUNT(*) and AVG are self-maintainable extensions (AVG = SUM/COUNT).
  * MIN/MAX are NOT self-maintainable under deletes — the poster lists
  * "performant maintenance of intermediate results for … min/max
  * processing" as future work; here they are maintained with an auxiliary
  * per-(group, value) count state (a value multiset), so deleting the
  * current extremum correctly falls back to the next one. */
sealed trait AggSpec { def name: String }
object AggSpec {
  /** SUM(expr) — null iff the group has no non-null expr values. */
  final case class Sum(expr: Column, name: String) extends AggSpec
  /** COUNT(expr) — non-null count. */
  final case class Count(expr: Column, name: String) extends AggSpec
  /** COUNT(*). */
  final case class CountStar(name: String) extends AggSpec
  /** AVG(expr) — maintained as (sum, non-null count). */
  final case class Avg(expr: Column, name: String) extends AggSpec
  /** MIN(expr) — maintained via auxiliary value-multiset state. */
  final case class Min(expr: Column, name: String) extends AggSpec
  /** MAX(expr) — maintained via auxiliary value-multiset state. */
  final case class Max(expr: Column, name: String) extends AggSpec
  /** COUNT(DISTINCT expr) — maintained via the same value-multiset state:
    * the distinct count is the number of alive values. */
  final case class CountDistinct(expr: Column, name: String) extends AggSpec
  /** SUM(DISTINCT expr) — the sum over the alive values of the same
    * value-multiset state. */
  final case class SumDistinct(expr: Column, name: String) extends AggSpec

  /** VAR_SAMP(expr) — maintained from signed second moments: state is
    * (Σe, Σe², non-null count), all self-maintainable under deletion
    * (Δ adjusts each with the row weight; no auxiliary multiset needed).
    * The output is derived as (Σe² − (Σe)²/n)/(n−1); with exact inputs
    * (integers / integer-valued doubles / decimals) the moments are exact,
    * so the maintained value is bit-identical to recomputation. */
  final case class VarSamp(expr: Column, name: String) extends AggSpec
  /** VAR_POP(expr) — population variant of [[VarSamp]], same state. */
  final case class VarPop(expr: Column, name: String) extends AggSpec
  /** STDDEV_SAMP(expr) — sqrt of [[VarSamp]], same state. */
  final case class StddevSamp(expr: Column, name: String) extends AggSpec
  /** STDDEV_POP(expr) — sqrt of [[VarPop]], same state. */
  final case class StddevPop(expr: Column, name: String) extends AggSpec

  /** COVAR_POP(x, y) — maintained from signed CROSS-moments: state is
    * (Σx, Σy, Σxy, Σx², Σy², pair count) over rows where BOTH inputs are
    * non-null (SQL pairwise-deletion semantics). Every moment is linear in
    * the row weight, so the state self-maintains under deletion exactly
    * like SUM — no auxiliary multiset. One uniform 6-column state serves
    * the whole family ([[CovarSamp]], [[Corr]]). */
  final case class CovarPop(x: Column, y: Column, name: String) extends AggSpec
  /** COVAR_SAMP(x, y) — sample variant of [[CovarPop]], same state. */
  final case class CovarSamp(x: Column, y: Column, name: String) extends AggSpec
  /** CORR(x, y) — Pearson correlation from the same cross-moment state;
    * NULL when either marginal variance is 0 (DuckDB-compatible; Spark's
    * builtin yields NaN there, so both eval paths use our formula). */
  final case class Corr(x: Column, y: Column, name: String) extends AggSpec

  /** Exact interpolated percentile (MEDIAN = p 0.5, PERCENTILE_CONT
    * semantics) — holistic: not incrementally summarizable, so it is
    * maintained via the same auxiliary (group, value) multiset as MIN/MAX,
    * and a touched group's new value is Spark's frequency-weighted
    * `percentile(value, p, count)` over its alive values — O(group's
    * distinct values), never a base rescan. */
  final case class Percentile(expr: Column, p: Double, name: String)
      extends AggSpec {
    require(p >= 0 && p <= 1, s"percentile fraction out of [0,1]: $p")
  }

  /** APPROX_COUNT_DISTINCT(e) — maintained HLL sketch state (DataSketches
    * HllSketch, `lgK` log2 registers), INSERT-ONLY: the per-group state is
    * the sketch itself (~KB of registers, independent of cardinality) and
    * a batch merges via register-wise `hll_union` — the at-100-TB answer
    * to exact COUNT(DISTINCT)'s auxiliary value multiset, whose state
    * grows with the number of distinct values. Deletion is REJECTED
    * loudly at refresh: HLL registers are max-aggregates and cannot be
    * decremented (a deletable approximate distinct needs a different
    * summary and error model — use COUNT(DISTINCT) when feeds retract).
    * Union of sketches is register-wise max, so refresh ≡ recompute
    * exactly (same registers → same estimate), not just approximately. */
  final case class ApproxCountDistinct(expr: Column, lgK: Int, name: String)
      extends AggSpec {
    require(lgK >= 4 && lgK <= 21, s"lgK out of DataSketches range: $lgK")
  }

  /** APPROX_PERCENTILE(e, p) — maintained KLL quantile-sketch state
    * (DataSketches KllDoublesSketch, `k` retained-item parameter),
    * INSERT-ONLY like [[ApproxCountDistinct]]: the per-group state is the
    * serialized sketch (~O(k) regardless of input size) and a batch merges
    * via sketch union — the at-100-TB answer to exact [[Percentile]]'s
    * auxiliary value multiset, whose state grows with the number of
    * distinct values. Deletion is REJECTED loudly at refresh (a sketch
    * cannot un-see a value). Unlike HLL, KLL compaction is randomized:
    * refresh and recompute agree within the sketch's rank-error bound
    * (~1.65% at the default k=200), not bit-exactly — outputs derived
    * from it must be gated on an error window, never a value hash. */
  final case class ApproxPercentile(expr: Column, p: Double, k: Int, name: String)
      extends AggSpec {
    require(p >= 0 && p <= 1, s"percentile fraction out of [0,1]: $p")
    require(k >= 8 && k <= 65535, s"k out of DataSketches KLL range: $k")
  }

  /** APPROX_TOP_K(e, k) — maintained frequent-items ("heavy hitters")
    * sketch state (DataSketches ItemsSketch over the stringified input,
    * ≤ `maxMapSize` tracked counters), INSERT-ONLY like the other
    * sketches. Output is the top-k candidate item list under
    * NO_FALSE_NEGATIVES — any item with true frequency above the count
    * error bound ε·n (ε ≈ 3.5/maxMapSize) is guaranteed present; below
    * maxMapSize distinct items counters and order are exact. Above the
    * bound estimates depend on merge order, so gated outputs assert
    * containment of a known heavy hitter, never a list hash. */
  final case class ApproxTopK(expr: Column, k: Int, maxMapSize: Int, name: String)
      extends AggSpec {
    require(k >= 1, s"top-k needs k >= 1: $k")
    require(maxMapSize >= 8 && (maxMapSize & (maxMapSize - 1)) == 0,
      s"maxMapSize must be a power of 2 >= 8: $maxMapSize")
  }

  /** BOOL_AND(expr) — true iff every non-null value is true; NULL over an
    * all-NULL group. Fully self-maintainable from two signed counts
    * (true count, non-null count): and = (trueCnt == nn) — no auxiliary
    * multiset, deletes adjust both counts like SUM. */
  final case class BoolAnd(expr: Column, name: String) extends AggSpec
  /** BOOL_OR(expr) — true iff any non-null value is true; or = trueCnt > 0,
    * same two-count state as [[BoolAnd]]. */
  final case class BoolOr(expr: Column, name: String) extends AggSpec

  /** LISTAGG / STRING_AGG(expr, sep) with DETERMINISTIC ordering: values
    * concatenate in ascending value order (SQL leaves unordered listagg
    * undefined — unmaintainable and unreproducible). NULLs are ignored;
    * an all-NULL group yields NULL. Maintained under deletion via the same
    * auxiliary (group, value) multiset as MIN/MAX: the new string is
    * rebuilt from the group's alive values (each repeated its multiplicity)
    * — O(group's distinct values), never a base rescan. */
  final case class ListAgg(expr: Column, sep: String, name: String) extends AggSpec

  /** MIN_BY(arg, value) with DETERMINISTIC ties: returns the `arg` of the
    * lexicographically smallest (value, arg) pair — SQL's min_by leaves
    * ties undefined, which cannot be maintained (or oracle-checked)
    * reproducibly. Maintained under deletion via the same auxiliary
    * multiset as MIN/MAX, whose element is the (value, arg) struct; rows
    * with NULL value are ignored (SQL semantics). `arg` should be
    * non-null — NULL args make lexicographic order engine-dependent. */
  final case class MinBy(value: Column, arg: Column, name: String) extends AggSpec
  /** MAX_BY(arg, value), deterministic ties — mirror of [[MinBy]]. */
  final case class MaxBy(value: Column, arg: Column, name: String) extends AggSpec

  /** Field names of the (value, arg) pair struct [[MinBy]]/[[MaxBy]] track. */
  private[graft] val PairV = "v"
  private[graft] val PairA = "a"

  /** Copy of a spec under a new output name (the scalar-subquery fold
    * renames the subview's single aggregate to a hidden column). */
  def renamed(a: AggSpec, n: String): AggSpec = a match {
    case s: Sum           => s.copy(name = n)
    case s: Count         => s.copy(name = n)
    case s: CountStar     => s.copy(name = n)
    case s: Avg           => s.copy(name = n)
    case s: Min           => s.copy(name = n)
    case s: Max           => s.copy(name = n)
    case s: CountDistinct => s.copy(name = n)
    case s: SumDistinct   => s.copy(name = n)
    case s: VarSamp       => s.copy(name = n)
    case s: VarPop        => s.copy(name = n)
    case s: StddevSamp    => s.copy(name = n)
    case s: StddevPop     => s.copy(name = n)
    case s: CovarPop      => s.copy(name = n)
    case s: CovarSamp     => s.copy(name = n)
    case s: Corr          => s.copy(name = n)
    case s: MinBy         => s.copy(name = n)
    case s: MaxBy         => s.copy(name = n)
    case s: ListAgg       => s.copy(name = n)
    case s: BoolAnd       => s.copy(name = n)
    case s: BoolOr        => s.copy(name = n)
    case s: ApproxCountDistinct => s.copy(name = n)
    case s: ApproxPercentile => s.copy(name = n)
    case s: ApproxTopK    => s.copy(name = n)
    case s: Percentile    => s.copy(name = n)
  }

  /** Canonical identity of a spec's tracked aux value expression. Specs
    * whose tracked values coincide — MIN + MAX + COUNT(DISTINCT) of one
    * column, or MIN_BY + MAX_BY over the same (value, arg) pair — share
    * ONE auxiliary multiset: the (group, value) counts are identical,
    * only the read-out function differs. Unresolved Column toString is
    * deterministic for a fixed view definition, which is all the create
    * and refresh walks need to agree on. */
  def auxExprKey(a: AggSpec): String =
    // Structural canonicalization: ColumnNode.normalized rewrites every
    // node's construction-site Origin (whose captured stack-trace array
    // is the source of @hash noise in toString) to NO_ORIGIN, recursing
    // through arguments — so two structurally identical specs built at
    // different call sites compare equal while user literal payloads
    // (which a textual @hash/#id strip could mangle into collisions)
    // survive verbatim. Columns wrapping resolved Catalyst attributes
    // keep their ExprIds: distinct attributes stay distinct keys, which
    // at worst forgoes aux-state sharing, never corrupts it.
    expr(a).get.node.normalized.toString

  /** needsAux specs grouped by shared aux state: (owner, members). The
    * owner (first member in agg order) names the state path and the aux
    * value column; every member reads the owner's multiset. */
  def auxGroups(aggs: Seq[AggSpec]): Seq[(AggSpec, Seq[AggSpec])] = {
    val aux = aggs.filter(needsAux)
    aux.map(auxExprKey).distinct.map { k =>
      val members = aux.filter(auxExprKey(_) == k)
      (members.head, members)
    }
  }

  /** Extremum specs (MIN/MAX family): aux-multiset–backed under deletion,
    * but pure-fold (no aux state at all) for an INSERT-ONLY view. */
  def isExtremum(a: AggSpec): Boolean = a match {
    case _: Min | _: Max | _: MinBy | _: MaxBy => true
    case _                                     => false
  }
  /** Low-end extremum (MIN family) — folds with `least`, probes `min`. */
  def isLowEnd(a: AggSpec): Boolean = a match {
    case _: Min | _: MinBy => true
    case _                 => false
  }
  /** DISTINCT-family specs: maintained from born/died values of the batch
    * pair diff — never rescan the multiset. */
  def isDistinctFam(a: AggSpec): Boolean = a match {
    case _: CountDistinct | _: SumDistinct => true
    case _                                 => false
  }

  /** Specs needing the auxiliary (group, value) count state. */
  def needsAux(a: AggSpec): Boolean = a match {
    case _: Min | _: Max | _: CountDistinct | _: SumDistinct => true
    case _: MinBy | _: MaxBy | _: ListAgg | _: Percentile    => true
    case _                                                   => false
  }
  /** Specs maintained via second moments (Σe, Σe², n). */
  def isMoment2(a: AggSpec): Boolean = a match {
    case _: VarSamp | _: VarPop | _: StddevSamp | _: StddevPop => true
    case _                                                     => false
  }
  /** Specs maintained via cross-moments (Σx, Σy, Σxy, Σx², Σy², n). */
  def isMomentXY(a: AggSpec): Boolean = a match {
    case _: CovarPop | _: CovarSamp | _: Corr => true
    case _                                    => false
  }
  /** The two inputs of a cross-moment spec, each guarded to NULL unless
    * BOTH are non-null (SQL excludes incomplete pairs entirely), cast to
    * double. All sums over these guards see only complete pairs. */
  def xyGuarded(a: AggSpec): (Column, Column) = {
    import org.apache.spark.sql.functions.when
    val (x, y) = a match {
      case CovarPop(x, y, _)  => (x, y)
      case CovarSamp(x, y, _) => (x, y)
      case Corr(x, y, _)      => (x, y)
      case other => sys.error(s"not a cross-moment aggregate: $other")
    }
    val both = x.isNotNull && y.isNotNull
    (when(both, x.cast("double")), when(both, y.cast("double")))
  }
  def expr(a: AggSpec): Option[Column] = {
    import org.apache.spark.sql.functions.{struct, when}
    a match {
      case Sum(e, _) => Some(e); case Count(e, _) => Some(e)
      case Avg(e, _) => Some(e); case Min(e, _) => Some(e)
      case Max(e, _) => Some(e); case CountDistinct(e, _) => Some(e)
      case SumDistinct(e, _) => Some(e)
      case ListAgg(e, _, _) => Some(e)
      case BoolAnd(e, _) => Some(e); case BoolOr(e, _) => Some(e)
      case Percentile(e, _, _) => Some(e)
      case ApproxCountDistinct(e, _, _) => Some(e)
      case ApproxPercentile(e, _, _, _) => Some(e)
      case ApproxTopK(e, _, _, _) => Some(e)
      case VarSamp(e, _) => Some(e); case VarPop(e, _) => Some(e)
      case StddevSamp(e, _) => Some(e); case StddevPop(e, _) => Some(e)
      // The tracked "value" is the pair struct, NULL when the SQL value is
      // NULL — so the generic isNotNull guards (aux filter, non-null count)
      // apply unchanged and MIN/MAX over it order lexicographically.
      case MinBy(v, arg, _) =>
        Some(when(v.isNotNull, struct(v.as(PairV), arg.as(PairA))))
      case MaxBy(v, arg, _) =>
        Some(when(v.isNotNull, struct(v.as(PairV), arg.as(PairA))))
      case CountStar(_) => None
      // cross-moment specs carry TWO inputs — see [[xyGuarded]]
      case _: CovarPop | _: CovarSamp | _: Corr => None
    }
  }
}
