package graft.ivm

import graft.SparkTestBase
import graft.ivm.AggSpec._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Generators and view shapes of the IVM invariant, shared with
  * [[ModeEquivalenceSpec]]. Rows are `(g STRING, h INT, v INT)`; table `u`
  * keeps `(g, h)`. */
object IvmPropertySpec {
  // Soak knob: -Divm.seedBase=N shifts the deterministic seed window so CI
  // stays reproducible while ad-hoc soaks explore fresh cases.
  val SeedBase = sys.props.getOrElse("ivm.seedBase", "0").toLong
  val Cases = 10

  private val keys = Gen.frequency(
    8 -> Gen.oneOf("a", "b", "c", "d"),
    1 -> Gen.const(null.asInstanceOf[String])) // NULL group/join keys
  private val genRow = for {
    g <- keys; h <- Gen.choose(0, 2)
    v <- Gen.oneOf(Gen.const(null), Gen.choose(-50, 50)) // null v exercises SUM/COUNT null rules
  } yield Row(g, h, v)

  val genTable = Gen.resize(18, Gen.listOf(genRow))

  /** Deltas: inserts are arbitrary rows; deletes are existing base rows. */
  def genDelta(baseRows: List[Row]): Gen[List[Row]] = for {
    ins <- Gen.resize(10, Gen.listOf(genRow.map(r => Row(r(0), r(1), r(2), true))))
    del <- if (baseRows.isEmpty) Gen.const(Nil)
           else Gen.someOf(baseRows).map(_.toList.map(r => Row(r(0), r(1), r(2), false)))
  } yield ins ++ del

  def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  /** The q113 topology at property scale: a literally-SHARED join
    * instance (reference identity is what triggers the delta-CSE memo)
    * consumed by two aggregates and the final join. */
  private lazy val sharedCteShape: IvmQuery = {
    val j = Join(Project(Scan("t"), Seq(col("g"), col("v"))),
      Project(Scan("u"), Seq(col("g"), col("h"))), Seq("g"))
    val ns = Aggregate(j, Seq("g"), Seq(CountDistinct(col("h"), "nd")))
    val nl = Aggregate(Filter(j, coalesce(col("v"), lit(0)) > 0), Seq("g"),
      Seq(CountStar("nn")))
    Aggregate(
      Join(Join(j, ns, Seq("g")), nl, Seq("g")),
      Seq("nd"), Seq(Sum(col("v"), "sv"), CountStar("n")))
  }

  /** The TPC-H Q15 topology: a SHARED AGGREGATE instance read by the
    * main query AND its scalar-subquery gate — canonical-instance naming
    * must give it ONE state, refreshed once, with both consumers reading
    * the same changelog. */
  private lazy val sharedAggCteShape: IvmQuery = {
    val rev = Aggregate(Project(Scan("t"), Seq(col("g"), col("v"))),
      Seq("g"), Seq(Sum(col("v"), "sv"), CountStar("cnt")))
    Project(
      Filter(
        Join(rev, Aggregate(rev, Seq.empty, Seq(Max(col("sv"), "__mx"))),
          Seq.empty),
        col("sv") === col("__mx")),
      Seq(col("g"), col("sv")))
  }

  val shapes: Seq[(String, IvmQuery)] = {
    def sc = Scan("t")
    Seq(
      "scan" -> sc,
      "filter" -> Filter(sc, col("v") > 0),
      "project" -> Project(sc, Seq(col("g"), (col("v") * 2).as("v2"))),
      "agg_g" -> Aggregate(sc, Seq("g"),
        Seq(Sum(col("v"), "sum_v"), Count(col("v"), "cnt_v"), CountStar("n"))),
      "agg_gh" -> Aggregate(sc, Seq("g", "h"),
        Seq(Sum(col("v") + 1, "sum_v1"), Avg(col("v"), "avg_v"))),
      "agg_global" -> Aggregate(sc, Seq.empty,
        Seq(Sum(col("v"), "sum_v"), CountStar("n"))),
      "filter_agg" -> Aggregate(Filter(sc, col("v") =!= 0), Seq("g"),
        Seq(Sum(col("v"), "sum_v"), CountStar("n"))),
      "distinct" -> IvmQuery.distinct(sc, Seq("g", "h")),
      "agg_minmax" -> Aggregate(sc, Seq("g"),
        Seq(Min(col("v"), "min_v"), Max(col("v"), "max_v"),
          Sum(col("v"), "sum_v"), CountStar("n"))),
      "agg_count_distinct" -> Aggregate(sc, Seq("g"),
        Seq(CountDistinct(col("v"), "nd_v"), CountDistinct(col("h"), "nd_h"),
          CountStar("n"))),
      "agg_sum_distinct" -> Aggregate(sc, Seq("g"),
        Seq(SumDistinct(col("v"), "sd_v"), CountDistinct(col("v"), "nd_v"),
          Sum(col("v"), "sum_v"), CountStar("n"))),
      "agg_sum_distinct_global" -> Aggregate(sc, Seq.empty,
        Seq(SumDistinct(col("v"), "sd_v"), CountStar("n"))),
      "agg_minmax_global" -> Aggregate(sc, Seq.empty,
        Seq(Min(col("v"), "min_v"), Max(col("v") + 1, "max_v1"))),
      // variance family: second-moment state, exact for integer inputs —
      // refresh must be bit-identical to the moment-formula recompute
      "agg_var" -> Aggregate(sc, Seq("g"),
        Seq(VarSamp(col("v"), "var_v"), StddevSamp(col("v"), "sd_v"),
          VarPop(col("v"), "vp_v"), CountStar("n"))),
      "agg_var_global" -> Aggregate(sc, Seq.empty,
        Seq(VarSamp(col("v"), "var_v"), StddevPop(col("v"), "sp_v"),
          CountStar("n"))),
      // covariance/correlation family: cross-moment state; rows where
      // EITHER input is NULL are excluded as pairs (v is nullable here,
      // h non-null — the guard still exercises pairwise deletion)
      "agg_covar" -> Aggregate(sc, Seq("g"),
        Seq(CovarPop(col("v"), col("h"), "cp"),
          CovarSamp(col("v"), col("h"), "cs"),
          Corr(col("v"), col("h"), "r"), CountStar("n"))),
      "agg_covar_global" -> Aggregate(sc, Seq.empty,
        Seq(CovarPop(col("v"), col("h"), "cp"),
          Corr(col("v"), col("h"), "r"), CountStar("n"))),
      // deterministic LISTAGG: the ordered concatenation rebuilds from the
      // aux multiset; deletions must drop exactly one occurrence of a
      // duplicated value, all-NULL groups must read NULL
      "agg_listagg" -> Aggregate(sc, Seq("g"),
        Seq(ListAgg(col("v"), ",", "lv"), CountStar("n"))),
      "agg_listagg_global" -> Aggregate(sc, Seq.empty,
        Seq(ListAgg(col("v"), "|", "lv"), CountStar("n"))),
      // scalar-subquery gate: empty-key (cross) join against a 1-row
      // global aggregate; threshold moves with u's deltas, re-qualifying
      // t rows whose comparison flips (NULL v rows never qualify)
      "scalar_gate" -> Project(
        Filter(
          Join(Project(sc, Seq(col("g"), col("v"))),
            Aggregate(Scan("u"), Seq.empty, Seq(Avg(col("h"), "__sq0"))),
            Seq.empty),
          col("v") > col("__sq0")),
        Seq(col("g"), col("v"))),
      // deterministic min_by/max_by: arg of the lexicographic (value, arg)
      // extremum, maintained via the pair-struct aux multiset (h is the
      // non-null arg; v can be NULL — such rows are ignored)
      "agg_argminmax" -> Aggregate(sc, Seq("g"),
        Seq(MinBy(col("v"), col("h"), "am_v"), MaxBy(col("v"), col("h"), "ax_v"),
          Min(col("v"), "min_v"), CountStar("n"))),
      "agg_argminmax_global" -> Aggregate(sc, Seq.empty,
        Seq(MinBy(col("v"), col("h"), "am_v"), MaxBy(col("v"), col("h"), "ax_v"))),
      // maintained ROLLUP: one aggregate state per level, stateless union —
      // deltas adjust every level's groups in one batch (incl. NULL keys,
      // which must not merge wrongly with rolled-up null-extended rows)
      "rollup" -> IvmQuery.rollup(sc, Seq("g" -> "string", "h" -> "int"),
        Seq(Sum(col("v"), "sv"), CountStar("n"))),
      "cube" -> IvmQuery.cube(sc, Seq("g" -> "string", "h" -> "int"),
        Seq(Sum(col("v"), "sv"), CountStar("n"))),
      // arbitrary level list incl. a non-prefix set and the grand total
      "grouping_sets" -> IvmQuery.groupingSets(sc,
        Seq("g" -> "string", "h" -> "int"),
        Seq(Seq("g", "h"), Seq("h"), Seq.empty),
        Seq(Sum(col("v"), "sv"), CountStar("n"))),
      "nested_agg" -> Aggregate(
        Aggregate(sc, Seq("g", "h"), Seq(Sum(col("v"), "sv"), CountStar("n1"))),
        Seq("g"), Seq(Sum(col("sv"), "ssv"), CountStar("n2"))),
      "join_agg" -> Aggregate(
        Join(Project(sc, Seq(col("g"), col("v"))),
          Project(Scan("u"), Seq(col("g"), col("h"))), Seq("g")),
        Seq("h"), Seq(Sum(col("v"), "sum_v"), CountStar("n"))),
      // deltas arrive on BOTH join sides: all three ΔA⋈B/A⋈ΔB/ΔA⋈ΔB terms
      "join_agg_2side" -> Aggregate(
        Join(Project(sc, Seq(col("g"), col("v"))),
          Project(Scan("u"), Seq(col("g"), col("h"))), Seq("g")),
        Seq("h"), Seq(Sum(col("v"), "sum_v"), CountStar("n"))),
      // LEFT OUTER join: null-extension birth/death on 0<->HCOUNT transitions
      "loj" -> LeftJoin(Project(sc, Seq(col("g"), col("v"))),
        Project(Scan("u"), Seq(col("g"), col("h"))), Seq("g")),
      "loj_2side" -> LeftJoin(Project(sc, Seq(col("g"), col("v"))),
        Project(Scan("u"), Seq(col("g"), col("h"))), Seq("g")),
      // the REAL TPC-H Q13 shape: LOJ + two-level aggregation
      "loj_q13_2side" -> Aggregate(
        Aggregate(
          LeftJoin(Project(sc, Seq(col("g"), col("v"))),
            Project(Scan("u"), Seq(col("g"), col("h"))), Seq("g")),
          Seq("g", "v"), Seq(Count(col("h"), "c_count"))),
        Seq("c_count"), Seq(CountStar("custdist"))),
      // RIGHT OUTER: preserved side is the right; mirrors loj transitions
      "roj_2side" -> RightJoin(Project(sc, Seq(col("g"), col("v"))),
        Project(Scan("u"), Seq(col("g"), col("h"))), Seq("g")),
      // FULL OUTER: both sides preserved, both match-count states live
      "foj_2side" -> FullJoin(Project(sc, Seq(col("g"), col("v"))),
        Project(Scan("u"), Seq(col("g"), col("h"))), Seq("g")),
      "foj_agg_2side" -> Aggregate(
        FullJoin(Project(sc, Seq(col("g"), col("v"))),
          Project(Scan("u"), Seq(col("g"), col("h"))), Seq("g")),
        Seq.empty,
        Seq(Count(col("v"), "n_v"), Count(col("h"), "n_h"), CountStar("n"))),
      // HAVING = Filter over aggregate OUTPUT: groups enter/leave the
      // filtered set as deltas move them across the predicate boundary
      "having" -> Filter(
        Aggregate(sc, Seq("g"),
          Seq(Sum(col("v"), "sum_v"), CountStar("n"))),
        col("n") % 2 === 0),
      "having_minmax" -> Filter(
        Aggregate(sc, Seq("g"),
          Seq(Min(col("v"), "min_v"), CountStar("n"))),
        coalesce(col("min_v"), lit(0)) <= 0),
      // SEMI join composition: membership flips as a key's last supporting
      // right row dies / first arrives (deltas on both sides)
      "semi_2side" -> IvmQuery.semiJoin(
        Project(sc, Seq(col("g"), col("v"))),
        Project(Scan("u"), Seq(col("g"), col("h"))), Seq("g")),
      // ANTI join composition: the mirror transitions through the LeftJoin
      // match-count machinery
      "anti_2side" -> IvmQuery.antiJoin(
        Project(sc, Seq(col("g"), col("v"))),
        Project(Scan("u"), Seq(col("g"))), Seq("g"),
        leftCols = Seq(col("g"), col("v"))),
      // computed group key (the SQL frontend's GROUP BY expression fold):
      // Project inserted below the Aggregate
      "agg_computed_key" -> Aggregate(
        Project(sc, Seq(col("g"), col("v"),
          (coalesce(col("v"), lit(0)) % 3).as("vm"))),
        Seq("g", "vm"), Seq(Sum(col("v"), "sum_v"), CountStar("n"))),
      // semi feeding an aggregate: composition under composition
      "semi_agg_2side" -> Aggregate(
        IvmQuery.semiJoin(
          Project(sc, Seq(col("g"), col("v"))),
          Project(Scan("u"), Seq(col("g"), col("h"))), Seq("g")),
        Seq("g"), Seq(Sum(col("v"), "sum_v"), CountStar("n"))),
      // UNION ALL under an aggregate: Δ(A ⊎ B) = ΔA ⊎ ΔB, deltas on both
      // inputs in the same batch
      "union_agg_2side" -> Aggregate(
        Union(Project(sc, Seq(col("g"), col("v"))),
          Project(Scan("u"), Seq(col("g"), col("h").as("v")))),
        Seq("g"), Seq(Sum(col("v"), "sum_v"), CountStar("n"))),
      "union_distinct_2side" -> IvmQuery.distinct(
        Union(Project(sc, Seq(col("g"))), Project(Scan("u"), Seq(col("g")))),
        Seq("g")),
      // set INTERSECT/EXCEPT compositions: membership changes on either
      // side must flip rows in/out of the view
      "intersect_2side" -> IvmQuery.intersect(
        Project(sc, Seq(col("g"), col("h"))),
        Project(Scan("u"), Seq(col("g"), col("h"))), Seq("g", "h")),
      "except_2side" -> IvmQuery.except(
        Project(sc, Seq(col("g"), col("h"))),
        Project(Scan("u"), Seq(col("g"), col("h"))), Seq("g", "h")),
      // SELECT-list scalar subquery as the ScalarDeco READ decoration:
      // child rows and the 1-row scalar maintain as independent states;
      // the arithmetic happens at read, so a moving total rewrites nothing
      "scalar_deco" -> ScalarDeco(
        Project(sc, Seq(col("g"), col("v"))),
        Seq(Aggregate(sc, Seq.empty, Seq(Sum(col("v"), "__ivm_sq0")))),
        Seq(col("g"), col("v"),
          (col("v") * lit(100) / col("__ivm_sq0")).as("share"))),
      "scalar_deco_2side" -> ScalarDeco(
        Project(sc, Seq(col("g"), col("v"))),
        Seq(Aggregate(Scan("u"), Seq.empty, Seq(Avg(col("h"), "__ivm_sq0")))),
        Seq(col("g"), (col("v") - col("__ivm_sq0")).as("dev"))),
      // SHARED CTE (batch-scoped delta CSE): ONE stateless join instance
      // referenced three ways — aggregated twice (once through a filter)
      // and joined directly, the TPC-H Q21 CTE topology. The CSE layer
      // pins the subtree's delta / caches its current side on first
      // reference and reuses them; results must be indistinguishable
      // from the unshared walk. `shared_cte` takes deltas on t only,
      // `shared_cte_2side` churns both tables in one batch.
      "shared_cte" -> sharedCteShape,
      "shared_cte_2side" -> sharedCteShape,
      "shared_agg_cte" -> sharedAggCteShape,
      // DECORRELATED scalar subquery (the SqlFrontend fold of
      // `WHERE v > (SELECT 2*avg(h) FROM u WHERE u.g = t.g)`): per-key
      // aggregate view LEFT-joined on the correlation key — a t-row whose
      // g has no u-group compares against NULL and never qualifies; both
      // tables take deltas in one batch
      "corr_scalar_2side" -> Project(
        Filter(
          LeftJoin(Project(sc, Seq(col("g"), col("v"))),
            Aggregate(Project(Scan("u"), Seq(col("g"), col("h"))),
              Seq("g"), Seq(Avg(col("h"), "__sq0"))),
            Seq("g")),
          col("v") > lit(2) * col("__sq0")),
        Seq(col("g"), col("v"))))
  }

  /** DDL of a generated table, with the delta MULT column when `withMult`. */
  def rowDdl(withMult: Boolean): String =
    if (withMult) s"g STRING, h INT, v INT, ${IvmCore.MULT} BOOLEAN"
    else "g STRING, h INT, v INT"
}

/** The IVM invariant (SURVEY.md §5.3, the poster's correctness property):
  * for random base tables T, delta batches ΔT, and supported view shapes Q:
  *
  *     refresh(create(Q, T), ΔT)  ==  Q(T ⊎ ΔT)
  *
  * Deletes are sampled from existing base rows (the reference's update
  * model — delete + insert of existing rows, README.md:10); phantom deletes
  * are out of contract for both engines.
  *
  * Uses ScalaCheck generators with fixed seeds (deterministic, no
  * scalatestplus bridge needed). Subsumes the golden tests across a far
  * larger shape × data space, including joins and nested aggregates the
  * reference never reaches.
  */
class IvmPropertySpec extends AnyFunSuite with SparkTestBase {
  import IvmPropertySpec._

  private def mkDf(rows: Seq[Row], withMult: Boolean): DataFrame =
    df(rowDdl(withMult), rows)

  // INSERT-ONLY extremum mode: same invariant over insert-only deltas
  // (deletes stripped), view created with insertOnly=true — the fold-only
  // path with no aux multiset must equal recompute for arbitrary
  // insert streams, including NULL values and brand-new groups.
  test("refresh == recompute: insert-only extremum fold (randomized)") {
    val q = Aggregate(Scan("t"), Seq("g"),
      Seq(Min(col("v"), "min_v"), Max(col("v"), "max_v"),
        MinBy(col("v"), col("h"), "am_v"), CountStar("n")))
    for (seed0 <- 1 to Cases) {
      val seed = seed0 + SeedBase
      val tRows = sample(genTable, seed * 7919L)
      val insRows = sample(genDelta(tRows), seed * 1299709L)
        .filter(_.getBoolean(3)) // inserts only
      val base: String => DataFrame = { case "t" => mkDf(tRows, withMult = false) }
      val deltas: String => Option[DataFrame] = {
        case "t" => Some(mkDf(insRows, withMult = true)); case _ => None
      }
      val store = new MemStore
      Ivm.create("ins_prop", q, base, store, deltaTables = null,
        insertOnly = true)
      Ivm.refresh("ins_prop", q, base, deltas, store)
      withClue(s"insert-only seed=$seed |T|=${tRows.size} |Δ|=${insRows.size}: ") {
        assertSameRows(Ivm.read("ins_prop", q, store),
          Ivm.recompute(q, base, deltas))
      }
    }
  }

  for ((name, q) <- shapes)
    test(s"refresh == recompute: $name") {
      for (seed0 <- 1 to Cases) {
        val seed = seed0 + SeedBase
        val tRows = sample(genTable, seed * 7919L)
        val uRows = sample(genTable, seed * 104729L)
        val dRows = sample(genDelta(tRows), seed * 1299709L)
        val t = mkDf(tRows, withMult = false)
        val u = mkDf(uRows, withMult = false).select(col("g"), col("h"))
        val d = mkDf(dRows, withMult = true)
        val base: String => DataFrame = { case "t" => t; case "u" => u }
        val twoSided = name.endsWith("_2side")
        val dU =
          if (!twoSided) None
          else Some(mkDf(sample(genDelta(uRows), seed * 15485863L), withMult = true)
            .select(col("g"), col("h"), col(IvmCore.MULT)))
        val deltas: String => Option[DataFrame] = {
          case "t" => Some(d)
          case "u" => dU
          case _   => None
        }

        val store = new MemStore
        Ivm.create(name, q, base, store)
        Ivm.refresh(name, q, base, deltas, store)
        val got = Ivm.read(name, q, store)
        val want = Ivm.recompute(q, base, deltas)
        withClue(s"$name seed=$seed |T|=${tRows.size} |Δ|=${dRows.size}: ") {
          assertSameRows(got, want)
        }
      }
    }
}
