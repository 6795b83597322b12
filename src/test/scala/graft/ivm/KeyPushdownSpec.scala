package graft.ivm

import graft.SparkTestBase
import graft.ivm.AggSpec._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Maintenance soundness of the touched-key scan pruning
  * (ZDelta.currentSide): a batch sequence refreshed with every eligible
  * join-delta current side pruned to the batch's literal-IN key set must
  * leave the view equal to a full recompute, and the run must actually
  * prune (ZDelta.prunes advances). Pruning fires only on walks that cannot
  * trace-record, so the run disables trace replay (`graft.traceReplay=
  * false`): no walk gets a recorder, and every eligible term prunes.
  *
  * Trap batches included deliberately:
  *   - multi-key join (per-key IN conjunction is a superset of the exact
  *     tuple set — must not drop matching rows),
  *   - retraction-only batch (delta weight −1 rows still drive the prune
  *     key set),
  *   - all-NULL-key delta batch (the IN list is empty for that key → the
  *     term folds to empty; NULL never matches an equi-join, so the
  *     recompute agrees).
  */
class KeyPushdownSpec extends AnyFunSuite with SparkTestBase {

  private def mkT(rows: Seq[Row], withMult: Boolean): DataFrame =
    df(if (withMult) s"g STRING, k INT, v INT, ${IvmCore.MULT} BOOLEAN"
       else "g STRING, k INT, v INT", rows)
  private def mkU(rows: Seq[Row], withMult: Boolean): DataFrame =
    df(if (withMult) s"g STRING, k INT, h INT, ${IvmCore.MULT} BOOLEAN"
       else "g STRING, k INT, h INT", rows)

  private val t0 = List(
    Row("a", 1, 10), Row("a", 2, 20), Row("b", 1, 30), Row("b", 2, 40),
    Row("c", 1, 50), Row(null, 1, 60))
  private val u0 = List(
    Row("a", 1, 100), Row("a", 2, 200), Row("b", 1, 300), Row("c", 2, 400),
    Row(null, 1, 500))

  // batch sequence: inserts, a retraction-only batch, an all-NULL-key
  // batch, and a mixed multi-table batch — each alternating table feeds
  private val batches: Seq[(String, Seq[Row])] = Seq(
    "t" -> Seq(Row("a", 1, 11, true), Row("d", 3, 70, true)),
    "u" -> Seq(Row("d", 3, 700, true), Row("a", 1, 100, false)),
    "t" -> Seq(Row("b", 1, 30, false), Row("a", 2, 20, false)), // retractions only
    "t" -> Seq(Row(null, 1, 61, true), Row(null, 2, 62, true)), // all NULL join-g keys
    "u" -> Seq(Row("b", 2, 310, true), Row(null, 2, 510, true)))

  private def mkDelta(tbl: String, rows: Seq[Row]): DataFrame =
    if (tbl == "t") mkT(rows, withMult = true) else mkU(rows, withMult = true)

  private val shapes: Seq[(String, IvmQuery)] = Seq(
    // single-key equi-join under an aggregate (the q113-class shape)
    "agg_1key" -> Aggregate(
      Join(Project(Scan("t"), Seq(col("g"), col("v"))),
        Project(Scan("u"), Seq(col("g"), col("h"))), Seq("g")),
      Seq("g"), Seq(Sum(col("v"), "sv"), Sum(col("h"), "sh"), CountStar("n"))),
    // multi-key join: per-key INs prune a SUPERSET of the touched tuples
    "agg_2key" -> Aggregate(
      Join(Scan("t"), Scan("u"), Seq("g", "k")),
      Seq("g"), Seq(Sum(col("v") + col("h"), "s"), CountStar("n"))),
    // SPJ top (multiset state maintained via mergeTop)
    "spj" -> Join(Project(Scan("t"), Seq(col("g"), col("v"))),
      Project(Scan("u"), Seq(col("g"), col("h"))), Seq("g")),
    // outer join: inner-part terms prune, preserved-side anti terms do not
    "loj" -> LeftJoin(Project(Scan("t"), Seq(col("g"), col("v"))),
      Project(Scan("u"), Seq(col("g"), col("h"))), Seq("g")))

  private def runAll(): Map[String, Map[Row, Int]] = {
    val base: String => DataFrame = {
      case "t" => mkT(t0, withMult = false)
      case "u" => mkU(u0, withMult = false)
    }
    shapes.map { case (name, q) =>
      val store = new MemStore
      Ivm.create(s"kp_$name", q, base, store)
      for ((tbl, rows) <- batches)
        Ivm.refreshState(s"kp_$name", q, base,
          nm => if (nm == tbl) Some(mkDelta(tbl, rows)) else None, store)
      name -> Ivm.read(s"kp_$name", q, store).collect().toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
    }.toMap
  }

  test("key-pruned multi-batch maintenance == recompute, and prunes fire") {
    val before = ZDelta.prunes.get()
    val pruned = withProps(Map("graft.traceReplay" -> "false"))(runAll())
    assert(ZDelta.prunes.get() - before > 0, "no current side was key-pruned")
    // the pruned run agrees with a full recompute over the applied deltas
    val base: String => DataFrame = {
      case "t" => mkT(t0, withMult = false)
      case "u" => mkU(u0, withMult = false)
    }
    val all = batches.groupBy(_._1).view.mapValues(bs =>
      mkDelta(bs.head._1, bs.flatMap(_._2))).toMap
    for ((name, q) <- shapes) {
      val want = Ivm.recompute(q, base, all.get).collect().toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(pruned(name) == want,
        s"$name: pruned=${pruned(name).toSeq.sortBy(_.toString)} " +
          s"recompute=${want.toSeq.sortBy(_.toString)}")
    }
  }
}
