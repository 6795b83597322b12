package graft.ivm

import org.apache.spark.sql.{DataFrame, GraftTemplates, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** De-risks the driver-inline execution path
  * ([[org.apache.spark.sql.GraftTemplates]] `driverCollect`) on a
  * Q13-shaped view: after every batch of a multi-batch refresh the view
  * must equal [[Ivm.recompute]] over the pre-batch tables, and the run
  * must prove the path ENGAGES (`inlineRuns` advances), otherwise the
  * equality says nothing about it.
  *
  * SEQUENTIAL-EXECUTION ASSUMPTION: the assertion reads the process-global
  * `GraftTemplates.inlineRuns` counter as a before/after delta — sound
  * only because the build runs suites sequentially in one forked JVM
  * (build.sbt). */
class DriverExecSpec extends AnyFunSuite with SparkTestBase {

  private val view: IvmQuery = Aggregate(
    Aggregate(
      LeftJoin(
        Project(Scan("cust"), Seq(col("ck"))),
        Project(Scan("ord"), Seq(col("ck"), col("ok"))),
        Seq("ck")),
      Seq("ck"), Seq(AggSpec.Count(col("ok"), "c_count"))),
    Seq("c_count"), Seq(AggSpec.CountStar("custdist")))

  private def custDf: DataFrame =
    df("ck INT", (1 to 40).map(Row(_)))

  private def ordDf(rows: Seq[Row]): DataFrame = df("ck INT, ok INT", rows)

  private val batches: Seq[Seq[(Boolean, Int, Int)]] = Seq(
    Seq((true, 1, 101), (true, 1, 102), (true, 2, 201)),
    Seq((true, 3, 301), (false, 1, 101)),
    Seq((false, 1, 102), (false, 2, 201)),
    Seq((true, 4, 401), (true, 4, 402), (true, 4, 403)),
    Seq((false, 3, 301), (true, 5, 501)))

  private def deltaDf(b: Seq[(Boolean, Int, Int)]): DataFrame =
    df(s"ck INT, ok INT, `${IvmCore.MULT}` BOOLEAN",
      b.map { case (p, c, o) => Row(c, o, p) })

  private def tables(ord: DataFrame): String => DataFrame = {
    case "cust" => custDf
    case "ord"  => ord
  }

  test("refresh == recompute after every batch; driver-inline runs fire") {
    val before = GraftTemplates.inlineRuns.get()
    val store = new MemStore
    val base = tables(ordDf(Seq.empty))
    Ivm.create("v", view, base, store, deltaTables = Set("ord"))
    var ord = Vector.empty[Row]
    for ((b, i) <- batches.zipWithIndex) {
      val deltas: String => Option[DataFrame] = {
        case "ord" => Some(deltaDf(b))
        case _     => None
      }
      Ivm.refreshState("v", view, base, deltas, store)
      withClue(s"batch ${i + 1}: ") {
        assertSameRows(Ivm.read("v", view, store),
          Ivm.recompute(view, tables(ordDf(ord)), deltas))
      }
      val (ins, del) = b.partition(_._1)
      ord = ord.diff(del.map { case (_, c, o) => Row(c, o) }) ++
        ins.map { case (_, c, o) => Row(c, o) }
    }
    assert(GraftTemplates.inlineRuns.get() > before,
      "driver-inline exec never engaged — the equality would be vacuous")
  }
}
