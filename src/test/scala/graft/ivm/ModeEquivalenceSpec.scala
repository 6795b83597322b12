package graft.ivm

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, GraftTemplates, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every surviving engine knob is a pure performance choice: the
  * [[IvmPropertySpec]] shapes, maintained over several batches, must equal
  * [[Ivm.recompute]] after each batch with the engine defaults and with
  * each knob flipped on its own. The default run must also take every
  * fast path — trace replay, a plan-template hit, a driver-inline run and
  * a touched-key prune — so its pass is not vacuous.
  */
class ModeEquivalenceSpec extends AnyFunSuite with SparkTestBase {
  import IvmPropertySpec._

  // the first batch records each traceable refresh walk, the second replays it
  private val Batches = 2

  private def mkDf(rows: Seq[Row], withMult: Boolean): DataFrame =
    df(rowDdl(withMult), rows)

  /** Base rows after a batch: inserts appended, each delete removes one
    * occurrence of its row. */
  private def applied(rows: List[Row], delta: List[Row]): List[Row] = {
    val (ins, del) = delta.partition(_.getBoolean(3))
    def plain(r: Row) = Row(r(0), r(1), r(2))
    del.map(plain).foldLeft(rows) { (acc, r) =>
      val i = acc.indexOf(r)
      require(i >= 0, s"delete of absent row $r")
      acc.patch(i, Nil, 1)
    } ++ ins.map(plain)
  }

  /** Create each shape, then refresh it over [[Batches]] generated
    * batches; after each batch the view must equal a recompute from the
    * pre-batch tables. */
  private def maintainShapes(): Unit = {
    val seed = 1 + SeedBase
    for ((name, q) <- shapes) {
      val twoSided = name.endsWith("_2side")
      def tables(t: List[Row], u: List[Row]): String => DataFrame = {
        val (tDf, uDf) = (mkDf(t, withMult = false),
          mkDf(u, withMult = false).select(col("g"), col("h")))
        n => if (n == "t") tDf else uDf
      }
      var tRows = sample(genTable, seed * 7919L)
      var uRows = sample(genTable, seed * 104729L)
      val base0 = tables(tRows, uRows)
      val store = new MemStore
      Ivm.create(name, q, base0, store)
      for (b <- 1 to Batches) {
        val dT = sample(genDelta(tRows), seed * 1299709L + b)
        val dU =
          if (twoSided) sample(genDelta(uRows), seed * 15485863L + b) else Nil
        val dTDf = mkDf(dT, withMult = true)
        val dUDf = mkDf(dU, withMult = true)
          .select(col("g"), col("h"), col(IvmCore.MULT))
        val deltas: String => Option[DataFrame] = {
          case "t"             => Some(dTDf)
          case "u" if twoSided => Some(dUDf)
          case _               => None
        }
        Ivm.refresh(name, q, base0, deltas, store)
        withClue(s"$name batch=$b seed=$seed: ") {
          assertSameRows(Ivm.read(name, q, store),
            Ivm.recompute(q, tables(tRows, uRows), deltas))
        }
        tRows = applied(tRows, dT)
        uRows = applied(uRows, dU)
      }
    }
  }

  test(s"defaults: refresh == recompute over $Batches batches, every fast path fires") {
    val replays0 = Ivm.traceReplays
    val hits0 = GraftTemplates.hits
    val inline0 = GraftTemplates.inlineRuns.get()
    val prunes0 = ZDelta.prunes.get()
    maintainShapes()
    assert(Ivm.traceReplays > replays0, "no refresh trace-replayed")
    assert(GraftTemplates.hits > hits0, "no plan-template hit")
    assert(GraftTemplates.inlineRuns.get() > inline0, "no driver-inline run")
    assert(ZDelta.prunes.get() > prunes0, "no current side was key-pruned")
  }

  // `pinMode` only decides how the DISTRIBUTED path pins (small batches
  // collect to the driver in either mode), so its flip also forces that path.
  private val flips: Seq[Map[String, String]] = Seq(
    Map("graft.traceReplay" -> "false"),
    Map("graft.localBatchRows" -> "0"),
    Map("graft.pinMode" -> "reliable", "graft.localBatchRows" -> "0"))

  for (props <- flips)
    test(s"${props.map { case (k, v) => s"$k=$v" }.mkString(" ")}: " +
        s"refresh == recompute over $Batches batches") {
      if (props.contains("graft.pinMode") &&
          spark.sparkContext.getCheckpointDir.isEmpty)
        spark.sparkContext.setCheckpointDir(
          java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
      withProps(props)(maintainShapes())
    }
}
