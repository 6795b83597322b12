package graft.ivm

import graft.SparkTestBase
import graft.ivm.AggSpec._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pin-mode equivalence: the refresh result must not depend on HOW
  * O(touched) intermediates are pinned. `reliable` is the cluster-churn
  * mode — pins go through Spark's fault-tolerant checkpoint (blocks in the
  * checkpoint dir survive executor loss), at the cost of a distributed
  * write per pin. */
class PinModeSpec extends AnyFunSuite with SparkTestBase {

  private val M = IvmCore.MULT

  private def run(): DataFrame = {
    val store = new MemStore
    val t = df("g STRING, v INT",
      Seq(Row("a", 1), Row("a", 2), Row("b", 5), Row(null, 9)))
    val u = df("g STRING, h INT", Seq(Row("a", 10), Row("b", 20), Row("b", 21)))
    val base: String => DataFrame = { case "t" => t; case "u" => u }
    // join + MIN/MAX aux: exercises several pin sites per refresh
    val q = Aggregate(
      Join(Project(Scan("t"), Seq(col("g"), col("v"))), Scan("u"), Seq("g")),
      Seq("g"), Seq(Sum(col("v"), "sv"), Min(col("v"), "mn"),
        Max(col("h"), "mx"), CountStar("n")))
    Ivm.create("pv", q, base, store)
    val d1 = df(s"g STRING, v INT, $M BOOLEAN",
      Seq(Row("a", 7, true), Row("a", 1, false), Row("c", 3, true)))
    Ivm.refreshState("pv", q, base,
      nm => if (nm == "t") Some(d1) else None, store)
    val d2 = df(s"g STRING, h INT, $M BOOLEAN",
      Seq(Row("b", 20, false), Row("c", 30, true)))
    Ivm.refreshState("pv", q, base,
      nm => if (nm == "u") Some(d2) else None, store)
    Ivm.read("pv", q, store)
  }

  test("pinMode=reliable == default mode (checkpointed pins)") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(ckpt)
    val want = run().collect().toSeq.sortBy(_.toString)
    // force the checkpoint path: disable the small-batch local pins too
    withProps(Map("graft.pinMode" -> "reliable", "graft.localBatchRows" -> "0")) {
      val got = run().collect().toSeq.sortBy(_.toString)
      assert(got == want, s"\ngot:  $got\nwant: $want")
    }
    // checkpoint files actually landed (the durable blocks exist)
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(files > 0, "reliable pins wrote nothing to the checkpoint dir")
  }

}
