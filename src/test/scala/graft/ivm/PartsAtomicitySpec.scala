package graft.ivm

import graft.SparkTestBase
import graft.ivm.AggSpec._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A [[ScalarDeco]] view creates its parts (child + scalar subviews) as
  * independent trees. When one part fails, the create must fail as a
  * whole: no sibling part may still be running once the failure surfaces,
  * and a transactional store must publish nothing of the view. */
class PartsAtomicitySpec extends AnyFunSuite with SparkTestBase {

  // child keyed aggregate over t, one scalar subview over u
  private val q = ScalarDeco(
    Aggregate(Scan("t"), Seq("g"), Seq(Sum(col("v"), "sv"), CountStar("n"))),
    Seq(Aggregate(Scan("u"), Seq.empty, Seq(Sum(col("h"), "__ivm_sq0")))),
    Seq(col("g"), col("sv"), col("__ivm_sq0")))

  private def t = df("g STRING, v INT", Seq(Row("a", 1), Row("b", 2)))
  private def u = df("h INT", Seq(Row(10), Row(20)))

  /** Set once the child part reads its table. */
  private val childStarted = new java.util.concurrent.atomic.AtomicBoolean

  /** The subview's table throws at once; the child's table arrives late,
    * so a child part that outlives the failure writes after it. */
  private val failingBase: String => DataFrame = {
    case "t" => childStarted.set(true); Thread.sleep(500); t
    case "u" => throw new IllegalStateException("injected base failure")
  }
  private val goodBase: String => DataFrame = {
    case "t" => t
    case "u" => u
  }

  private def traces(store: IvmStore, view: String): Seq[String] =
    Seq(s"$view/r", s"$view/q0/r").filter(store.get(_).isDefined) ++
      Seq(s"$view/_delta_tables").filter(store.getTag(_).isDefined)

  test("failed ScalarDeco create on ParquetStore publishes no state or tag") {
    val root = java.nio.file.Files.createTempDirectory("ivm-parts").toString
    val store = new ParquetStore(spark, root)
    childStarted.set(false)
    val e = intercept[IllegalStateException] {
      Ivm.create("fa", q, failingBase, store, deltaTables = Set("t", "u"))
    }
    assert(e.getMessage.contains("injected"))
    // a child part that outlived the failure publishes seconds later (its
    // first Spark write): give it the time to show up
    val deadline = System.nanoTime() + 30000000000L
    while (childStarted.get() && System.nanoTime() < deadline &&
        traces(store, "fa").isEmpty)
      Thread.sleep(100)
    assert(traces(store, "fa").isEmpty)
    assert(traces(new ParquetStore(spark, root), "fa").isEmpty,
      "a store reopened from disk sees part of the failed create")
    // the store stays usable: the same create succeeds on good input
    Ivm.create("fa", q, goodBase, store, deltaTables = Set("t", "u"))
    assertRows(Ivm.read("fa", q, store), Set(Seq("a", 1, 30), Seq("b", 2, 30)))
  }

  test("failed parallel ScalarDeco create returns only after every part ends") {
    val store = new MemStore // concurrentParts: parts create in parallel
    intercept[IllegalStateException] {
      Ivm.create("fm", q, failingBase, store)
    }
    // the slow child part ran to completion before the failure surfaced
    assert(store.get("fm/r").isDefined, "child part outlived the failed create")
  }
}
