package graft.ivm

import org.apache.spark.sql.{GraftTemplates, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Pins the soundness contract of the compiled delta-plan template cache:
  * substitution must only ever inject rows into leaves that still hold the
  * param's VERBATIM rows. Regression for the PruneFilters fold: a
  * statically-false predicate (isnull over a non-nullable column) used to
  * collapse σ(false)(param) into an empty LocalRelation that KEPT the
  * param's pid attrs — substitution then bypassed the folded filter and
  * produced wrong NOT IN deltas (q58).
  */
class TemplateSpec extends AnyFunSuite with SparkTestBase {

  private def rowsOf(vals: Seq[Seq[Any]]): Seq[InternalRow] =
    vals.map(v => new GenericInternalRow(v.map {
      case s: String => UTF8String.fromString(s)
      case o         => o
    }.toArray))

  test("statically-false filter over a param stays a filter in the template") {
    val nn = StructType(Seq(StructField("a", IntegerType, nullable = false),
      StructField("b", IntegerType, nullable = false)))
    def run(rows: Seq[InternalRow]): Seq[Row] = {
      val p = GraftTemplates.taggedLocal(spark, nn, rows)
      // isnull(a) is statically false: the branch must contribute nothing
      // for EVERY batch, also through a cached template
      val q = p.where(isnull(col("a"))).select(sum(col("b")).as("s"))
      val out = GraftTemplates.collect(q)
      out.map(r =>
        Row(if (r.isNullAt(0)) null else r.getLong(0))).toSeq
    }
    // 1st sight records, 2nd compiles the template, 3rd substitutes into it
    val b1 = run(rowsOf(Seq(Seq(1, 10), Seq(2, 20))))
    val b2 = run(rowsOf(Seq(Seq(3, 30), Seq(4, 40), Seq(5, 50))))
    val b3 = run(rowsOf(Seq(Seq(6, 60))))
    assert(b1 == Seq(Row(null)), s"first batch leaked rows: $b1")
    assert(b2 == Seq(Row(null)), s"build batch leaked rows: $b2")
    assert(b3 == Seq(Row(null)), s"substituted batch leaked rows: $b3")
  }

  test("template substitution returns per-batch results, not build rows") {
    val sch = StructType(Seq(StructField("k", IntegerType, nullable = true),
      StructField("v", IntegerType, nullable = true)))
    def total(rows: Seq[InternalRow]): Long = {
      val p = GraftTemplates.taggedLocal(spark, sch, rows)
      val q = p.groupBy(col("k")).agg(sum(col("v")).as("s"))
        .agg(sum(col("s")).as("t"))
      GraftTemplates.collect(q).head.getLong(0)
    }
    assert(total(rowsOf(Seq(Seq(1, 5), Seq(1, 7), Seq(2, 1)))) == 13L)
    assert(total(rowsOf(Seq(Seq(9, 100)))) == 100L)
    assert(total(rowsOf(Seq(Seq(1, 1), Seq(2, 2), Seq(3, 3)))) == 6L)
    assert(total(rowsOf(Seq(Seq(7, 70), Seq(8, -70)))) == 0L)
  }

  test("concurrent runs of one compiled template count every hit") {
    val sch = StructType(Seq(StructField("k", IntegerType, nullable = true),
      StructField("v", IntegerType, nullable = true)))
    def total(v: Int): Long = {
      val p = GraftTemplates.taggedLocal(spark, sch, rowsOf(Seq(Seq(1, v))))
      GraftTemplates.collect(p.agg(sum(col("v")))).head.getLong(0)
    }
    // 1st sight records the structure, 2nd compiles it: later runs all hit
    assert(total(1) == 1L && total(2) == 2L)
    val (threads, runs) = (8, 50)
    val hits0 = GraftTemplates.hits
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = (0 until threads).map(t => pool.submit(
        new java.util.concurrent.Callable[Seq[Long]] {
          override def call(): Seq[Long] = {
            start.await()
            (0 until runs).map(i => total(t * runs + i))
          }
        }))
      start.countDown()
      fs.zipWithIndex.foreach { case (f, t) =>
        assert(f.get() == (0 until runs).map(i => (t * runs + i).toLong))
      }
    } finally pool.shutdown()
    assert(GraftTemplates.hits - hits0 == threads * runs)
  }
}
