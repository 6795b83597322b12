package graft.ivm

import org.apache.spark.sql.{GraftTemplates, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.WholeStageCodegenExec
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

  test("templates compile without codegen, over local and parquet leaves") {
    val sch = StructType(Seq(StructField("k", IntegerType, nullable = true),
      StructField("v", IntegerType, nullable = true)))
    val dir = java.nio.file.Files.createTempDirectory("tpl-pq").toString
    spark.range(0, 50).select((col("id") % 5).cast("int").as("k"),
      col("id").cast("int").as("w")).write.mode("overwrite").parquet(dir)
    val dim = spark.read.parquet(dir)
    def local(v: Int) = GraftTemplates.taggedLocal(spark, sch,
      rowsOf(Seq(Seq(1, v), Seq(2, v + 1), Seq(1, v + 2))))
    def allLocal(v: Int) = local(v)
      .join(local(10 * v).select(col("k"), col("v").as("v2")), "k")
      .groupBy(col("k")).agg(sum(col("v")).as("s"), sum(col("v2")).as("s2"))
    def withFile(v: Int) = local(v).join(dim, "k")
      .groupBy(col("k")).agg(sum(col("w")).as("s"))
    // 1st sight records, 2nd compiles, 3rd substitutes: results per batch
    Seq(1, 2, 3).foreach { v =>
      val got = GraftTemplates.collect(allLocal(v))
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(got == Seq((1, 4L * v + 4, 40L * v + 4), (2, v + 1L, 10L * v + 1)))
      val gotF = GraftTemplates.collect(withFile(v))
        .map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
      assert(gotF == Seq((1, 470L), (2, 245L)))
    }
    val lt = GraftTemplates.templateOf(allLocal(4))
    assert(lt.isDefined, "no template compiled for the all-local plan")
    assert(lt.get.collect { case w: WholeStageCodegenExec => w }.isEmpty,
      s"all-local template has whole-stage codegen:\n${lt.get}")
    // the local ⋈ local strategy survives the session clone
    assert(lt.get.collect {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }.nonEmpty, lt.get.toString)
    val ft = GraftTemplates.templateOf(withFile(4))
    assert(ft.isDefined, "no template compiled for the parquet-leaf plan")
    assert(ft.get.collect { case w: WholeStageCodegenExec => w }.isEmpty,
      s"parquet-leaf template has whole-stage codegen:\n${ft.get}")
  }
}
