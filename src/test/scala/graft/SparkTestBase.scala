package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.{BeforeAndAfterAll, Suite}

import graft.ivm.MemStore

/** One shared local session for all suites. */
object SparkTestBase {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()
}

trait SparkTestBase extends BeforeAndAfterAll { this: Suite =>
  /** MemStore's size-class memos are process-global and keyed by state
    * name: a state classified big by one suite would change another
    * suite's fast-path counts. Each suite starts from no memos. */
  override protected def beforeAll(): Unit = {
    MemStore.clearSizeMemos()
    super.beforeAll()
  }

  lazy val spark: SparkSession = {
    val s = SparkTestBase.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `f` with the given system properties set, restoring the previous
    * values afterwards. */
  def withProps[A](props: Map[String, String])(f: => A): A = {
    val old = props.keys.map(k => k -> sys.props.get(k)).toMap
    props.foreach { case (k, v) => sys.props(k) = v }
    try f
    finally old.foreach {
      case (k, Some(v)) => sys.props(k) = v
      case (k, None)    => sys.props.remove(k)
    }
  }

  def df(schemaDDL: String, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2),
      StructType.fromDDL(schemaDDL))

  /** Set-compare two DataFrames (the reference goldens are set-compared by
    * DuckDB's sqllogictest harness too). */
  def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    val g = got.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val w = want.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
    assert(g == w, s"\ngot:  ${g.toSeq.sortBy(_.toString)}\nwant: ${w.toSeq.sortBy(_.toString)}")
  }

  def assertRows(got: DataFrame, want: Set[Seq[Any]]): Unit = {
    val g = got.collect().map(_.toSeq.map(normalize)).toSet
    val w = want.map(_.map(normalize))
    assert(g == w, s"\ngot:  ${g.toSeq.sortBy(_.toString())}\nwant: ${w.toSeq.sortBy(_.toString())}")
  }

  private def normalize(v: Any): Any = v match {
    case l: Long                 => BigDecimal(l)
    case i: Int                  => BigDecimal(i)
    case d: Double               => BigDecimal(d)
    case b: java.math.BigDecimal => BigDecimal(b)
    case b: BigDecimal           => b
    case other                   => other
  }
}
