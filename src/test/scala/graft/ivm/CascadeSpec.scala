package graft.ivm

import graft.SparkTestBase
import graft.ivm.AggSpec._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Views over views: each level refreshes from the upstream level's own
  * output changelog; the chain must equal a full recompute of the
  * composition after every batch. */
class CascadeSpec extends AnyFunSuite with SparkTestBase {

  private def baseFor(rows: DataFrame): String => DataFrame = {
    case "t" => rows
  }

  /** Recompute the two-level composition from scratch over applied rows. */
  private def recompute2(applied: DataFrame,
      up: IvmQuery, down: IvmQuery): DataFrame = {
    val upOut = Eval.eval(up, { case "t" => applied })
    Eval.eval(down, { case "up" => upOut })
  }

  private val up = Aggregate(Scan("t"), Seq("g", "h"),
    Seq(CountStar("cnt"), Sum(col("v"), "sv")))
  private val down = Aggregate(Scan("up"), Seq("g"),
    Seq(Sum(col("cnt"), "total"), Max(col("cnt"), "max_cnt"),
      CountStar("groups")))

  test("two-level aggregate cascade: refresh == recompute across batches with deletes") {
    val t0 = df("g STRING, h STRING, v INT", Seq(
      Row("a", "x", 1), Row("a", "x", 2), Row("a", "y", 3),
      Row("b", "x", 10), Row("b", "y", 20)))
    val c = new Cascade(Seq("up" -> up, "down" -> down), baseFor(t0),
      new MemStore)
    c.create()

    val batches = Seq(
      // grow an existing (a,x) group, birth (c,z)
      Seq(Row("a", "x", 5, true), Row("c", "z", 7, true)),
      // kill (a,y) entirely — upstream group dies, downstream max/count
      // must fall back (exercises retraction flow through the changelog)
      Seq(Row("a", "y", 3, false)),
      // kill ALL of b — the downstream 'b' row itself must die
      Seq(Row("b", "x", 10, false), Row("b", "y", 20, false)))

    var applied = t0
    batches.foreach { b =>
      val d = df(s"g STRING, h STRING, v INT, ${IvmCore.MULT} BOOLEAN", b)
      c.refresh { case "t" => Some(d); case _ => None }
      applied = applied.unionByName(d.where(col(IvmCore.MULT))
          .drop(IvmCore.MULT))
        .exceptAll(d.where(!col(IvmCore.MULT)).drop(IvmCore.MULT))
      assertSameRows(c.read("up"), Eval.eval(up, { case "t" => applied }))
      assertSameRows(c.read("down"), recompute2(applied, up, down))
    }
    // end state spot-check: a has groups {x:3 rows}, c has {z:1}
    assertRows(c.read("down"), Set(
      Seq("a", 3L, 3L, 1L), Seq("c", 1L, 1L, 1L)))
  }

  test("downstream JOIN of an upstream view with a base table (frozen-base contract)") {
    val t0 = df("g STRING, h STRING, v INT", Seq(
      Row("a", "x", 1), Row("a", "y", 2), Row("b", "x", 10)))
    val dim = df("g STRING, label STRING", Seq(
      Row("a", "alpha"), Row("b", "beta"), Row("c", "gamma")))
    val base: String => DataFrame = { case "t" => t0; case "dim" => dim }
    val downJ = Aggregate(
      Join(Scan("up"), Scan("dim"), Seq("g")), Seq("label"),
      Seq(Sum(col("cnt"), "total"), CountStar("n")))
    val store = new ParquetStore(spark,
      Files.createTempDirectory("cascade-j").toString,
      buckets = 4, smallStateBytes = 0, maxChain = 2)
    val c = new Cascade(Seq("up" -> up, "down" -> downJ), base, store)
    c.create()

    val batches = Seq(
      Seq(Row("c", "z", 7, true), Row("c", "z", 8, true)), // birth c (2 rows)
      Seq(Row("a", "y", 2, false)))                        // kill (a,y)
    var applied = t0
    batches.foreach { b =>
      val d = df(s"g STRING, h STRING, v INT, ${IvmCore.MULT} BOOLEAN", b)
      c.refresh { case "t" => Some(d); case _ => None }
      applied = applied.unionByName(d.where(col(IvmCore.MULT))
          .drop(IvmCore.MULT))
        .exceptAll(d.where(!col(IvmCore.MULT)).drop(IvmCore.MULT))
      val upOut = Eval.eval(up, { case "t" => applied })
      assertSameRows(c.read("down"),
        Eval.eval(downJ, { case "up" => upOut; case "dim" => dim }))
    }
    // applied: a:{x:1}, b:{x:10}, c:{z:7, z:8} → up cnt per g: a=1, b=1,
    // c=2 (one (c,z) group with cnt 2)
    assertRows(c.read("down"), Set(
      Seq("alpha", 1L, 1L), Seq("beta", 1L, 1L), Seq("gamma", 2L, 1L)))
  }

  test("three-level chain: changelogs shrink through aggregation") {
    // t → per-(g,h) counts → per-g totals → global summary
    val top = Aggregate(Scan("down"), Seq.empty,
      Seq(Sum(col("total"), "grand"), CountStar("keys")))
    val t0 = df("g STRING, h STRING, v INT", Seq(
      Row("a", "x", 1), Row("b", "x", 2)))
    val c = new Cascade(
      Seq("up" -> up, "down" -> down, "top" -> top), baseFor(t0),
      new MemStore)
    c.create()
    val d = df(s"g STRING, h STRING, v INT, ${IvmCore.MULT} BOOLEAN", Seq(
      Row("a", "y", 3, true), Row("b", "x", 2, false)))
    c.refresh { case "t" => Some(d); case _ => None }
    // applied: a:{x:1, y:3}, b gone → down: a→(2,1,2? ) recompute by hand:
    // up rows: (a,x,1,1),(a,y,1,3) → down: (a, total=2, max=1, groups=2)
    // top: grand=2, keys=1
    assertRows(c.read("top"), Set(Seq(2L, 1L)))
  }

  test("applyBatch: a streaming source maintains the whole chain per micro-batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    val t0 = Seq(("a", "x", 1), ("b", "x", 2)).toDF("g", "h", "v")
    val store = new ParquetStore(s,
      Files.createTempDirectory("cascade-s").toString,
      buckets = 4, smallStateBytes = 0, maxChain = 2)
    val c = new Cascade(Seq("up" -> up, "down" -> down), baseFor(t0), store)
    c.create()

    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (String, String, Int, Boolean)]
    val query = mem.toDF()
      .toDF("g", "h", "v", IvmCore.MULT).writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("cascade-ckpt").toString)
      .foreachBatch(c.applyBatch("t") _)
      .start()
    mem.addData(("a", "y", 3, true), ("c", "z", 7, true))
    query.processAllAvailable()
    mem.addData(("b", "x", 2, false)) // b dies in up AND down
    query.processAllAvailable()
    query.stop()

    assertRows(c.read("down"), Set(
      Seq("a", 2L, 1L, 2L), Seq("c", 1L, 1L, 1L)))
  }

  test("soak: 6 alternating batches on the LSM parquet store stay equal to recompute") {
    val t0 = df("g STRING, h STRING, v INT",
      (0 until 40).map(i => Row(s"g${i % 5}", s"h${i % 7}", i)))
    val store = new ParquetStore(spark,
      Files.createTempDirectory("cascade-soak").toString,
      buckets = 4, smallStateBytes = 0, maxChain = 2)
    val c = new Cascade(Seq("up" -> up, "down" -> down), baseFor(t0), store)
    c.create()
    var applied = t0
    // deterministic alternating churn: odd batches delete what even ones
    // inserted, plus fresh inserts — state chains compact mid-soak
    (0 until 6).foreach { i =>
      val rows =
        if (i % 2 == 0)
          (0 until 6).map(j => Row(s"g${(i + j) % 6}", s"hx$i", 100 + j, true))
        else
          (0 until 6).map(j => Row(s"g${(i - 1 + j) % 6}", s"hx${i - 1}",
            100 + j, false)) :+ Row(s"g9", s"h9", i, true)
      val d = df(s"g STRING, h STRING, v INT, ${IvmCore.MULT} BOOLEAN", rows)
      c.refresh { case "t" => Some(d); case _ => None }
      applied = applied.unionByName(d.where(col(IvmCore.MULT))
          .drop(IvmCore.MULT))
        .exceptAll(d.where(!col(IvmCore.MULT)).drop(IvmCore.MULT))
      assertSameRows(c.read("down"), recompute2(applied, up, down))
    }
  }

  test("fromSql: the downstream IMMV selects FROM the upstream IMMV") {
    val t0 = df("g STRING, h STRING, v INT", Seq(
      Row("a", "x", 1), Row("a", "y", 2), Row("b", "x", 10)))
    val c = Cascade.fromSql(spark, Seq(
      """CREATE IMMV sql_up AS
         SELECT g, h, COUNT(*) AS cnt, SUM(v) AS sv FROM t GROUP BY g, h""",
      """CREATE IMMV sql_down AS
         SELECT g, SUM(sv) AS total, MAX(cnt) AS peak FROM sql_up GROUP BY g"""),
      baseFor(t0), new MemStore)
    c.create()
    val d = df(s"g STRING, h STRING, v INT, ${IvmCore.MULT} BOOLEAN", Seq(
      Row("a", "x", 4, true), Row("b", "x", 10, false)))
    val fed = c.refresh { case "t" => Some(d); case _ => None }
    assert(fed("sql_up") > 0)
    // applied: a:{x:(2 rows, sv 5), y:(1, 2)}; b gone
    assertRows(c.read("sql_down"), Set(Seq("a", 7L, 2L)))
  }

  test("level ordering and duplicate names are rejected") {
    intercept[IllegalArgumentException] {
      new Cascade(Seq("a" -> up, "a" -> down), baseFor(null), new MemStore)
    }
    intercept[IllegalArgumentException] {
      // "down" scans "up" which is declared LATER
      new Cascade(Seq("down" -> Aggregate(Scan("up"), Seq("g"),
        Seq(CountStar("n"))), "up" -> up), baseFor(null), new MemStore)
    }
  }

  // ---- training-data dedup: MinHash signatures → 4-band LSH pairs ----

  private lazy val sigQ: IvmQuery = Project(
    Project(
      Filter(Scan("documents"), size(split(col("text"), " ")) >= 3),
      Seq(col("doc_id").cast("long").as("did"),
        graft.functions.MinhashSig.of(spark, col("text")).as("mhs"))),
    col("did") +: (0 until 8).map(i => element_at(col("mhs"), i + 1).as(s"mh$i")))

  private val pairsQ: IvmQuery = {
    def side(id: String, b: Int) = Project(Scan("sig"), Seq(col("did").as(id),
      col(s"mh${2 * b}").as("bk1"), col(s"mh${2 * b + 1}").as("bk2")))
    def band(b: Int): IvmQuery = Project(
      Filter(Join(side("a_id", b), side("b_id", b), Seq("bk1", "bk2")),
        col("a_id") < col("b_id")),
      Seq(col("a_id"), col("b_id")))
    IvmQuery.distinct((1 until 4).map(band).foldLeft(band(0))(Union(_, _)),
      Seq("a_id", "b_id"))
  }

  /** Document `id`: 12 tokens; a near-duplicate of `src` copies its tokens
    * with the token at position id % 12 changed. */
  private def doc(id: Int, src: Int): Row = {
    val toks = (0 until 12).map(j =>
      if (src != id && j == id % 12) s"x$id" else s"w${(src * 31 + j * 7) % 500}")
    Row(id, toks.mkString(" "))
  }

  private val docSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id INT, text STRING")

  private def localDf(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** 60 base documents (every fifth a near-duplicate of the one before),
    * written as parquet so the store sizes the cascade's states by
    * Catalyst's estimate, as for any file-backed base table. */
  private def dedupCascade(): (Cascade, ParquetStore, Seq[Row]) = {
    val base = (1 to 60).map(i => if (i % 5 == 0) doc(i, i - 1) else doc(i, i))
    val dir = Files.createTempDirectory("cascade-docs").toString
    localDf(base, docSchema).write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    val store = new ParquetStore(spark,
      Files.createTempDirectory("cascade-dedup").toString)
    val c = new Cascade(Seq("sig" -> sigQ, "pairs" -> pairsQ),
      { case "documents" => docs }, store)
    c.create()
    (c, store, base)
  }

  /** Batch `i`: five near-duplicates of base documents in, batch i-1's
    * five out. */
  private def dedupBatch(i: Int): Seq[Row] = {
    def ins(b: Int) = (1 to 5).map(j => doc(100 + 5 * b + j, (7 * b + 11 * j) % 60 + 1))
    (ins(i).map(r => Row(r.getInt(0), r.getString(1), true)) ++
      (if (i == 0) Nil else ins(i - 1).map(r => Row(r.getInt(0), r.getString(1), false))))
  }

  private val deltaSchema = docSchema.add(IvmCore.MULT, "boolean")

  test("LSH dedup cascade on a default ParquetStore: driver-resident snapshot, refresh == recompute, replays fire") {
    val (c, store, base) = dedupCascade()
    assert(IvmCore.localLeaf(store("sig/_cascade_frozen")).isDefined,
      "the frozen sig snapshot is not driver-resident after create")
    var applied = base
    val replays0 = Ivm.traceReplays
    (0 until 5).foreach { i =>
      val b = dedupBatch(i)
      c.refresh { case "documents" => Some(localDf(b, deltaSchema)); case _ => None }
      val gone = b.filterNot(_.getBoolean(2)).map(_.getInt(0)).toSet
      applied = applied.filterNot(r => gone(r.getInt(0))) ++
        b.filter(_.getBoolean(2)).map(r => Row(r.getInt(0), r.getString(1)))
      val docs = localDf(applied, docSchema)
      val sig = Eval.eval(sigQ, { case "documents" => docs })
      assertSameRows(c.read("sig"), sig)
      assertSameRows(c.read("pairs"), Eval.eval(pairsQ, { case "sig" => sig }))
    }
    assert(c.read("pairs").count() > 0, "no candidate pairs: the test data is degenerate")
    assert(Ivm.traceReplays > replays0, "no trace replay fired")
  }

  test("steady LSH dedup cascade refreshes compile no generated code") {
    val (c, _, _) = dedupCascade()
    def refresh(i: Int): Unit = c.refresh {
      case "documents" => Some(localDf(dedupBatch(i), deltaSchema)); case _ => None
    }
    (0 until 4).foreach(refresh) // warm-up: templates compile, tapes record
    val compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    val before = compiles.getCount
    (4 until 7).foreach(refresh)
    val n = compiles.getCount - before
    assert(n == 0, s"$n classes compiled in 3 steady refreshes")
  }
}
