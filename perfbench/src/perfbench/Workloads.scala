package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ivm._
import graft.ivm.AggSpec._

/** A view maintained over a seeded stream of delta batches.
  *
  * Batch `i` inserts `inserts` new rows and retracts exactly the rows batch
  * `i-1` inserted (batch 0 retracts a slice of the base instead), so the
  * live size never changes and every retraction hits a live row. Base
  * tables and batches are pure functions of (workload, seed, batch count):
  * every value is an xxhash64 of the seed and the row's identity, so the
  * same seed gives byte-identical inputs regardless of partitioning or host
  * speed. Inputs are written as parquet before anything is timed; the
  * engine reads them back like any parquet source. */
abstract class Workload(val spark: SparkSession, val seed: Long, val small: Boolean) {
  def name: String
  /** Warm-up refreshes before the steady phase (see perfbench/series). */
  def warmup: Int
  /** Steady refreshes per second of `--seconds`. */
  def steadyPerSecond: Double
  /** Steady refreshes for a run of `seconds`: a pure function of the
    * argument, never of how fast the host is. */
  def steady(seconds: Int): Int = math.max(4, math.round(seconds * steadyPerSecond).toInt)
  def inserts: Int
  def deltaRows: Long = 2L * inserts
  def tables: Seq[String]
  def deltaTable: String
  def genBase(t: String): DataFrame
  /** Every batch's rows, with the delta multiplicity column and `b`. */
  def genBatches(n: Int): DataFrame

  def create(): Unit
  /** Fold batch `i` into the view; returns the changelog rows the first
    * level fed to the next (cascades only, else 0). */
  def refresh(i: Int): Long
  /** Read the view's live rows after batch `i`; returns the row count. */
  def read(i: Int): Long
  /** The maintained view, as a user reads it. */
  def view(): DataFrame
  /** The same view computed with plain Spark over `tbl` (base ⊎ batches). */
  def oracle(tbl: String => DataFrame): DataFrame
  /** Full recompute of the view over base ⊎ applied batches, written to
    * `out` (what a pipeline without IVM pays per batch). */
  def recompute(applied: Int, out: String): Unit
  /** Create the view from scratch over `tbl` in `store`. */
  def createFresh(tbl: String => DataFrame, store: IvmStore): Unit

  protected val MULT: String = IvmCore.MULT
  protected def h(salt: Int, cs: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cs): _*)
  protected def pick(salt: Int, mod: Long, cs: Column*): Column = pick(salt, lit(mod), cs: _*)
  protected def pick(salt: Int, mod: Column, cs: Column*): Column = pmod(h(salt, cs: _*), mod)

  /** Batch index `i`, row `j` in [0, 2·inserts) and whether it inserts,
    * for a range over every batch's rows. */
  protected def batchGrid(n: Int): (Column, Column, Column, DataFrame) = {
    val per = 2L * inserts
    val df = spark.range(0, n * per, 1, math.max(1, spark.sparkContext.defaultParallelism)).toDF()
    (floor(col("id") / per), pmod(col("id"), lit(per)), pmod(col("id"), lit(per)) < inserts, df)
  }

  // ---------------------------------------------------------- per setup

  protected var store: IvmStore = _
  /** Root directory of `store` on disk. */
  var storeDir: String = _
  def attach(st: IvmStore, root: String): Unit = { store = st; storeDir = root }
  private var bases: Map[String, DataFrame] = Map.empty
  private var batches: IndexedSeq[DataFrame] = IndexedSeq.empty
  private var allBatches: DataFrame = _
  /** The batch handed to the engine; the oracle self-test swaps in a
    * corrupted one while the oracle keeps reading the generated files. */
  var feed: Int => DataFrame = i => batches(i)

  def generate(dir: String, n: Int): Unit = {
    tables.foreach(t => genBase(t).write.mode("overwrite").parquet(s"$dir/base/$t"))
    genBatches(n).write.mode("overwrite").partitionBy("b").parquet(s"$dir/batches")
  }

  def open(dir: String, n: Int): Unit = {
    bases = tables.map(t =>
      t -> spark.read.schema(genBase(t).schema).parquet(s"$dir/base/$t")).toMap
    val full = genBatches(1).schema
    val bs = org.apache.spark.sql.types.StructType(full.filterNot(_.name == "b"))
    batches = (0 until n).map(i => spark.read.schema(bs).parquet(s"$dir/batches/b=$i"))
    allBatches = spark.read.schema(full).parquet(s"$dir/batches")
    feed = i => batches(i)
  }

  def base(t: String): DataFrame = bases(t)
  def deltas(i: Int): String => Option[DataFrame] =
    t => if (t == deltaTable) Some(feed(i)) else None
  def applied(n: Int): DataFrame = allBatches.where(col("b") < n).drop("b")

  private val W = "__pb_w"
  /** base ⊎ the first `n` batches, net weight per distinct row. */
  private def weighted(t: String, n: Int): DataFrame = {
    val b = base(t)
    if (t != deltaTable || n == 0) b.groupBy(b.columns.map(col).toSeq: _*).agg(count(lit(1)).as(W))
    else {
      val cols = b.columns.toSeq
      b.withColumn(W, lit(1L)).unionByName(applied(n).select(
        cols.map(col) :+ when(col(MULT), 1L).otherwise(-1L).as(W): _*))
        .groupBy(cols.map(col): _*).agg(sum(W).as(W))
    }
  }

  /** Plain-Spark content of table `t` after `n` batches. */
  def current(t: String, n: Int): DataFrame = {
    val w = weighted(t, n).where(col(W) > 0)
    val cols = base(t).columns.toSeq
    w.withColumn("__pb_rep", explode(array_repeat(lit(1), col(W).cast("int"))))
      .select(cols.map(col): _*)
  }

  /** Rows retracted more often than they were live: 0 for a valid stream. */
  def invalidRetractions(n: Int): Long = weighted(deltaTable, n).where(col(W) < 0).count()

  /** Frames an oracle cached; released when the check ends. */
  protected val pinned = scala.collection.mutable.Buffer.empty[DataFrame]

  /** Rows of view ⊖ oracle plus rows of oracle ⊖ view, as multisets. Both
    * sides are collected (every view here fits the driver) and compared
    * exactly, row by row. */
  def mismatches(n: Int): Long = try {
    val v = view()
    val o = oracle(t => current(t, n))
      .select(v.schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    def bag(df: DataFrame) = df.collect().groupBy(identity).map { case (r, rs) => r -> rs.length.toLong }
    val (bv, bo) = (bag(v), bag(o))
    (bv.keySet ++ bo.keySet).iterator.map(r => math.abs(bv.getOrElse(r, 0L) - bo.getOrElse(r, 0L))).sum
  } finally { pinned.foreach(_.unpersist()); pinned.clear() }

}

object Workload {
  val names = Seq("q13_trickle", "dedup_cascade")
  def apply(name: String, spark: SparkSession, seed: Long, small: Boolean = false): Workload =
    name match {
      case "q13_trickle"   => new Q13Trickle(spark, seed, small)
      case "dedup_cascade" => new DedupCascade(spark, seed, small)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
    }
}

/** TPC-H Q13 (customer ⟕ orders, two-level aggregate) under order
  * trickles: 1,000 orders in and the previous 1,000 out per batch, far
  * below the engine's 65,536-row driver-local cap. */
final class Q13Trickle(spark: SparkSession, seed: Long, small: Boolean)
    extends Workload(spark, seed, small) {
  val name = "q13_trickle"
  val warmup = 16
  val steadyPerSecond = 2.0
  val customers: Long = if (small) 300 else 15000
  val orders: Long = if (small) 3000 else 150000
  val inserts: Int = if (small) 50 else 1000
  val tables = Seq("customer", "orders")
  val deltaTable = "orders"

  val q: IvmQuery = Aggregate(
    Aggregate(
      LeftJoin(
        Project(Scan("customer"), Seq(col("c_custkey").as("custkey"))),
        Project(Scan("orders"), Seq(col("o_custkey").as("custkey"), col("o_orderkey"))),
        Seq("custkey")),
      Seq("custkey"), Seq(Count(col("o_orderkey"), "c_count"))),
    Seq("c_count"), Seq(CountStar("custdist")))

  /** An order row from its key. As in TPC-H, customers whose key is a
    * multiple of 3 never order (they form the c_count = 0 bucket). */
  private def orderRow(k: Column): Seq[Column] = {
    val j = pick(2, customers - customers / 3, k)
    Seq(k.as("o_orderkey"), (j + shiftright(j, 1) + 1).as("o_custkey"),
      (pick(3, 50000000L, k) / 100 + 900).cast("decimal(12,2)").as("o_totalprice"),
      date_add(lit("1992-01-01").cast("date"), pick(4, 2400, k).cast("int")).as("o_orderdate"))
  }

  def genBase(t: String): DataFrame = t match {
    case "customer" =>
      spark.range(1, customers + 1).select(col("id").as("c_custkey"),
        concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
        pick(1, 25, col("id")).cast("int").as("c_nationkey"))
    case "orders" => spark.range(1, orders + 1).select(orderRow(col("id")): _*)
  }

  def genBatches(n: Int): DataFrame = {
    val (i, j, ins, g) = batchGrid(n)
    val b = inserts.toLong
    val key = when(ins, lit(orders) + i * b + j + 1)
      .when(i === 0, j - b + 1)
      .otherwise(lit(orders) + (i - 1) * b + (j - b) + 1)
    g.select(orderRow(key) :+ ins.as(MULT) :+ i.cast("int").as("b"): _*)
  }

  def create(): Unit =
    Ivm.create(name, q, base, store, deltaTables = Set("orders"))
  def refresh(i: Int): Long = { Ivm.refreshState(name, q, base, deltas(i), store); 0L }
  def read(i: Int): Long = Ivm.read(name, q, store).collect().length.toLong
  def view(): DataFrame = Ivm.read(name, q, store)

  def oracle(tbl: String => DataFrame): DataFrame = {
    val c = tbl("customer"); val o = tbl("orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(c("c_custkey")).agg(count(o("o_orderkey")).as("c_count"))
      .groupBy("c_count").agg(count(lit(1)).as("custdist"))
  }

  def recompute(n: Int, out: String): Unit =
    Ivm.recompute(q, base, t => if (t == deltaTable) Some(applied(n)) else None)
      .write.mode("overwrite").parquet(out)

  def createFresh(tbl: String => DataFrame, st: IvmStore): Unit =
    Ivm.create(s"${name}_fresh", q, tbl, st, deltaTables = Set("orders"))
}

/** Two-level MinHash dedup cascade: per-document k=8 signatures (the
  * native MinhashSig expression), then candidate pairs from four LSH band
  * self-joins under a DISTINCT top. Batches add 100 new near-duplicates of
  * base documents and retract the previous batch's 100. */
final class DedupCascade(spark: SparkSession, seed: Long, small: Boolean)
    extends Workload(spark, seed, small) {
  val name = "dedup_cascade"
  val warmup = 10
  val steadyPerSecond = 1.125
  val docs: Long = if (small) 400 else 2000
  val inserts: Int = if (small) 20 else 100
  val vocab = 50000L
  val tables = Seq("documents")
  val deltaTable = "documents"

  val sigQ: IvmQuery = Project(
    Project(
      Filter(Scan("documents"), size(split(col("text"), " ")) >= 3),
      Seq(col("doc_id").cast("long").as("did"),
        graft.functions.MinhashSig.of(spark, col("text")).as("mhs"))),
    col("did") +: (0 until 8).map(i => element_at(col("mhs"), i + 1).as(s"mh$i")))

  val pairsQ: IvmQuery = {
    def side(id: String, b: Int) = Project(Scan("sig"), Seq(col("did").as(id),
      col(s"mh${2 * b}").as("bk1"), col(s"mh${2 * b + 1}").as("bk2")))
    def band(b: Int): IvmQuery = Project(
      Filter(Join(side("a_id", b), side("b_id", b), Seq("bk1", "bk2")),
        col("a_id") < col("b_id")),
      Seq(col("a_id"), col("b_id")))
    IvmQuery.distinct((1 until 4).map(band).foldLeft(band(0))(Union(_, _)),
      Seq("a_id", "b_id"))
  }

  /** A document from its id. Batch documents, and one base document in
    * ten, copy the tokens of another base document with one token changed:
    * near-duplicates whose 3-shingle Jaccard similarity is about 0.8. */
  private def docRow(id: Column): Seq[Column] = {
    val src = when(id > docs, pick(13, docs, id) + 1)
      .when(id > 1 && pick(9, 10, id) === 0, pick(10, docs, id) + 1).otherwise(id)
    val n = pick(1, 21, src) + 20
    val p = pick(11, n, id)
    val text = concat_ws(" ", transform(sequence(lit(0L), n - 1), j =>
      when(src =!= id && j === p, concat(lit("x"), pick(12, vocab, id, j)))
        .otherwise(concat(lit("w"), pick(5, vocab, src, j)))))
    Seq(id.as("doc_id"), text.as("text"))
  }

  def genBase(t: String): DataFrame = spark.range(1, docs + 1).select(docRow(col("id")): _*)

  def genBatches(n: Int): DataFrame = {
    val (i, j, ins, g) = batchGrid(n)
    val b = inserts.toLong
    val id = when(ins, lit(docs) + i * b + j + 1).when(i === 0, j - b + 1)
      .otherwise(lit(docs) + (i - 1) * b + (j - b) + 1)
    g.select(docRow(id) :+ ins.as(MULT) :+ i.cast("int").as("b"): _*)
  }

  private var cascade: Cascade = _
  def create(): Unit = {
    cascade = new Cascade(Seq("sig" -> sigQ, "pairs" -> pairsQ), base, store)
    cascade.create()
  }
  def refresh(i: Int): Long = cascade.refresh(deltas(i)).getOrElse("sig", 0L)
  def read(i: Int): Long = {
    val ids = (1L to inserts).map(docs + i.toLong * inserts + _)
    cascade.read("pairs").where(col("a_id").isin(ids: _*) || col("b_id").isin(ids: _*))
      .collect().length.toLong
  }
  def view(): DataFrame = cascade.read("pairs")

  /** Signatures and band pairs in plain Spark SQL functions (md5 hex
    * slices over 3-token shingles), independent of the engine's native
    * MinhashSig expression. */
  def oracle(tbl: String => DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val sh = tbl("documents").where(size(toks) >= 3)
      .select(col("doc_id").as("did"), toks.as("t"))
      .select(col("did"), transform(sequence(lit(0), size(col("t")) - 3), i =>
        concat_ws(" ", element_at(col("t"), i + 1), element_at(col("t"), i + 2),
          element_at(col("t"), i + 3))).as("sh"))
    val sig = sh.select(col("did") +: (0 until 8).map(s => array_min(transform(col("sh"),
      x => substring(md5(concat(lit(s"${s / 4}|"), x)), 8 * (s % 4) + 1, 8))).as(s"mh$s")): _*)
      .cache()
    pinned += sig
    val pairs = (0 until 4).map { b =>
      val a = sig.select(col("did").as("a_id"), col(s"mh${2 * b}").as("k1"), col(s"mh${2 * b + 1}").as("k2"))
      val c = sig.select(col("did").as("b_id"), col(s"mh${2 * b}").as("k1"), col(s"mh${2 * b + 1}").as("k2"))
      a.join(c, Seq("k1", "k2")).where(col("a_id") < col("b_id")).select("a_id", "b_id")
    }.reduce(_ union _)
    pairs.distinct()
  }

  def recompute(n: Int, out: String): Unit = {
    Ivm.recompute(sigQ, base, t => if (t == deltaTable) Some(applied(n)) else None)
      .write.mode("overwrite").parquet(s"$out/sig")
    val sig = spark.read.parquet(s"$out/sig")
    Ivm.recompute(pairsQ, _ => sig, _ => None).write.mode("overwrite").parquet(s"$out/pairs")
  }

  def createFresh(tbl: String => DataFrame, st: IvmStore): Unit =
    new Cascade(Seq("sig" -> sigQ, "pairs" -> pairsQ), tbl, st).create()
}
