package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.ivm.{IvmCore, IvmStore, ParquetStore}

/** Checks of the benchmark's own instruments (`run.py --selftest`):
  *
  *   1. [[TracingStore]] overrides and forwards every [[IvmStore]] method,
  *      `transaction`, `readSnapshot`, `putKeyed` and `slice` included;
  *   2. on small inputs every workload's view equals its oracle after a
  *      clean stream, and the q13 oracle reports a batch corrupted on its
  *      way to the engine. */
object SelfTest {
  private def say(s: String): Unit = println(s"# selftest: $s")

  /** Records the calls that reach it. */
  private final class Recording(tag: String, log: mutable.Buffer[String]) extends IvmStore {
    var inTxn = false
    private def rec(m: String): Unit = log += s"$tag.$m"
    override def get(name: String): Option[DataFrame] = { rec("get"); None }
    override def put(name: String, df: DataFrame): Unit = rec("put")
    override def putKeyed(name: String, df: DataFrame, k: Seq[String]): Unit = rec("putKeyed")
    override def slice(name: String, keyDf: DataFrame, k: Seq[String]): DataFrame = { rec("slice"); null }
    override def merge(name: String, updated: DataFrame, mergeKeys: Seq[String], alive: Column,
        bucketKeys: Seq[String], keyHint: DataFrame): Unit = rec("merge")
    override def transaction[A](body: => A): A = {
      rec("transaction"); inTxn = true
      try body finally inTxn = false
    }
    override def readSnapshot(): IvmStore = { rec("readSnapshot"); new Recording(s"$tag~snap", log) }
    override def setTag(key: String, value: String): Unit = rec("setTag")
    override def getTag(key: String): Option[String] = { rec("getTag"); None }
    override def dropView(view: String): Unit = rec("dropView")
    override def apply(name: String): DataFrame = { rec("apply"); null }
  }

  /** Interface methods of IvmStore a wrapper must override: everything
    * but Scala's default-argument getters and the graft-private
    * `concurrentParts`, which cannot be overridden outside graft.ivm. */
  private def storeMethods: Seq[java.lang.reflect.Method] =
    classOf[IvmStore].getMethods.toSeq.filter(m =>
      m.getDeclaringClass == classOf[IvmStore] &&
        !java.lang.reflect.Modifier.isStatic(m.getModifiers) &&
        !m.getName.contains("$default$") && m.getName != "concurrentParts")

  def forwarding(spark: SparkSession): Boolean = {
    val missing = storeMethods.filterNot(m =>
      scala.util.Try(classOf[TracingStore].getDeclaredMethod(m.getName, m.getParameterTypes: _*)).isSuccess)
    if (missing.nonEmpty) say(s"TracingStore does not override: ${missing.map(_.getName).mkString(", ")}")
    val meter = new Meter(spark.sparkContext, traced = false, "selftest")
    val ok = Seq(false, true).forall { recording =>
      meter.recording = recording
      val log = mutable.Buffer.empty[String]
      val inner = new Recording("inner", log)
      val s = new TracingStore(inner, meter)
      s.get("v/a"); s.put("v/a", null); s.putKeyed("v/a", null, Seq("k"))
      s.slice("v/a", null, Seq("k")); s.merge("v/a", null, Seq("k"), lit(true), Seq("k"), null)
      var sawTxn = false
      val r = s.transaction { sawTxn = inner.inTxn; 42 }
      val snap = s.readSnapshot()
      snap.get("v/a")
      s.setTag("t", "1"); s.getTag("t"); s.dropView("v"); s.apply("v/a")
      val expect = storeMethods.map(_.getName).toSet.map((m: String) => s"inner.$m") +
        "inner~snap.get"
      val got = log.toSet
      val fine = got == expect && log.size == expect.size && sawTxn && r == 42
      if (!fine) say(s"forwarding (recording=$recording) expected ${expect.toSeq.sorted} got ${log.sorted}")
      fine
    }
    meter.recording = false
    val pass = missing.isEmpty && ok
    say(s"TracingStore forwards all ${storeMethods.size} IvmStore methods: ${if (pass) "PASS" else "FAIL"}")
    pass
  }

  /** Small run of one workload; returns the oracle's mismatch count. */
  private def smallRun(spark: SparkSession, work: String, name: String, batches: Int,
      corrupt: Option[Int => DataFrame => DataFrame]): Long = {
    val w = Workload(name, spark, seed = 7, small = true)
    val dir = s"$work/selftest-$name-${if (corrupt.isDefined) "corrupt" else "clean"}"
    Main.deleteTree(dir)
    w.generate(dir, batches)
    w.open(dir, batches)
    w.attach(new ParquetStore(spark, s"$dir/store"), s"$dir/store")
    corrupt.foreach { f => val clean = w.feed; w.feed = i => f(i)(clean(i)) }
    w.create()
    (0 until batches).foreach(w.refresh)
    val bad = w.invalidRetractions(batches)
    val diff = w.mismatches(batches)
    say(s"$name ${if (corrupt.isDefined) "corrupted" else "clean"} stream: " +
      s"invalid_retractions=$bad mismatched_rows=$diff")
    bad + diff
  }

  def oracle(spark: SparkSession, work: String): Boolean = {
    val clean = Workload.names.map(n => n -> smallRun(spark, work, n, 4, None))
    // drop one inserted order from batch 2 on its way to the engine; the
    // oracle still reads the generated batch
    val dropOne: Int => DataFrame => DataFrame = i => df =>
      if (i != 2) df
      else {
        val victim = df.where(col(IvmCore.MULT)).agg(org.apache.spark.sql.functions.min("o_orderkey"))
          .head().getLong(0)
        df.where(!(col(IvmCore.MULT) && col("o_orderkey") === victim))
      }
    val corrupted = smallRun(spark, work, "q13_trickle", 4, Some(dropOne))
    val pass = clean.forall(_._2 == 0) && corrupted > 0
    say(s"oracle accepts clean streams and reports a corrupted batch: ${if (pass) "PASS" else "FAIL"}")
    pass
  }

  def run(spark: SparkSession, work: String): Boolean = {
    val f = forwarding(spark)
    val o = oracle(spark, work)
    f && o
  }
}
