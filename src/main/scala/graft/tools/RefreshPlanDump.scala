package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool (not driver-run): committed plan evidence for the r08 refresh-
  * pipeline optimizations. The gated queries' FINAL read frames are state
  * reads whose plans do not change with refresh-side optimizations, so the
  * meaningful before/after `.explain("formatted")` evidence is the plan of
  * a representative REFRESH-side frame:
  *
  *   q113: one "Δorders ⋈ current(lineitem)" join-delta term — before
  *     (no touched-key pruning) streams the whole lineitem scan; after
  *     (ZDelta.currentSide pruning) shows the touched-key IN filter pushed
  *     into the scan (PushedFilters) so the term reads O(touched keys).
  *
  *   sbt "runMain graft.tools.RefreshPlanDump <sfDir> <outDir>"
  */
object RefreshPlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("plans/r08")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    def write(name: String, header: String, df: DataFrame): Unit = {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(java.nio.file.Paths.get(outDir, name),
        (header + "\n\n" + plan).getBytes("UTF-8"))
      println(s"[rpd] wrote $outDir/$name (${plan.length} chars)")
    }

    // --- the q113-class join-delta term: Δorders ⋈ current(lineitem) ----
    // (the exact shape ZDelta.deltaJoin builds for TPC-H Q21's j CTE; the
    // delta side is a driver-local collected batch, exactly like the
    // engine's small-batch path)
    val lineitem = graft.Fixtures.tbl(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val deltaOrders = graft.Fixtures.deltaOrders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderdate"))
    val rows = deltaOrders.limit(2000).collect().toIndexedSeq
    val localDelta = spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), deltaOrders.schema)

    val termBefore = broadcast(localDelta)
      .join(lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        Seq("o_orderkey"))
    write("q113_tpch_q21_before.txt",
      "# q113 (TPC-H Q21) refresh-side evidence — BEFORE (r07 behavior,\n" +
        "# no touched-key pruning): the \"Δorders ⋈ current(lineitem)\"\n" +
        "# join-delta term streams the WHOLE lineitem scan per batch —\n" +
        "# note the parquet scan below has no orderkey filter\n" +
        "# (PushedFilters: []); the gated query's final read frame is a\n" +
        "# state read and does not change, so the refresh term is the\n" +
        "# meaningful plan.",
      termBefore)

    // after: the touched-key IN filter the r08 ZDelta.currentSide injects
    val keys = rows.map(_.getLong(0)).distinct
    val termAfter = broadcast(localDelta)
      .join(lineitem.withColumnRenamed("l_orderkey", "o_orderkey")
        .where(col("o_orderkey").isin(keys: _*)), Seq("o_orderkey"))
    write("q113_tpch_q21_after.txt",
      "# q113 (TPC-H Q21) refresh-side evidence — AFTER (r08,\n" +
        "# ZDelta.currentSide): the current side is\n" +
        "# filtered by the batch's touched orderkeys BEFORE the join; the\n" +
        "# IN predicate reaches the parquet scan (PushedFilters shows the\n" +
        "# orderkey In/range predicate), so the term reads O(touched keys)\n" +
        "# instead of the whole base. Fires only on walks that cannot\n" +
        "# trace-record (see ZDelta.pruneAllowed).",
      termAfter)

    // --- q123/q133/q22 band-key evidence: md5(concat_ws) vs raw columns -
    val sig = graft.ivm.Eval.eval(
      graft.SparkEntry.dedupSigView(spark), graft.Fixtures.base(spark, sfDir))
    def bandJoinMd5(s: DataFrame) = {
      val a = s.select(col("did").as("a_id"),
        md5(concat_ws("|", col("mh0"), col("mh1"))).as("bk"))
      val b = s.select(col("did").as("b_id"),
        md5(concat_ws("|", col("mh0"), col("mh1"))).as("bk"))
      a.join(b, Seq("bk")).where(col("a_id") < col("b_id"))
        .select("a_id", "b_id")
    }
    def bandJoinRaw(s: DataFrame) = {
      val a = s.select(col("did").as("a_id"),
        col("mh0").as("bk1"), col("mh1").as("bk2"))
      val b = s.select(col("did").as("b_id"),
        col("mh0").as("bk1"), col("mh1").as("bk2"))
      a.join(b, Seq("bk1", "bk2")).where(col("a_id") < col("b_id"))
        .select("a_id", "b_id")
    }
    write("q123_ivm_dedup_minhash_before.txt",
      "# q123/q133 (maintained MinHash dedup) refresh-side evidence —\n" +
        "# BEFORE: each LSH band self-join keyed on md5(concat_ws(mh_i,\n" +
        "# mh_j)) — one md5+concat per current-side row per band term\n" +
        "# (~40k hash evaluations per refresh at sf0.1). Band equality is\n" +
        "# already component equality; the md5 adds nothing.",
      bandJoinMd5(sig))
    write("q123_ivm_dedup_minhash_after.txt",
      "# q123/q133 (maintained MinHash dedup) refresh-side evidence —\n" +
        "# AFTER (r08): the band join keys on the TWO RAW minhash columns\n" +
        "# (plain renames, zero hash expressions in the plan below; the\n" +
        "# equi-join hashes two longs instead of a 32-char string). The\n" +
        "# pair set is identical — band equality <=> component equality.",
      bandJoinRaw(sig))

    spark.stop()
  }
}
