package graft.ivm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end demo / smoke drive of the public IVM API on real testdata.
  *
  * Run: sbt "runMain graft.ivm.Demo [sfDir]"
  *
  * Exercises (1) the reference-parity surface (`createView` + `upsert` over
  * a `delta_` table), and (2) the materialize/refresh half the reference
  * leaves as future work, including a Q13-style join view, checking that the
  * incrementally refreshed view equals a full recompute over base ⊎ delta.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ivm-demo")
      .withExtensions(new graft.plans.GraftSparkExtension)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import IvmCore._

    val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val customer = spark.read.parquet(s"$sfDir/customer.parquet")

    // Deterministic synthetic delta batch: ~1% of lineitem; even linenumber
    // rows are inserts, odd are deletes (of rows that exist in base).
    val deltaLineitem = lineitem
      .where(col("l_orderkey") % 97 === 0)
      .withColumn(MULT, col("l_linenumber") % 2 === 0)
    lineitem.createOrReplaceTempView("lineitem")
    deltaLineitem.createOrReplaceTempView("delta_lineitem")
    println(s"base rows=${lineitem.count()} delta rows=${deltaLineitem.count()}")

    // ---- 1. Reference-parity surface: PRAGMA ivm_upsert analogue
    import AggSpec._
    val viewQ = Aggregate(Scan("lineitem"), Seq("l_returnflag"),
      Seq(Sum(col("l_quantity"), "sum_qty"), CountStar("cnt")))
    Ivm.createView("flag_totals", viewQ)
    val dv = Ivm.upsert(spark, "flag_totals")
    println("delta_V (parity, one row per (group, ±)):")
    dv.show(20, truncate = false)
    require(dv.count() > 0, "parity delta_V must be non-empty")

    // ---- 1b. Same view through the injected SQL surface (EP3 parity: the
    // reference's CREATE IMMV parser extension, here actually functional,
    // running as a first-class statement via SparkSessionExtensions).
    spark.sql(
      """CREATE IMMV flag_totals_sql AS
         SELECT l_returnflag, SUM(l_quantity) AS sum_qty, COUNT(*) AS cnt
         FROM lineitem GROUP BY l_returnflag""")
    val dvSql = Ivm.upsert(spark, "flag_totals_sql")
    require(dvSql.collect().toSet == dv.collect().toSet,
      "SQL-registered view must produce the same delta_V")
    // PRAGMA-style read-back: upsert registered temp view delta_<name>
    require(spark.sql("SELECT * FROM delta_flag_totals_sql").count() == dv.count())
    // injected codegen'd function usable straight from SQL
    spark.sql("SELECT graft_vec_dot(array(1.0f, 2.0f), array(3.0f, 4.0f)) AS d")
      .collect().headOption.foreach(r => require(r.getDouble(0) == 11.0))
    println("CREATE IMMV surface OK")

    // ---- 2. Create + incremental refresh (the missing half)
    val store = new MemStore
    val base: String => DataFrame = {
      case "lineitem" => lineitem
      case "orders"   => orders
      case "customer" => customer
    }
    val deltas: String => Option[DataFrame] =
      t => if (t == "lineitem") Some(deltaLineitem) else None

    Ivm.create("flag_totals", viewQ, base, store)
    val delta2 = Ivm.refresh("flag_totals", viewQ, base, deltas, store)
    println(s"refresh ΔV rows=${delta2.count()}")
    val got = Ivm.read("flag_totals", viewQ, store)
    val want = Ivm.recompute(viewQ, base, deltas)
    println("maintained view after refresh:")
    got.orderBy("l_returnflag").show(10, truncate = false)
    val diff = got.exceptAll(want).count() + want.exceptAll(got).count()
    println(s"refresh-vs-recompute diff rows = $diff")
    require(diff == 0, "incremental refresh must equal full recompute")

    // ---- 3. Q13-style join view (poster's aspiration): orders ⋈ customer
    val q13ish = Aggregate(
      Join(
        Project(Scan("customer"), Seq(col("c_custkey").as("custkey"), col("c_mktsegment"))),
        // decimal, not double: sums stay exact, so the incremental path and
        // a full recompute agree bit-for-bit regardless of addition order
        Project(Scan("orders"), Seq(col("o_custkey").as("custkey"),
          col("o_totalprice").cast("decimal(18,2)").as("o_totalprice"))),
        Seq("custkey")),
      Seq("c_mktsegment"),
      Seq(Sum(col("o_totalprice"), "revenue"), CountStar("n_orders")))
    val deltaOrders = orders
      .where(col("o_orderkey") % 53 === 0)
      .withColumn(MULT, col("o_orderkey") % 2 === 0)
    val deltas2: String => Option[DataFrame] =
      t => if (t == "orders") Some(deltaOrders) else None
    Ivm.create("seg_rev", q13ish, base, store)
    Ivm.refresh("seg_rev", q13ish, base, deltas2, store)
    val got2 = Ivm.read("seg_rev", q13ish, store)
    val want2 = Ivm.recompute(q13ish, base, deltas2)
    got2.orderBy("c_mktsegment").show(10, truncate = false)
    val diff2 = got2.exceptAll(want2).count() + want2.exceptAll(got2).count()
    println(s"join-view refresh-vs-recompute diff rows = $diff2")
    require(diff2 == 0, "join view refresh must equal recompute")

    // ---- 4. Streaming maintenance: delta batches arrive as files; each
    // micro-batch folds into the materialized view (Trigger.AvailableNow
    // drains whatever is there, then stops — the continuous form just
    // leaves the query running).
    import org.apache.spark.sql.streaming.Trigger
    val streamDir = java.nio.file.Files.createTempDirectory("ivm-stream").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("ivm-ckpt").toString
    deltaLineitem.write.mode("overwrite").parquet(s"$streamDir/batch0")
    val deltaStream = spark.readStream
      .schema(deltaLineitem.schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(s"$streamDir/batch0")
    Ivm.create("flag_totals_s", viewQ, base, store)
    val sq = graft.streaming.IvmStream.maintain(
      "flag_totals_s", viewQ, "lineitem", base, store, deltaStream, ckptDir)
    // (micro-batch 0 of this query applies the whole delta file)
    sq.awaitTermination(30000)
    if (sq.isActive) { sq.processAllAvailable(); sq.stop() }
    val gotS = Ivm.read("flag_totals_s", viewQ, store)
    val diffS = gotS.exceptAll(want).count() + want.exceptAll(gotS).count()
    println(s"streaming refresh-vs-recompute diff rows = $diffS")
    require(diffS == 0, "streaming maintenance must equal recompute")

    // ---- 4b. replay safety: re-delivering an already-applied micro-batch
    // must be a no-op (batch-id dedupe in the store)
    val before = Ivm.read("flag_totals_s", viewQ, store).collect().toSet
    graft.streaming.IvmStream.applyBatch(
      "flag_totals_s", viewQ, "lineitem", base, store)(deltaLineitem, 0L)
    val after = Ivm.read("flag_totals_s", viewQ, store).collect().toSet
    require(before == after, "replayed batch id must be skipped")
    println("replay dedupe OK")

    // ---- 5. REAL TPC-H Q13 (LEFT OUTER join) maintained incrementally
    val q13 = graft.SparkEntry.q13RealView
    Ivm.create("q13_real", q13, base, store)
    Ivm.refresh("q13_real", q13, base, deltas2, store)
    val gotQ = Ivm.read("q13_real", q13, store)
    val wantQ = Ivm.recompute(q13, base, deltas2)
    val diffQ = gotQ.exceptAll(wantQ).count() + wantQ.exceptAll(gotQ).count()
    println(s"real-Q13 refresh-vs-recompute diff rows = $diffQ")
    require(diffQ == 0, "real Q13 refresh must equal recompute")

    // ---- 6. round-2 surface: FULL OUTER join + HAVING via SQL, and
    // multi-view shared state (identical subtrees share one state dir)
    val (_, fojQ) = SqlFrontend.createImmv(spark,
      """CREATE IMMV foj_v AS
         SELECT custkey, c_acct, o_price FROM
           (SELECT c_custkey AS custkey, c_acctbal AS c_acct FROM customer)
           FULL OUTER JOIN
           (SELECT o_custkey AS custkey, o_totalprice AS o_price FROM orders)
           USING (custkey)""")
    Ivm.create("foj_v", fojQ, base, store)
    Ivm.refreshState("foj_v", fojQ, base, deltas2, store)
    val gotF = Ivm.read("foj_v", fojQ, store)
    val wantF = Ivm.recompute(fojQ, base, deltas2)
    val diffF = gotF.exceptAll(wantF).count() + wantF.exceptAll(gotF).count()
    println(s"FULL OUTER refresh-vs-recompute diff rows = $diffF")
    require(diffF == 0, "FULL OUTER refresh must equal recompute")

    val (_, havQ) = SqlFrontend.createImmv(spark,
      """CREATE IMMV hav_v AS
         SELECT l_returnflag, SUM(l_quantity) AS sq, COUNT(*) AS n
         FROM lineitem GROUP BY l_returnflag HAVING COUNT(*) > 100""")
    Ivm.create("hav_v", havQ, base, store)
    Ivm.refreshState("hav_v", havQ, base, deltas, store) // lineitem deltas
    require(Ivm.read("hav_v", havQ, store).exceptAll(
      Ivm.recompute(havQ, base, deltas)).isEmpty, "HAVING refresh mismatch")
    println("HAVING view OK")

    // shared state: the Q13 interior per-customer count serves two views
    val innerCnt = q13 match { case Aggregate(c, _, _) => c }
    Ivm.createShared(Map("q13b" -> q13, "inner" -> innerCnt), base, store)
    Ivm.refreshShared(Map("q13b" -> q13, "inner" -> innerCnt), base, deltas2, store)
    require(Ivm.readShared(q13, store).exceptAll(
      Ivm.recompute(q13, base, deltas2)).isEmpty, "shared q13 mismatch")
    require(Ivm.readShared(innerCnt, store).exceptAll(
      Ivm.recompute(innerCnt, base, deltas2)).isEmpty, "shared inner mismatch")
    println("shared-state views OK")

    // ---- 7. round-3 surface: semi join via SQL IN-subquery on the
    // LSM-layered parquet store (overlay merges + chain resolution), and
    // the as-of / range temporal joins
    val lsmRoot = java.nio.file.Files.createTempDirectory("demo-lsm").toString
    val lsmStore = new ParquetStore(spark, lsmRoot,
      buckets = 8, smallStateBytes = 0, maxChain = 4)
    val (_, semiQ) = SqlFrontend.createImmv(spark,
      """CREATE IMMV semi_v AS
         SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem)""")
    Ivm.create("semi_v", semiQ, base, lsmStore)
    Ivm.refreshState("semi_v", semiQ, base, deltas, lsmStore)
    require(Ivm.read("semi_v", semiQ, lsmStore).exceptAll(
      Ivm.recompute(semiQ, base, deltas)).isEmpty,
      "semi join refresh mismatch on LSM store")
    println("semi join via SQL IN on the LSM store OK")

    val ev = spark.range(0, 50).selectExpr("id AS event_id",
      "id * 1000000000 AS ts", "CAST(id % 5 AS BIGINT) AS user_id")
    val asof = graft.ops.Temporal.asOfJoin(
      ev.where(org.apache.spark.sql.functions.col("event_id") % 2 === 0),
      ev.where(org.apache.spark.sql.functions.col("event_id") % 2 === 1),
      Seq("user_id"), "ts", "ts")
    require(asof.count() == 25, "as-of join row count")
    val rj = graft.ops.Temporal.rangeJoin(
      ev.select(org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.col("ts")),
      ev.selectExpr("ts AS s", "ts + 5000000000 AS e"),
      "ts", "s", "e", chunk = 5000000000L)
    require(rj.count() > 0, "range join matched nothing")
    println("temporal joins OK")

    // ---- 8. round-3 surface: variance/min_by aggregates + a WITH chain
    // through the SQL front-end, maintained on the LSM store; ROLLUP as a
    // maintained composition; duplicate clustering
    val (_, varQ) = SqlFrontend.createImmv(spark,
      """CREATE IMMV var_v AS
         WITH biggish AS (SELECT l_returnflag, l_quantity FROM lineitem
                          WHERE l_quantity > 10)
         SELECT l_returnflag, VAR_SAMP(l_quantity) AS vq,
                STDDEV(l_quantity) AS sq,
                MIN_BY(l_quantity, l_quantity) AS mn, COUNT(*) AS n
         FROM biggish GROUP BY l_returnflag""")
    Ivm.create("var_v", varQ, base, lsmStore)
    Ivm.refreshState("var_v", varQ, base, deltas, lsmStore)
    require(Ivm.read("var_v", varQ, lsmStore).exceptAll(
      Ivm.recompute(varQ, base, deltas)).isEmpty,
      "variance/min_by refresh mismatch on LSM store")
    val rollQ = IvmQuery.rollup(Scan("lineitem"),
      Seq("l_returnflag" -> "string", "l_linestatus" -> "string"),
      Seq(AggSpec.Sum(org.apache.spark.sql.functions.col("l_quantity"), "sq"),
        AggSpec.CountStar("n")))
    Ivm.create("roll_v", rollQ, base, lsmStore)
    Ivm.refreshState("roll_v", rollQ, base, deltas, lsmStore)
    require(Ivm.read("roll_v", rollQ, lsmStore).exceptAll(
      Ivm.recompute(rollQ, base, deltas)).isEmpty,
      "maintained ROLLUP refresh mismatch")
    val comps = graft.ops.Dedup.clusters(
      spark.createDataFrame(Seq((1L, 2L), (2L, 3L), (7L, 8L)))
        .toDF("a_id", "b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    require(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L),
      s"duplicate clustering wrong: $comps")
    println("variance/rollup/clusters OK")

    // ---- 9. round-4 surface: FILTER-clause aggregates + SQL ROLLUP via
    // CREATE IMMV; cross-batch multi-table maintenance (Δorders then
    // Δlineitem on a join view — batch 2 joins batch 1's rows through the
    // per-table delta accumulator); PQ ANN + PII redaction ops
    val (_, filtQ) = SqlFrontend.createImmv(spark,
      """CREATE IMMV filt_v AS
         SELECT l_returnflag,
                SUM(l_quantity) FILTER (WHERE l_linestatus = 'F') AS qf,
                COUNT(*) AS n
         FROM lineitem GROUP BY ROLLUP(l_returnflag)""")
    Ivm.create("filt_v", filtQ, base, lsmStore)
    Ivm.refreshState("filt_v", filtQ, base, deltas, lsmStore)
    require(Ivm.read("filt_v", filtQ, lsmStore).exceptAll(
      Ivm.recompute(filtQ, base, deltas)).isEmpty,
      "FILTER-clause + SQL ROLLUP refresh mismatch")
    val xbQ = Aggregate(
      Join(
        Project(Scan("orders"), Seq(
          org.apache.spark.sql.functions.col("o_orderkey").as("k"),
          org.apache.spark.sql.functions.col("o_orderpriority"))),
        Project(Scan("lineitem"), Seq(
          org.apache.spark.sql.functions.col("l_orderkey").as("k"),
          org.apache.spark.sql.functions.col("l_quantity"))),
        Seq("k")),
      Seq("o_orderpriority"),
      Seq(AggSpec.Sum(org.apache.spark.sql.functions.col("l_quantity"), "sq"),
        AggSpec.CountStar("n")))
    Ivm.create("xb_v", xbQ, base, lsmStore)
    Ivm.refreshState("xb_v", xbQ, base,
      t => if (t == "orders") deltas(t) else None, lsmStore)
    Ivm.refreshState("xb_v", xbQ, base,
      t => if (t == "lineitem") deltas(t) else None, lsmStore)
    require(Ivm.read("xb_v", xbQ, lsmStore).exceptAll(
      Ivm.recompute(xbQ, base, deltas)).isEmpty,
      "cross-batch multi-table refresh mismatch")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val pqModel = graft.ops.Pq.train(emb, m = 8, k = 16, iters = 2)
    val pqHits = graft.ops.Pq.topKRerank(
      graft.ops.Pq.encode(emb, pqModel), emb,
      emb.where(org.apache.spark.sql.functions.col("vec_id") < 4),
      k = 3, pqModel, rerank = 10).count()
    require(pqHits == 12, s"PQ top-k rows: $pqHits")
    val red = graft.ops.TextOps.redact(spark.createDataFrame(
      Seq((1L, "reach me at a.b@x.io or 555-123-4567"))).toDF("doc_id", "text"))
      .select("n_emails", "n_phones", "redacted").collect()(0)
    require(red.getInt(0) == 1 && red.getInt(1) == 1 &&
      red.getString(2) == "reach me at <EMAIL> or <PHONE>",
      s"redaction wrong: $red")
    println("round-4 surface OK")

    // ---- 10. round-6 surface: a SQL-defined VIEW CASCADE (the downstream
    // IMMV selects FROM the upstream IMMV and refreshes from its output
    // changelog), maintained sketch aggregates, and CDC ingestion.
    val cascStore = new MemStore
    val casc = Cascade.fromSql(spark, Seq(
      """CREATE IMMV casc_up AS
         SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
      """CREATE IMMV casc_down AS
         SELECT l_returnflag, SUM(cnt) AS total, MAX(cnt) AS peak
         FROM casc_up GROUP BY l_returnflag"""),
      base, cascStore)
    casc.create()
    val fedRows = casc.refresh(deltas)
    val cascWant = {
      import org.apache.spark.sql.functions.{col, count, max, sum}
      Ivm.recompute(Scan("lineitem"), base, deltas)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(org.apache.spark.sql.functions.lit(1)).as("cnt"))
        .groupBy("l_returnflag")
        .agg(sum(col("cnt")).as("total"), max(col("cnt")).as("peak"))
    }
    require(casc.read("casc_down").exceptAll(cascWant).isEmpty,
      "SQL cascade refresh mismatch")
    require(fedRows.getOrElse("casc_up", -1L) > 0, s"no changelog fed: $fedRows")
    val (_, skQ) = SqlFrontend.createImmv(spark,
      """CREATE IMMV sk_v AS
         SELECT l_returnflag,
                APPROX_PERCENTILE(l_quantity, 0.5) AS p50,
                APPROX_TOP_K(l_linestatus, 2) AS hh,
                APPROX_COUNT_DISTINCT(l_orderkey) AS okeys,
                COUNT(*) AS n
         FROM lineitem GROUP BY l_returnflag""")
    Ivm.create("sk_v", skQ, base, cascStore)
    Ivm.refreshState("sk_v", skQ, base,
      t => deltas(t).map(_.where(org.apache.spark.sql.functions.col(
        IvmCore.MULT))), cascStore) // sketches: insert-only feed
    val sk = Ivm.read("sk_v", skQ, cascStore)
    require(sk.where("p50 IS NULL OR size(hh) < 1 OR okeys < 1").isEmpty,
      "sketch view produced empty estimates")
    val cdcDeltas = graft.sources.Cdc.toDeltas(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](java.util.Arrays.asList(
        org.apache.spark.sql.Row("c", null, org.apache.spark.sql.Row("x", 2)),
        org.apache.spark.sql.Row("u", org.apache.spark.sql.Row("a", 1),
          org.apache.spark.sql.Row("a", 9)),
        org.apache.spark.sql.Row("d", org.apache.spark.sql.Row("b", 5), null))),
      org.apache.spark.sql.types.StructType.fromDDL(
        "op STRING, before STRUCT<g: STRING, v: INT>, after STRUCT<g: STRING, v: INT>")))
    require(cdcDeltas.count() == 4, "CDC mapping row count")
    println("round-6 surface OK (cascade fed " +
      s"${fedRows("casc_up")} changelog rows)")

    println("DEMO OK")
    spark.stop()
  }
}
