package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.Fixtures
import graft.ivm._

/** Dev probe for the STATE-HEAVY multi-CTE view floor (q113-class): times
  * create / first refresh (recording) / steady refresh (replay eligible) /
  * read separately, with per-phase Spark job counts — attributes the gated
  * query's cost to the phase that actually pays it.
  *
  * Usage: runMain graft.tools.CteProbe <sfDir> [steadyReps]
  */
object CteProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 5
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.broadcast.compress", "false")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobLog = sys.env.get("SPARK_GRAFT_JOBLOG").contains("true")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (jobLog) starts.put(s.jobId, (System.nanoTime(),
          Option(s.properties.getProperty("spark.job.description"))
            .orElse(Option(s.properties.getProperty("callSite.short")))
            .getOrElse("?").take(90)))
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (jobLog) Option(starts.remove(e.jobId)).foreach { case (t0, d) =>
          println(f"  [job] ${(System.nanoTime() - t0) / 1e9}%6.3fs  $d")
        }
    })
    def phase[A](tag: String)(f: => A): A = {
      val j0 = jobs.get(); val t0 = System.nanoTime()
      val r = f
      println(f"[cte] $tag%-16s ${(System.nanoTime() - t0) / 1e9}%7.3fs " +
        s"jobs=${jobs.get() - j0} " +
        s"inline=${org.apache.spark.sql.GraftTemplates.inlineRuns.get()} " +
        s"tplHits=${org.apache.spark.sql.GraftTemplates.hits} " +
        s"replays=${Ivm.traceReplays} prunes=${ZDelta.prunes.get()}")
      r
    }
    val (_, v) = SqlFrontend.createImmv(spark,
      """CREATE IMMV q113 AS
         WITH j AS (
           SELECT o_orderkey, l_suppkey,
                  CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                       THEN 1 ELSE 0 END AS late
           FROM (SELECT o_orderkey, o_orderdate FROM orders
                 WHERE o_orderstatus = 'F') o
           JOIN (SELECT l_orderkey AS o_orderkey, l_suppkey, l_shipdate
                 FROM lineitem) l
             USING (o_orderkey)
         ), ns AS (
           SELECT o_orderkey, COUNT(DISTINCT l_suppkey) AS nsupp
           FROM j GROUP BY o_orderkey
         ), nl AS (
           SELECT o_orderkey, COUNT(DISTINCT l_suppkey) AS nlate
           FROM j WHERE late = 1 GROUP BY o_orderkey
         )
         SELECT s_name, COUNT(*) AS numwait
         FROM j
         JOIN ns USING (o_orderkey)
         JOIN nl USING (o_orderkey)
         JOIN (SELECT s_suppkey AS l_suppkey, s_name FROM supplier) s
           USING (l_suppkey)
         WHERE late = 1 AND nsupp >= 2 AND nlate = 1
         GROUP BY s_name""")
    val base = Fixtures.base(spark, sfDir)
    val deltas = Fixtures.deltas(spark, sfDir)
    val store = new MemStore
    phase("create")(Ivm.create("q113", v, base, store))
    phase("refresh-first")(Ivm.refreshState("q113", v, base, deltas, store))
    for (i <- 1 to reps)
      phase(s"refresh-$i")(Ivm.refreshState("q113", v, base, deltas, store))
    phase("read")(Ivm.read("q113", v, store).count())
    // warm create/refresh in isolation (fresh store, warm JVM + templates)
    // same view NAME as the gated query uses per invocation — state roles
    // embed the name, so a different name would miss the warm templates
    phase("create-warm") {
      val st2 = new MemStore
      Ivm.create("q113", v, base, st2)
    }
    // the gated-query shape: everything on a FRESH store, templates warm
    phase("gated-total") {
      val st3 = new MemStore
      Ivm.create("q113", v, base, st3)
      Ivm.refreshState("q113", v, base, deltas, st3)
      Ivm.read("q113", v, st3).count()
    }
    spark.stop()
  }
}
