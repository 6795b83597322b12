package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.ivm.{IvmStore, ParquetStore}

/** Closed-loop IVM maintenance benchmark: one client thread folds a seeded
  * stream of delta batches into one view, in one process on local[nproc],
  * on ParquetStore defaults. Phases: set-up (inputs + one create),
  * warm-up refreshes, oracle check, steady refreshes each followed by a
  * read, footprint, oracle check, and (traced runs) a recompute phase.
  * Prints info lines, then one JSON line with the metrics. */
object Main {
  final case class Args(workload: String = "", seed: Long = 1, seconds: Int = 8,
      trace: Boolean = false, work: String = "", spans: String = "",
      series: String = "", warmup: Option[Int] = None, steady: Option[Int] = None,
      selftest: Boolean = false, small: Boolean = false,
      record: String = "alternate")

  private def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil                          => a
    case "--workload" :: v :: rest    => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest        => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest     => parse(rest, a.copy(seconds = v.toInt))
    case "--trace" :: v :: rest       => parse(rest, a.copy(trace = v == "1"))
    case "--work" :: v :: rest        => parse(rest, a.copy(work = v))
    case "--spans" :: v :: rest       => parse(rest, a.copy(spans = v))
    case "--series" :: v :: rest      => parse(rest, a.copy(series = v))
    case "--warmup" :: v :: rest      => parse(rest, a.copy(warmup = Some(v.toInt)))
    case "--steady" :: v :: rest      => parse(rest, a.copy(steady = Some(v.toInt)))
    case "--selftest" :: rest         => parse(rest, a.copy(selftest = true))
    case "--small" :: rest            => parse(rest, a.copy(small = true))
    case "--record" :: v :: rest      => parse(rest, a.copy(record = v))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.broadcast.compress", "false")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  /** Warm-up refreshes that follow the first oracle check. */
  private val settle = 4
  /** Metrics as JSON members; a value that is not a number is null. */
  def json(metrics: collection.Map[String, (Double, String)]): String =
    metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${if (v.isNaN || v.isInfinite) "null" else v.toString},"unit":"$u"}"""
    }.mkString(",")

  def info(s: String): Unit =
    println(f"# [${(System.currentTimeMillis - jvmStartMs) / 1e3}%.1fs] $s")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def dirBytes(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }
  }
  def files(root: String): Map[String, Long] = {
    val st = Files.walk(Paths.get(root))
    try st.iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.size(p)).toMap
    finally st.close()
  }
  def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally st.close()
    }
  }

  /** Heap in use after full collections. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Segment chain length per (state, bucket) in the store's current
    * manifest (tab-separated `E` lines, one per chain segment). */
  def chains(storeRoot: String): Map[(String, String), Int] = {
    val cur = Paths.get(storeRoot, "_current")
    if (!Files.exists(cur)) Map.empty
    else {
      val v = new String(Files.readAllBytes(cur)).trim
      Files.readAllLines(Paths.get(storeRoot, s"_v$v")).asScala
        .map(_.split('\t')).collect { case a if a.length >= 4 && a(0) == "E" => (a(1), a(2)) }
        .groupBy(identity).map { case (k, v) => k -> v.size }
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(a.work.nonEmpty, "--work <dir> is required")
    val spark = session(a.work)
    try {
      if (a.selftest) sys.exit(if (SelfTest.run(spark, a.work)) 0 else 1)
      run(spark, a, (System.currentTimeMillis - jvmStartMs) / 1000.0)
    } finally spark.stop()
  }

  private def run(spark: SparkSession, a: Args, startupS: Double): Unit = {
    val w = Workload(a.workload, spark, a.seed, a.small)
    require(Set("alternate", "all", "none")(a.record), s"--record ${a.record}")
    // In a traced run the listener always counts jobs; `record` says which
    // steady refreshes also record spans and store calls: every other one
    // (the default), all, or none (no store wrapper at all).
    val wrap = a.trace && a.record != "none"
    val nWarm = a.warmup.getOrElse(w.warmup)
    val nSteady = a.steady.getOrElse(w.steady(a.seconds))
    val n = nWarm + nSteady
    val cores = Runtime.getRuntime.availableProcessors
    val meter = new Meter(spark.sparkContext, a.trace, s"${w.name}-${a.seed}")
    info(s"workload=${w.name} seed=${a.seed} trace=${if (a.trace) 1 else 0} cores=$cores " +
      s"warmup=$nWarm steady=$nSteady delta_rows_per_batch=${w.deltaRows}")

    var attempted = 0L
    var failed = 0L
    def attempt[A](what: String)(f: => A): Option[A] = {
      attempted += 1
      try Some(f)
      catch {
        case NonFatal(e) =>
          failed += 1
          info(s"FAILED $what: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
    }
    /** Oracle check after `applied` batches: a failed operation when the
      * stream is invalid or the view differs from the plain-Spark result. */
    def check(applied: Int): Unit = attempt(s"oracle check after $applied batches") {
      val bad = w.invalidRetractions(applied)
      val diff = w.mismatches(applied)
      info(s"oracle after $applied batches: invalid_retractions=$bad mismatched_rows=$diff")
      if (bad + diff != 0) throw new IllegalStateException(
        s"view differs from oracle: $diff rows, $bad invalid retractions")
    }

    // ------------------------------------------------------------ set-up
    // One create per run, cold, as a user onboarding a view pays it.
    val inputs = s"${a.work}/inputs"
    val root = s"${a.work}/store"
    Seq(inputs, root, s"${a.work}/eval").foreach(deleteTree)
    val g0 = System.nanoTime()
    w.generate(inputs, n)
    w.open(inputs, n)
    val genS = (System.nanoTime() - g0) / 1e9
    val pstore = new ParquetStore(spark, root)
    w.attach(if (wrap) new TracingStore(pstore, meter) else pstore, root)
    meter.recording = wrap
    val (_, createW) = meter.call("create", 0)(attempt("create")(w.create()))
    meter.recording = false
    info(f"startup_s=$startupS%.3f generate_s=$genS%.3f create_s=${createW.wallS}%.3f " +
      f"store_mb=${dirBytes(w.storeDir) / 1e6}%.1f")

    // ----------------------------------------------------------- batches
    val refreshW = mutable.Buffer.empty[Window]
    val readW = mutable.Buffer.empty[Window]
    val fedRows = mutable.Buffer.empty[Long]
    val writeBytes = mutable.Map.empty[Int, Long]
    var prevChains = chains(w.storeDir)
    var compactions = 0
    var maxChain = if (prevChains.isEmpty) 0 else prevChains.values.max
    def step(i: Int, traced: Boolean): Unit = {
      meter.recording = traced
      val before = if (traced) files(w.storeDir) else Map.empty[String, Long]
      val (fed, rw) = meter.call("refresh", i)(attempt(s"refresh $i")(w.refresh(i)))
      if (traced) writeBytes(i) = files(w.storeDir).collect {
        case (p, sz) if !before.get(p).contains(sz) => sz
      }.sum
      val (_, dw) = meter.call("read", i)(attempt(s"read $i")(w.read(i)))
      meter.recording = false
      refreshW += rw; readW += dw; fedRows += fed.getOrElse(0L)
      if (a.series.nonEmpty)
        info(f"batch $i refresh_s=${rw.wallS}%.3f read_s=${dw.wallS}%.3f jobs=${rw.jobs}")
      if (a.trace) {
        val c = chains(w.storeDir)
        compactions += c.count { case (k, len) => prevChains.get(k).exists(_ > len) }
        if (c.nonEmpty) maxChain = math.max(maxChain, c.values.max)
        prevChains = c
      }
    }
    // set-up ends where the first refresh starts
    val setupS = (System.currentTimeMillis - jvmStartMs) / 1000.0
    // The first oracle check and heap reading run `settle` batches before
    // the warm-up ends: the check's plain-Spark jobs and the full GCs slow
    // the next few refreshes, and those must not open the steady phase.
    val checkAt = math.max(0, nWarm - settle)
    (0 until checkAt).foreach(i => step(i, wrap))
    val heapWarmMb = retainedHeapMb()
    check(checkAt)
    (checkAt until nWarm).foreach(i => step(i, wrap))
    info("warm-up done")
    // Traced runs alternate untraced and traced refreshes: same state,
    // same drift, so the two halves compare.
    def tracedBatch(i: Int): Boolean =
      wrap && (a.record == "all" || (i - nWarm) % 2 == 1)
    compactions = 0
    (nWarm until n).foreach(i => step(i, tracedBatch(i)))
    val storeMb = dirBytes(w.storeDir) / 1e6
    val heapEndMb = retainedHeapMb()
    info("steady phase done")
    check(n)

    // ----------------------------------------------------------- metrics
    val steadyR = refreshW.drop(nWarm)
    val steadyD = readW.drop(nWarm)
    val warmS = refreshW.take(nWarm).map(_.wallS).sum
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(k: String, v: Double, unit: String): Unit = metrics(k) = (v, unit)

    if (a.series.nonEmpty) {
      val rows = refreshW.zip(readW).map { case (r, d) =>
        f"""{"batch":${r.idx},"refresh_s":${r.wallS}%.4f,"read_s":${d.wallS}%.4f,"jobs":${r.jobs},"traced":${r.traced},"replays":${r.replays},"template_hits":${r.templateHits},"inline_runs":${r.inlineRuns},"key_prunes":${r.prunes}}"""
      }
      val p = Paths.get(a.series)
      Files.createDirectories(p.toAbsolutePath.getParent)
      Files.write(p, rows.mkString(s"""{"workload":"${w.name}","seed":${a.seed},"cores":$cores,"batches":[\n""", ",\n", "\n]}\n").getBytes("UTF-8"))
    }

    val sortedR = steadyR.map(_.wallS).sorted
    // highest percentile with at least ten steady samples beyond it (the
    // lowest sample when there are ten or fewer)
    val tailIdx = math.max(0, sortedR.size - 11)
    val tailPct = 100.0 * (tailIdx + 1) / math.max(1, sortedR.size)
    info(f"refresh_tail_s is p$tailPct%.1f of ${sortedR.size} steady refreshes " +
      s"(${sortedR.size - tailIdx - 1} beyond it)")
    if (!a.trace) {
      put("setup_s", setupS, "s")
      put("create_s", createW.wallS, "s")
      put("warmup_s", warmS, "s")
      put("refresh_p50_s", median(sortedR.toSeq), "s")
      put("delta_rows_per_s", nSteady * w.deltaRows / steadyR.map(_.wallS).sum, "1/s")
      put("read_p50_s", median(steadyD.map(_.wallS).toSeq), "s")
      put("store_mb", storeMb, "MB")
      put("retained_heap_mb", heapEndMb, "MB")
    } else {
      val (tr, un) = steadyR.lazyZip(steadyD).lazyZip(fedRows.drop(nWarm)).toSeq
        .partition(_._1.traced)
      val tR = tr.map(_._1); val tD = tr.map(_._2)
      val uR = un.map(_._1)
      def m(f: Window => Double): Double = mean(tR.map(f))
      val unP50 = median(uR.map(_.wallS))
      val trP50 = median(tR.map(_.wallS))

      // eval phase, after the footprint was taken
      val evalOut = s"${a.work}/eval"
      val (_, ew) = meter.call("recompute", 0)(attempt("recompute")(w.recompute(n, s"$evalOut/recompute")))
      val freshStore = new ParquetStore(spark, s"$evalOut/fresh")
      attempt("fresh create") {
        val cur = w.tables.map(t => t -> w.current(t, n)).toMap
        cur.foreach { case (t, df) => df.write.mode("overwrite").parquet(s"$evalOut/base/$t") }
        val tbl = w.tables.map(t => t -> spark.read.parquet(s"$evalOut/base/$t")).toMap
        w.createFresh(tbl, freshStore)
      }
      val freshMb = dirBytes(s"$evalOut/fresh") / 1e6

      put("refresh_tail_s", if (sortedR.isEmpty) Double.NaN else sortedR(tailIdx), "s")
      put("ivm.refresh_outside_jobs_s", m(x => math.max(0.0, x.wallS - x.jobUnionS)), "s")
      put("ivm.jobs_per_refresh", m(_.jobs.toDouble), "count")
      put("ivm.create_jobs", createW.jobs.toDouble, "count")
      put("ivm.warmup_jobs", refreshW.take(nWarm).map(_.jobs).sum.toDouble, "count")
      put("ivm.trace_replays_per_refresh", m(_.replays.toDouble), "count")
      put("ivm.template_hits_per_refresh", m(_.templateHits.toDouble), "count")
      put("ivm.inline_runs_per_refresh", m(_.inlineRuns.toDouble), "count")
      put("ivm.key_prunes_per_refresh", m(_.prunes.toDouble), "count")
      put("spark.job_s_per_refresh", m(_.jobUnionS), "s")
      put("spark.task_cpu_s_per_refresh", m(_.taskCpuNs / 1e9), "s")
      val jobS = tR.map(_.jobUnionS).sum
      put("spark.core_utilization",
        if (jobS > 0) tR.map(_.taskRunMs / 1e3).sum / (jobS * cores) else 0.0, "ratio")
      put("spark.stages_per_refresh", m(_.stages.toDouble), "count")
      put("spark.tasks_per_refresh", m(_.tasks.toDouble), "count")
      put("spark.shuffle_mb_per_refresh", m(_.shuffleWriteBytes / 1e6), "MB")
      put("spark.input_mb_per_read", mean(tD.map(_.inputBytes / 1e6)), "MB")
      put("ivm.jobs_per_read", mean(tD.map(_.jobs.toDouble)), "count")
      put("store.merge_s_per_refresh", m(_.mergeNs.get / 1e9), "s")
      put("store.resolve_s_per_refresh", m(_.resolveNs.get / 1e9), "s")
      put("store.commit_s_per_refresh", m(_.commitNs.get / 1e9), "s")
      put("store.calls_per_refresh", m(_.calls.get.toDouble), "count")
      val wb = mean(tR.map(x => writeBytes.getOrElse(x.idx, 0L).toDouble))
      put("store.write_mb_per_refresh", wb / 1e6, "MB")
      put("store.write_bytes_per_delta_row", wb / w.deltaRows, "B")
      put("store.compactions", compactions.toDouble, "count")
      put("store.max_chain", maxChain.toDouble, "count")
      put("store.space_amp", if (freshMb > 0) storeMb / freshMb else 0.0, "ratio")
      put("cascade.changelog_rows_per_refresh", mean(tr.map(_._3.toDouble)) / w.deltaRows, "ratio")
      put("cascade.sig.store_s_per_refresh", m(_.level("sig") / 1e9), "s")
      put("cascade.pairs.store_s_per_refresh", m(_.level("pairs") / 1e9), "s")
      put("eval.recompute_s", ew.wallS, "s")
      put("eval.refresh_speedup", ew.wallS / unP50, "ratio")
      put("jvm.gc_s_per_refresh", m(_.gcMs / 1e3), "s")
      put("jvm.heap_growth_mb", heapEndMb - heapWarmMb, "MB")
      put("trace.overhead_frac", (trP50 - unP50) / unP50, "ratio")
      info(f"eval.refresh_speedup = eval.recompute_s ${ew.wallS}%.4f s / untraced refresh_p50_s $unP50%.4f s; traced refresh_p50_s $trP50%.4f s over ${tR.size} traced and ${uR.size} untraced steady refreshes; fresh store $freshMb%.3f MB")
      meter.close()
      val spansPath = if (a.spans.nonEmpty) a.spans else s"${a.work}/spans.json"
      meter.writeSpans(spansPath, s""""metrics":{${json(metrics)}}""")
      info(s"spans written to $spansPath")
    }

    metrics.foreach { case (k, (v, u)) => info(s"$k = $v $u") }
    val correct = failed == 0
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${json(metrics)}}}""")
  }
}
