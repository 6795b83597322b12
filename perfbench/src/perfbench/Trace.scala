package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame}

import graft.ivm.{Ivm, IvmStore, ZDelta}
import org.apache.spark.sql.GraftTemplates

/** One recorded interval: seconds since the run started. `parent` is the
  * id of the span that caused it (0 for the run itself). */
final case class Span(id: Int, name: String, start: Double, end: Double, parent: Int)

/** Everything measured about one call the benchmark makes into graft
  * (one create, refresh, read or recompute). Counter fields are filled in
  * every run; the job/stage/store fields only in a traced run. */
final class Window(val kind: String, val idx: Int) {
  var wallS = 0.0
  var traced = false
  // public fast-path counters of the engine, as deltas over the call
  var replays, templateHits, inlineRuns, prunes = 0L
  var gcMs = 0L
  // Spark execution (listener)
  var jobs, stages = 0
  var tasks, taskRunMs, taskCpuNs, shuffleWriteBytes, inputBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // wall ms
  // store calls (forwarding wrapper)
  val mergeNs, resolveNs, commitNs, calls = new AtomicLong
  val levelNs = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]

  /** Wall time covered by at least one Spark job (union of intervals). */
  def jobUnionS: Double = synchronized {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total += math.max(0L, curE - curS)
    total / 1000.0
  }
  def level(name: String): Long =
    Option(levelNs.get(name)).map(_.get).getOrElse(0L)
}

/** Times calls into graft and, in a traced run, records spans around them,
  * around every store method (through [[TracingStore]]), every Spark job
  * and stage (through a listener) and every GC pause. Spans stay in
  * memory until [[writeSpans]]. */
final class Meter(sc: SparkContext, val traced: Boolean, runId: String) {
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()
  private def relNs(ns: Long) = (ns - nano0) / 1e9
  private def relMs(ms: Long) = (ms - wall0) / 1e3

  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  /** Span recording on/off. Off, the wrapper and listener still count
    * (so traced and untraced calls can be compared) but record no spans
    * and time no store calls. */
  @volatile var recording = false
  @volatile private var current: Window = new Window("other", -1)
  @volatile private var currentSpan = 0
  val windows = mutable.ArrayBuffer.empty[Window]

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  // ------------------------------------------------------------ listener

  private val jobStart = mutable.Map.empty[Int, (Long, Int)] // id -> (ms, span)
  private val stageJobSpan = mutable.Map.empty[Int, Int]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val w = current
      w.synchronized { w.jobs += 1 }
      val sid = if (recording) ids.incrementAndGet() else 0
      jobStart(e.jobId) = (e.time, sid)
      e.stageIds.foreach(s => stageJobSpan.getOrElseUpdate(s, sid))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.remove(e.jobId).foreach { case (t0, sid) =>
        val w = current
        w.synchronized { w.jobIntervals += ((t0, e.time)) }
        if (sid != 0) spans.add(Span(sid, "spark.job", relMs(t0), relMs(e.time), currentSpan))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val w = current
      w.synchronized {
        w.stages += 1
        w.tasks += i.numTasks
        val m = i.taskMetrics
        if (m != null) {
          w.taskRunMs += m.executorRunTime
          w.taskCpuNs += m.executorCpuTime
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.inputBytes += m.inputMetrics.bytesRead
        }
      }
      val parent = stageJobSpan.remove(i.stageId).getOrElse(0)
      if (parent != 0)
        spans.add(Span(ids.incrementAndGet(), "spark.stage",
          relMs(i.submissionTime.getOrElse(wall0)),
          relMs(i.completionTime.getOrElse(wall0)), parent))
    }
  }

  private val gcListener: javax.management.NotificationListener =
    (n: javax.management.Notification, _: AnyRef) =>
      if (recording && n.getType == com.sun.management.GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData]).getGcInfo
        // GcInfo times are ms since JVM start
        val jvm0 = ManagementFactory.getRuntimeMXBean.getStartTime
        spans.add(Span(ids.incrementAndGet(), "jvm.gc",
          relMs(jvm0 + info.getStartTime), relMs(jvm0 + info.getEndTime), currentSpan))
      }

  if (traced) {
    sc.addSparkListener(listener)
    gcBeans.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener(gcListener, null, null)
      case _ =>
    }
  }

  // --------------------------------------------------------------- calls

  /** Run one measured call. In a traced run the listener bus is drained
    * before the window closes (outside the timed interval), so each job
    * lands in the window of the call that ran it. */
  def call[A](kind: String, idx: Int)(f: => A): (A, Window) = {
    val w = new Window(kind, idx)
    w.traced = traced && recording
    if (traced) org.apache.spark.perfbench.Bus.drain(sc)
    val r0 = Ivm.traceReplays; val h0 = GraftTemplates.hits
    val i0 = GraftTemplates.inlineRuns.get; val p0 = ZDelta.prunes.get
    val g0 = gcMs
    val sid = if (w.traced) ids.incrementAndGet() else 0
    current = w; currentSpan = sid
    val t0 = System.nanoTime()
    val r = try f finally {
      val t1 = System.nanoTime()
      w.wallS = (t1 - t0) / 1e9
      if (traced) org.apache.spark.perfbench.Bus.drain(sc)
      if (sid != 0) spans.add(Span(sid, kind, relNs(t0), relNs(t1), 0))
      current = new Window("other", -1); currentSpan = 0
      w.gcMs = gcMs - g0
      w.replays = Ivm.traceReplays - r0; w.templateHits = GraftTemplates.hits - h0
      w.inlineRuns = GraftTemplates.inlineRuns.get - i0; w.prunes = ZDelta.prunes.get - p0
      windows += w
    }
    (r, w)
  }

  /** Store-call accounting for [[TracingStore]]. */
  private[perfbench] def storeCall[A](method: String, state: String)(f: => A): A = {
    val w = current
    w.calls.incrementAndGet()
    if (!recording) f
    else {
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        val d = t1 - t0
        method match {
          case "merge" | "put" | "putKeyed" => w.mergeNs.addAndGet(d)
          case "get" | "apply" | "slice"    => w.resolveNs.addAndGet(d)
          case _                            =>
        }
        if (state != null && state.nonEmpty) {
          val lvl = state.takeWhile(_ != '/')
          w.levelNs.computeIfAbsent(lvl, _ => new AtomicLong).addAndGet(d)
        }
        spans.add(Span(ids.incrementAndGet(), s"store.$method", relNs(t0), relNs(t1), currentSpan))
      }
    }
  }

  private[perfbench] def storeTxn[A](run: (=> A) => A, body: => A): A = {
    val w = current
    w.calls.incrementAndGet()
    if (!recording) run(body)
    else {
      var bodyNs = 0L
      val t0 = System.nanoTime()
      try run {
        val b0 = System.nanoTime()
        try body finally bodyNs = System.nanoTime() - b0
      } finally {
        val t1 = System.nanoTime()
        w.commitNs.addAndGet(math.max(0L, t1 - t0 - bodyNs))
        spans.add(Span(ids.incrementAndGet(), "store.transaction", relNs(t0), relNs(t1), currentSpan))
      }
    }
  }

  def close(): Unit = if (traced) {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    gcBeans.foreach {
      case e: javax.management.NotificationEmitter =>
        scala.util.Try(e.removeNotificationListener(gcListener))
      case _ =>
    }
  }

  /** Self time of every span name: duration minus the part covered by its
    * children, summed over the spans of that name. */
  def selfTimes: Map[String, Double] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil).map(k =>
          (math.max(k.start, s.start), math.min(k.end, s.end))).filter(x => x._2 > x._1)
          .sortBy(_._1)
        var covered = 0.0; var cs = Double.NegativeInfinity; var ce = Double.NegativeInfinity
        iv.foreach { case (a, b) =>
          if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
          else ce = math.max(ce, b)
        }
        if (ce > cs) covered += ce - cs
        math.max(0.0, (s.end - s.start) - covered)
      }.sum
    }
  }

  def writeSpans(path: String, extra: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    val sb = new StringBuilder
    sb.append(s"""{"run":"$runId","fields":["id","name","start_s","end_s","parent"],"spans":[""")
    sb.append(spans.asScala.toSeq.sortBy(_.id).map(s =>
      f"""[${s.id},"${s.name}",${s.start}%.6f,${s.end}%.6f,${s.parent}]""").mkString(","))
    sb.append("],\"self_time_s\":{")
    sb.append(selfTimes.toSeq.sortBy(_._1).map { case (n, v) => f""""$n":$v%.6f""" }.mkString(","))
    sb.append("}")
    if (extra.nonEmpty) sb.append(",").append(extra)
    sb.append("}\n")
    java.nio.file.Files.write(p, sb.toString.getBytes("UTF-8"))
  }
}

/** Forwards every [[IvmStore]] method to `inner`, timing it through the
  * meter. `concurrentParts` is package-private to graft.ivm and cannot be
  * overridden here; its default (false) is also ParquetStore's value. */
final class TracingStore(val inner: IvmStore, meter: Meter) extends IvmStore {
  override def get(name: String): Option[DataFrame] =
    meter.storeCall("get", name)(inner.get(name))
  override def put(name: String, df: DataFrame): Unit =
    meter.storeCall("put", name)(inner.put(name, df))
  override def putKeyed(name: String, df: DataFrame, bucketKeys: Seq[String]): Unit =
    meter.storeCall("putKeyed", name)(inner.putKeyed(name, df, bucketKeys))
  override def slice(name: String, keyDf: DataFrame, sliceKeys: Seq[String]): DataFrame =
    meter.storeCall("slice", name)(inner.slice(name, keyDf, sliceKeys))
  override def merge(name: String, updated: DataFrame, mergeKeys: Seq[String],
      alive: Column, bucketKeys: Seq[String], keyHint: DataFrame): Unit =
    meter.storeCall("merge", name)(
      inner.merge(name, updated, mergeKeys, alive, bucketKeys, keyHint))
  override def transaction[A](body: => A): A =
    meter.storeTxn[A](b => inner.transaction(b), body)
  override def readSnapshot(): IvmStore =
    meter.storeCall("readSnapshot", "")(new TracingStore(inner.readSnapshot(), meter))
  override def setTag(key: String, value: String): Unit =
    meter.storeCall("setTag", key)(inner.setTag(key, value))
  override def getTag(key: String): Option[String] =
    meter.storeCall("getTag", key)(inner.getTag(key))
  override def dropView(view: String): Unit =
    meter.storeCall("dropView", view)(inner.dropView(view))
  override def apply(name: String): DataFrame =
    meter.storeCall("apply", name)(inner.apply(name))
}
