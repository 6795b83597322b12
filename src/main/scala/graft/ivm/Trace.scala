package graft.ivm

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, GraftTemplates, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.types.StructType

/** Trace replay — the per-batch AMORTIZER for the refresh walk itself.
  *
  * A maintained view's refresh is a deterministic walk (ZDelta) that
  * composes a few dozen DataFrame operations, pins O(touched)
  * intermediates, and queues state merges. The walk's STRUCTURE is
  * batch-invariant — only the delta rows and small-state contents change —
  * yet each batch re-pays the whole Dataset-API composition (one eager
  * Catalyst analysis per operator), which is the dominant slice of the
  * small-batch refresh floor even after physical plans are template-cached
  * ([[org.apache.spark.sql.GraftTemplates]] amortizes the ACTION cost;
  * this layer amortizes the CONSTRUCTION cost above it).
  *
  * Recording: a fresh walk captures, in order, every pin (tag + analyzed
  * plan), every queued [[ZDelta.StateUpdate]] (path/keys + analyzed plan +
  * key-hint role), and the final ΔV plan. Every engine-created
  * LocalRelation leaf carries a ROLE in its attribute metadata
  * ("delta:<table>", "state:<name>", "pin:<tag>"), so a recorded plan is a
  * closed function of role → rows.
  *
  * Replay: next batch, resolve each role to CURRENT rows (this batch's
  * collected deltas, the frozen snapshot's driver-resident states, pins
  * produced earlier in this very replay), swap the rows into the recorded
  * plans' leaves (attrs — hence exprIds — unchanged, so the plans stay
  * analyzed AND hit the physical template cache), execute pins in recorded
  * order, queue the recorded state updates, return the swapped final plan.
  * No Dataset composition, no per-operator analysis.
  *
  * Soundness gates (any failure falls back to a fresh walk, which
  * re-records):
  *   - the batch signature must match: same present-delta tables, same
  *     needDelta/broadcast flags, same view structure, local path on;
  *   - state-existence probes observed during recording must re-observe
  *     identically (a delta accumulator created since changes the plan);
  *   - every recorded state read must resolve to a structurally identical
  *     plan (same [[GraftTemplates.cacheKey]]) whose leaf is a
  *     driver-resident local — a state that grew to a distributed/bucketed
  *     layout changes paths per batch and cannot replay;
  *   - leaf schemas (type + nullability) must match the recording;
  *   - views with sketch aggregates never record (their retraction probe
  *     is data-dependent control flow that reshapes the plan per batch).
  *
  * 100 TB note: like the template cache, this only serves the small-batch
  * LOCAL path. The win scales with view count × batch rate — the
  * single-driver bottleneck of a maintenance fleet; large batches take
  * fresh walks where construction cost is noise against data cost.
  */
private[ivm] object Trace {

  sealed trait Step
  final case class Pin(tag: String, plan: LogicalPlan, schema: StructType)
      extends Step
  final case class Update(path: String, keys: Seq[String],
      bucketKeys: Seq[String], plan: LogicalPlan, keyHintRole: String,
      alive: Column) extends Step

  /** Mutable capture for one fresh walk. THREAD-SAFE: the walk may compose
    * independent join-side chains on parallel threads (ZDelta's walk-level
    * fork), so every mutation synchronizes on this recorder. The resulting
    * tape is append-ordered by wall time, which is a valid topological
    * order for replay: a step can only reference a pin frame that already
    * existed (and was therefore already recorded) when the step was
    * composed. */
  final class Recorder {
    val steps = mutable.Buffer[Step]()
    /** ctx-path → state existed (the stateOpt probes: accumulator reads). */
    val probes = mutable.LinkedHashMap[String, Boolean]()
    @volatile var invalidReason: String = null
    def invalid: Boolean = invalidReason != null
    def invalidate(r: String): Unit = synchronized {
      if (invalidReason == null) invalidReason = r
    }

    def recordProbe(path: String, exists: Boolean): Unit = synchronized {
      probes.getOrElseUpdate(path, exists); ()
    }

    def recordPin(tag: String, df: DataFrame): Unit = if (!invalid) {
      // analyze OUTSIDE the lock (concurrent chains must not serialize on
      // Catalyst analysis); append + duplicate check inside
      val plan = df.queryExecution.analyzed
      val schema = df.schema
      synchronized {
        if (invalid) return
        if (steps.exists { case Pin(t, _, _) => t == tag; case _ => false })
          invalidate(s"duplicate pin tag '$tag'")
        else {
          checkLeaves(plan)
          steps += Pin(tag, plan, schema)
        }
      }
    }

    def recordUpdate(u: ZDelta.StateUpdate): Unit = if (!invalid) {
      val hintRole =
        if (u.keyHint == null) ""
        else hintRoleOf(u.keyHint).getOrElse {
          invalidate(s"unroled keyHint for state '${u.path}'"); return
        }
      if (hintRole.nonEmpty && !hintRole.startsWith("pin:")) {
        invalidate(s"keyHint of '${u.path}' is not a pin ($hintRole)"); return
      }
      val plan = u.updated.queryExecution.analyzed
      synchronized {
        if (invalid) return
        checkLeaves(plan)
        steps += Update(u.path, u.keys, u.bucketKeys, plan, hintRole, u.alive)
      }
    }

    /** A state/slice read must be fully driver-resident to replay: a
      * distributed state embeds SEGMENT PATHS that change (and get pruned)
      * every merge — replaying a recorded path reads stale or deleted
      * files. Called by the refresh's state-access lambdas. */
    def checkStateRead(df: DataFrame): Unit = if (!invalid) {
      val nonLocal = df.queryExecution.analyzed.collectLeaves()
        .exists(!_.isInstanceOf[LocalRelation])
      if (nonLocal) invalidate("distributed state read")
    }

    /** Every local leaf must be resolvable next batch: role-tagged, or an
      * untagged literal (schema-derived constant, batch-invariant). A
      * pid-tagged local WITHOUT a role came from a path this layer does
      * not know how to refresh. File-source leaves here are immutable BASE
      * snapshots (maintenance contract) and stay by path — state reads are
      * separately forced local by [[checkStateRead]]. */
    private def checkLeaves(plan: LogicalPlan): Unit = {
      // replay's leaf swap does not descend into subquery expressions —
      // a role leaf hidden inside one would replay stale rows
      if (plan.subqueriesAll.nonEmpty) invalidate("subquery in traced plan")
      plan.collectLeaves().foreach {
        case l: LocalRelation
            if GraftTemplates.roleOf(l.output).isEmpty &&
              l.output.headOption.exists(_.metadata.contains(GraftTemplates.PID)) =>
          invalidate("pid-tagged local without a role")
        case _ => ()
      }
    }
  }

  /** Role of a pin-result frame (Repartition(1, LocalRelation)). */
  private def hintRoleOf(df: DataFrame): Option[String] = {
    val leaves = df.queryExecution.analyzed.collectLeaves()
    leaves match {
      case Seq(l: LocalRelation) => GraftTemplates.roleOf(l.output)
      case _                     => None
    }
  }

  /** One recorded refresh, replayable while its guards hold. */
  final case class Tape(sig: String, steps: Seq[Step],
      probes: Map[String, Boolean],
      /** state role → structural key of its snapshot read at record time */
      stateKeys: Map[String, String],
      finalPlan: LogicalPlan)

  private val tapes =
    new java.util.WeakHashMap[IvmStore, TrieMap[String, Tape]]()
  def tapeFor(store: IvmStore, view: String): Option[Tape] =
    tapes.synchronized(Option(tapes.get(store)).flatMap(_.get(view)))
  def putTape(store: IvmStore, view: String, t: Tape): Unit =
    tapes.synchronized {
      var m = tapes.get(store)
      if (m == null) { m = TrieMap.empty; tapes.put(store, m) }
      m.put(view, t)
    }
  def dropTape(store: IvmStore, view: String): Unit =
    tapes.synchronized(Option(tapes.get(store)).foreach(_.remove(view)))

  // ScalarDeco parts replay concurrently on the parts pool
  private val replayCount = new java.util.concurrent.atomic.AtomicLong()
  def replays: Long = replayCount.get()
  def enabled: Boolean =
    !sys.props.get("graft.traceReplay").contains("false")
  /** Dev flag (-Dgraft.traceDebug=true): print why a walk did not record
    * or a tape did not replay — the first place to look when a view's
    * steady-state refresh is paying fresh-walk costs. */
  private[ivm] def debug(msg: => String): Unit =
    if (sys.props.get("graft.traceDebug").contains("true"))
      println(s"[trace] $msg")

  /** Views this layer records: aggregate-topped, or JOIN-FREE SPJ-topped,
    * with no sketch aggregates anywhere (the sketch retraction probe is
    * data-dependent control flow).
    *
    * SPJ tops replay fine — the walk's final ΔV plan is the tape's final
    * plan and mergeTop composes fresh after it either way — but a JOIN
    * anywhere in the view means recording would suppress the touched-key
    * literal pruning of the join's current sides (pruneAllowed only fires
    * on walks that cannot record), trading a proven scan-level win for a
    * tape the single-refresh gated shape never replays. Join-free SPJ
    * views (the dedup-cascade signature level: project/filter over a
    * scan) have nothing to prune, so the tape is pure win: the cascade's
    * level-1 walk stops re-paying Dataset composition every micro-batch. */
  def traceable(q: IvmQuery): Boolean = {
    def joinFree(n: IvmQuery): Boolean = n match {
      case _: Join | _: LeftJoin | _: RightJoin | _: FullJoin => false
      case Aggregate(c, _, _)     => joinFree(c)
      case Filter(c, _)           => joinFree(c)
      case Project(c, _)          => joinFree(c)
      case Union(l, r)            => joinFree(l) && joinFree(r)
      case Scan(_)                => true
      case TopK(c, _, _)          => joinFree(c)
      case WindowDeco(c, _)       => joinFree(c)
      case ExpandCount(c, _)      => joinFree(c)
      case ScalarDeco(c, subs, _) => joinFree(c) && subs.forall(joinFree)
    }
    if (!q.isInstanceOf[Aggregate] && !joinFree(q)) return false
    def noSketch(n: IvmQuery): Boolean = n match {
      case Aggregate(c, _, aggs) => !aggs.exists(ZDelta.isSketch) && noSketch(c)
      case Filter(c, _)          => noSketch(c)
      case Project(c, _)         => noSketch(c)
      case Union(l, r)           => noSketch(l) && noSketch(r)
      case Join(l, r, _)         => noSketch(l) && noSketch(r)
      case LeftJoin(l, r, _)     => noSketch(l) && noSketch(r)
      case RightJoin(l, r, _)    => noSketch(l) && noSketch(r)
      case FullJoin(l, r, _)     => noSketch(l) && noSketch(r)
      case Scan(_)               => true
      case TopK(c, _, _)         => noSketch(c)
      case WindowDeco(c, _)      => noSketch(c)
      case ExpandCount(c, _)     => noSketch(c)
      case ScalarDeco(c, subs, _) => noSketch(c) && subs.forall(noSketch)
    }
    noSketch(q)
  }

  def sig(view: String, q: IvmQuery, deltaTables: Seq[String],
      needDelta: Boolean, broadcastDeltas: Boolean): String =
    view + "|" + deltaTables.sorted.mkString(",") + "|" + needDelta + "|" +
      broadcastDeltas + "|" + q.toString.hashCode

  /** State roles referenced by any recorded plan. */
  private def stateRoles(steps: Seq[Step], finalPlan: LogicalPlan): Set[String] = {
    val plans = steps.map {
      case Pin(_, p, _)             => p
      case Update(_, _, _, p, _, _) => p
    } :+ finalPlan
    plans.flatMap(_.collect {
      case l: LocalRelation
          if GraftTemplates.roleOf(l.output).exists(_.startsWith("state:")) =>
        GraftTemplates.roleOf(l.output).get
    }).toSet
  }

  /** Finish a recording: compute the state-read structural keys and store
    * the tape (or drop the view's stale tape when the walk was
    * untraceable). `stateRead` resolves a FULL state name through the
    * batch's frozen snapshot. */
  def finish(store: IvmStore, view: String, sigStr: String, rec: Recorder,
      finalPlan: LogicalPlan,
      stateRead: String => Option[DataFrame]): Unit = {
    if (rec.invalid) {
      debug(s"$view NOT recorded: ${rec.invalidReason}")
      dropTape(store, view); return
    }
    val roles = stateRoles(rec.steps.toSeq, finalPlan)
    val keys = mutable.Map[String, String]()
    for (role <- roles) {
      val name = role.stripPrefix("state:")
      stateRead(name) match {
        case Some(df) =>
          keys(role) = GraftTemplates.cacheKey(df.queryExecution.analyzed)
        case None =>
          debug(s"$view NOT recorded: state '$name' unreadable at finish")
          dropTape(store, view); return
      }
    }
    putTape(store, view,
      Tape(sigStr, rec.steps.toSeq, rec.probes.toMap, keys.toMap, finalPlan))
  }

  /** Replay a tape against this batch. Returns the swapped final-ΔV frame,
    * or None when any guard fails (caller falls back to a fresh walk).
    * `deltaRows` resolves "delta:<t>" roles to (leaf attrs → rows) of this
    * batch's collected delta; `stateRead`/`probe` resolve through the
    * batch's frozen snapshot; `queue` receives the state updates exactly
    * as a fresh walk would queue them. */
  def replay(
      spark: SparkSession,
      tape: Tape,
      sigStr: String,
      deltaLocal: String => Option[DataFrame],
      stateRead: String => Option[DataFrame],
      probe: String => Boolean,
      queue: ZDelta.StateUpdate => Unit): Option[DataFrame] = {
    if (tape.sig != sigStr) { debug(s"no replay: sig changed"); return None }
    if (!tape.probes.forall { case (p, was) => probe(p) == was }) {
      debug("no replay: state-existence probe flipped"); return None }

    // resolve state + delta roles up front (schema- and structure-guarded)
    val roleRows = mutable.Map[String, Seq[InternalRow]]()
    val roleAttrs = mutable.Map[String, Seq[String]]()
    def attrsOf(l: LocalRelation): Seq[String] =
      l.output.map(a => a.dataType.sql + (if (a.nullable) "?" else "!"))
    def leafOf(df: DataFrame, role: String): Option[LocalRelation] =
      df.queryExecution.analyzed.collectLeaves().collectFirst {
        case l: LocalRelation if GraftTemplates.roleOf(l.output).contains(role) => l
      }
    for ((role, key) <- tape.stateKeys) {
      val name = role.stripPrefix("state:")
      stateRead(name) match {
        case Some(df) =>
          if (GraftTemplates.cacheKey(df.queryExecution.analyzed) != key) {
            // layout changed (grew distributed / re-bucketed)
            debug(s"no replay: state '$name' structural key changed")
            return None
          }
          leafOf(df, role) match {
            case Some(l) =>
              roleRows(role) = l.data; roleAttrs(role) = attrsOf(l)
            case None =>
              debug(s"no replay: state '$name' has no role leaf"); return None
          }
        case None =>
          debug(s"no replay: state '$name' unreadable"); return None
      }
    }

    // roles actually referenced; resolve delta roles lazily from the batch
    def resolve(role: String, want: Seq[String]): Option[Seq[InternalRow]] =
      roleRows.get(role) match {
        case Some(r) =>
          if (roleAttrs.get(role).forall(_ == want)) Some(r) else None
        case None if role.startsWith("delta:") =>
          val t = role.stripPrefix("delta:")
          deltaLocal(t).flatMap(df => leafOf(df, role)).flatMap { l =>
            if (attrsOf(l) != want) None
            else {
              roleRows(role) = l.data; roleAttrs(role) = attrsOf(l)
              Some(l.data)
            }
          }
        case None => None // a pin role not yet produced → broken ordering
      }

    var aborted = false
    def swap(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case l: LocalRelation if GraftTemplates.roleOf(l.output).isDefined =>
        val role = GraftTemplates.roleOf(l.output).get
        resolve(role, l.output.map(a =>
          a.dataType.sql + (if (a.nullable) "?" else "!"))) match {
          case Some(rows) => l.copy(data = rows)
          case None       => aborted = true; l
        }
    }

    val pinSchemas = mutable.Map[String, StructType]()
    for (step <- tape.steps if !aborted) step match {
      case Pin(tag, plan, schema) =>
        val swapped = swap(plan)
        if (!aborted) {
          val rows = GraftTemplates.collectLogical(spark, swapped).toSeq
          roleRows(s"pin:$tag") = rows
          pinSchemas(s"pin:$tag") = schema
        }
      case Update(path, keys, bucketKeys, plan, hintRole, alive) =>
        val swapped = swap(plan)
        if (!aborted) {
          val dfU = GraftTemplates.ofPlan(spark, swapped)
          val hint =
            if (hintRole.isEmpty) null
            else GraftTemplates.taggedLocal(spark, pinSchemas(hintRole),
              roleRows(hintRole), hintRole).coalesce(1)
          queue(ZDelta.StateUpdate(path, keys, dfU, bucketKeys,
            keyHint = hint, alive = alive))
        }
    }
    if (aborted) { debug("no replay: a role failed to resolve mid-tape"); None }
    else {
      val fin = swap(tape.finalPlan)
      if (aborted) None
      else {
        replayCount.incrementAndGet()
        Some(GraftTemplates.ofPlan(spark, fin))
      }
    }
  }
}
