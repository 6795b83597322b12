package graft.ivm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Generalized delta transform over signed weights (Z-sets) — the engine
  * the reference's poster describes but its code does not reach: composable
  * delta rules ("IVM transforms should be composable to allow chaining like
  * with relational operators" — poster), including joins (the poster's
  * TPC-H Q13 running example) and the delta-application step the reference
  * leaves as future work.
  *
  * Every delta DataFrame carries [[IvmCore.WEIGHT]] (+n insert / -n delete).
  * Delta rules (DBToaster/DBSP-style; poster refs [2][3]):
  *
  *   - Δ(σ_p Q)        = σ_p(ΔQ)
  *   - Δ(Π_c Q)        = Π_{c∪w}(ΔQ)
  *   - Δ(A ⋈ B)        = ΔA⋈B ⊎ A⋈ΔB ⊎ ΔA⋈ΔB, weights multiplied
  *   - Δ(γ_{g;aggs} Q) = for each group touched by ΔQ: retract the old
  *     output row (w=-1, if the group existed) and assert the new one
  *     (w=+1, if the group still has rows) — requires the materialized old
  *     aggregate state, threaded via [[IvmStore]].
  *
  * Scale notes (100 TB design): deltas are assumed small relative to bases,
  * so every delta⋈base join broadcasts the DELTA side (no shuffle of the
  * base), and the aggregate-state merge broadcasts the touched-groups frame
  * against the state (right_outer with the small side broadcast). Base-side
  * scans remain plain parquet reads with Catalyst pushdown. Set
  * `broadcastDeltas = false` for genuinely large delta batches — the plan
  * degrades gracefully to shuffle joins chosen by AQE.
  */
object ZDelta {
  import IvmCore.{WEIGHT, MULT, HCOUNT, localLeaf}

  /** One pending aggregate-state replacement discovered during delta
    * computation: `updated` holds the post-delta rows for every touched
    * group (including dead ones, HCOUNT = 0). `bucketKeys` (empty = same
    * as `keys`) is the state's storage layout key — an aux value-multiset
    * merges on (group, value) but is bucketed on group alone. */
  final case class StateUpdate(
      path: String, keys: Seq[String], updated: DataFrame,
      bucketKeys: Seq[String] = Seq.empty,
      /** small cached frame covering `updated`'s bucket keys — lets the
        * store find touched buckets without re-running `updated`'s plan */
      keyHint: DataFrame = null,
      /** liveness predicate for merged rows; null → the default
        * `HCOUNT > 0`. Delta accumulators keep NEGATIVE counts (a net
        * deletion of a base row) and die only at exactly 0. */
      alive: Column = null)

  final case class Ctx(
      base: String => DataFrame,
      deltaOf: String => Option[DataFrame],
      state: String => DataFrame,
      broadcastDeltas: Boolean = true,
      updates: mutable.Buffer[StateUpdate] = mutable.Buffer.empty,
      pins: mutable.Buffer[DataFrame] = mutable.Buffer.empty,
      sliceFn: (String, DataFrame, Seq[String]) => DataFrame = null,
      /** Maps a stateful node to its state path. Default: the positional
        * path (private per-view state). [[Ivm.refreshShared]] supplies a
        * content-addressed namer so identical subtrees across views hit
        * the SAME state, and [[onceMemo]] then computes each shared
        * subtree's delta (and queues its StateUpdate) exactly once per
        * batch. */
      namer: (IvmQuery, String) => String = (_, p) => p,
      /** Optional state read: None when the state was never created. Used
        * by [[currentW]] for the per-table delta accumulators, which are
        * created lazily on a table's first delta — so a view that never
        * saw a second batch reads pure base with zero plan overhead. */
      stateOpt: String => Option[DataFrame] = _ => None,
      /** Cross-refresh memo for subtree output schemas (keyed by plan
        * path): a view's schema never changes between batches, so callers
        * running a maintenance loop pass a per-view persistent map and
        * skip re-analyzing `Eval.eval(subtree)` on every refresh just to
        * type NULL columns. Default: fresh (no reuse, still dedupes
        * within one delta computation). Concurrent: parallel walk threads
        * ([[ZDelta.forkJoin]]) share it. */
      schemaMemo: mutable.Map[String, org.apache.spark.sql.types.StructType] =
        scala.collection.concurrent.TrieMap.empty,
      /** False when the caller discards the TOP-LEVEL ΔV (refreshState on
        * an Aggregate-top view reads the maintained state afterwards, not
        * the changelog): the top aggregate then skips pinning its state
        * join and never builds the retract/assert output plan — a
        * measurable slice of the per-batch planning floor. Interior
        * aggregates are unaffected (their ΔV feeds the parent). */
      needTopDelta: Boolean = true,
      /** > 0 enables the SMALL-BATCH LOCAL path: [[pin]] collects frames
        * up to this many rows into driver-side [[LocalRelation]]s instead
        * of checkpointing. Every pinned frame is O(touched) and the engine
        * already broadcasts them all — "fits a broadcast" and "fits the
        * driver" are the same assumption, Spark's own broadcast exchange
        * collects to the driver first. The payoff is per-batch job count:
        * Catalyst folds projections/filters over local relations
        * (ConvertToLocalRelation), so touched-bucket collects, broadcast
        * builds, and changelog derivations stop scheduling Spark jobs.
        * [[Ivm]] sets this only after verifying the batch's delta tables
        * are under `graft.localBatchRows`; a pin that still exceeds the
        * cap falls back to the checkpoint path. 0 = always checkpoint
        * (the large-batch distributed path). */
      localCap: Int = 0,
      /** Fired as each [[StateUpdate]] is queued (after it lands in
        * [[updates]]). [[Ivm.refresh]] uses it to submit the state commit
        * CONCURRENTLY with the remaining plan construction — a state's
        * merge I/O overlaps the planning of its siblings instead of
        * waiting for the whole delta plan. Callers owning the hook must
        * drain their commits before the store transaction closes. null =
        * no hook (callers commit from [[updates]] at the end). */
      onUpdate: StateUpdate => Unit = null,
      /** Non-null while a fresh walk is being trace-recorded ([[Trace]]):
        * pins and queued updates capture their analyzed plans for replay. */
      recorder: Trace.Recorder = null,
      /** Resolved state names of aggregates that are ONLY view tops this
        * batch (never an interior of any refreshed view) — with
        * [[needTopDelta]] false their ΔV has no consumer, so the state
        * join stays unpinned and the retract/assert plan is never built.
        * The positional-path case detects its top as `path == "r"`;
        * content-addressed shared groups must pass names explicitly. */
      topOnly: Set[String] = Set.empty,
      /** View created with `insertOnly = true`: extremum aggregates fold
        * per-batch inserted extrema into the stored value with NO aux
        * multiset (O(groups) total state instead of O(rows)); a deletion
        * reaching one raises. The append-only contract of most
        * training-data pipelines, matching the sketch family's. */
      insertOnly: Boolean = false,
      /** Occurrence counts, by OBJECT IDENTITY, of stateless compound
        * subtrees referenced more than once in the view (a CTE scanned
        * from several consumers — [[SqlFrontend]] substitutes the same
        * instance at every use site). Populated by [[countShared]];
        * empty = no intra-batch delta CSE (the pre-existing behavior). */
      sharedCounts: java.util.IdentityHashMap[IvmQuery, java.lang.Integer] =
        new java.util.IdentityHashMap) {
    /** True while a KEY-PRUNED current side is being composed (see
      * [[ZDelta.currentSide]]): the prune filter must reach the base
      * scans, so the shared-current cache is bypassed below that walk —
      * a filter above a cached frame stops at the cache boundary, and
      * materializing the unpruned cache is exactly the full base pass the
      * pruning exists to avoid. THREAD-LOCAL: independent join-side
      * chains compose on parallel walk threads (see [[ZDelta.forkJoin]]),
      * and one chain's pruned-current bracket must not leak into a
      * sibling's composition. */
    private val bypassTL = new ThreadLocal[java.lang.Boolean] {
      override def initialValue: java.lang.Boolean = java.lang.Boolean.FALSE
    }
    private[ivm] def bypassSharedCurrent: Boolean = bypassTL.get()
    private[ivm] def bypassSharedCurrent_=(b: Boolean): Unit = bypassTL.set(b)
    /** Compute-once cells: with parallel chain composition, the first
      * thread to need a shared frame computes it and concurrent readers
      * block until it is ready (compute-twice would double-pin and
      * double-queue state updates).
      *
      * Batch-scoped memo of stateful subtree deltas by resolved state name
      * ([[ZDelta.memoized]]): under a content-addressed [[namer]] each
      * shared subtree's delta (and its StateUpdate) is computed once. */
    private[ivm] val onceMemo =
      new java.util.concurrent.ConcurrentHashMap[String, ZDelta.Once[DataFrame]]
    /** Batch-scoped delta memo for the [[sharedCounts]] subtrees: the first
      * reference computes the subtree's delta and pins it, every later
      * reference reuses the pin — a triple-CTE view stops paying the CTE's
      * base-scan join once per consumer. Identity-keyed: only safe because
      * the keys are the literally-shared instances counted there. */
    private[ivm] val sharedDeltaOnce =
      new java.util.IdentityHashMap[IvmQuery, ZDelta.Once[DataFrame]]
    /** Batch-scoped memo for shared subtrees' CURRENT content (cached, not
      * pinned — currents are O(base)); see [[currentW]]. */
    private[ivm] val sharedCurrentOnce =
      new java.util.IdentityHashMap[IvmQuery, ZDelta.Once[DataFrame]]
    /** Queue a state update and fire [[onUpdate]]. Synchronized: parallel
      * chains queue their states concurrently. */
    def queue(u: StateUpdate): Unit = {
      if (recorder != null) recorder.recordUpdate(u)
      updates.synchronized { updates += u }
      if (onUpdate != null) onUpdate(u)
    }
    /** Analyzed output schema of subtree `q`, memoized across refreshes
      * (see [[schemaMemo]]). Keyed structurally (`q.toString`) so shared
      * subtrees dedupe and distinct views in one shared-group Ctx never
      * collide on positional paths. */
    def schemaOf(q: IvmQuery, path: String): org.apache.spark.sql.types.StructType =
      schemaMemo.getOrElseUpdate(q.toString, Eval.eval(q, base).schema)
    /** State rows for the touched keys in `keyDf` — bucket-pruned when the
      * backing store supports it ([[IvmStore.slice]]), else a broadcast
      * semi-join over the full state. NOTE: the bucketed path evaluates
      * `keyDf` eagerly — pass a cached frame. */
    def slice(path: String, keyDf: DataFrame, keys: Seq[String]): DataFrame =
      if (sliceFn == null) StoreOps.semiByKeys(state(path), keyDf, keys)
      else sliceFn(path, keyDf, keys)

    /** Pin an O(touched)-size intermediate consumed by several downstream
      * plans. Default mode is a LAZY `localCheckpoint`: the logical plan
      * truncates to a leaf IMMEDIATELY (so the composite delta plan's
      * Catalyst analysis cost stays O(level) instead of compounding over
      * the whole lineage — on a join view at sf0.1 this is most of the
      * per-batch floor), while the data materializes on first use INSIDE
      * the commit actions — the pin chain executes as stages of the
      * merges' own (concurrent) jobs instead of one serial driver-blocking
      * job per pin; concurrent consumers dedupe through the RDD cache
      * locks. Checkpointed pins free their blocks via the
      * ContextCleaner once the refresh drops them; unpersist() on them is
      * a harmless no-op. Like any localCheckpoint, losing an executor
      * mid-refresh fails the batch (retry the refresh) rather than
      * recomputing lineage — acceptable for a maintenance loop under low
      * churn, and the small-batch local path sidesteps it entirely (pins
      * live on the driver). For clusters with dynamic allocation /
      * preemption, `-Dgraft.pinMode=reliable` pins via RELIABLE
      * checkpoint instead: blocks persist to the context's checkpoint
      * directory (HDFS/S3-compatible), so an executor loss mid-refresh
      * degrades to a re-read, not a failed batch. Requires
      * `sparkContext.setCheckpointDir` (fails fast otherwise); costs one
      * distributed write per pin — the price of the durability. */
    def pin(df: DataFrame, tag: String = "?"): DataFrame = {
      val c =
        if (localCap > 0) {
          // small-batch path: one plain collect to a LocalRelation (the
          // batch gate already bounds O(touched) frames). Driver-resident,
          // so it needs no executor durability — reliable mode keeps it.
          if (recorder != null) recorder.recordPin(tag, df)
          Ivm.toLocal(df, s"pin:$tag")
        } else if (Ivm.reliablePins) {
          require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
            "graft.pinMode=reliable needs sparkContext.setCheckpointDir " +
              "(an HDFS/S3-compatible path) before refresh")
          // EAGER: a lazy reliable checkpoint completes inside whichever
          // concurrent commit job first finishes over the pin, and Spark's
          // RDDCheckpointData lock then inverts against the DAG
          // scheduler's per-RDD lock for the sibling jobs reading the same
          // pin (a JVM deadlock, seen in ModeEquivalenceSpec's reliable run)
          df.checkpoint(true)
        } else df.localCheckpoint(false)
      pins.synchronized { pins += c }; c
    }
  }

  /** Compute-once cell: the first caller runs `compute`, concurrent
    * callers block on the cell until the value is ready. Per-cell lock, so
    * distinct cells compute in parallel. */
  private[ivm] final class Once[A] {
    private var v: Option[A] = None
    def get(compute: => A): A = synchronized {
      v match {
        case Some(r) => r
        case None    => val r = compute; v = Some(r); r
      }
    }
  }

  private def once(m: java.util.IdentityHashMap[IvmQuery, Once[DataFrame]],
      k: IvmQuery): Once[DataFrame] = m.synchronized {
    var h = m.get(k)
    if (h == null) { h = new Once[DataFrame]; m.put(k, h) }
    h
  }

  // ---- walk-level parallel composition ----------------------------------
  //
  // When BOTH sides of a join carry deltas, their delta walks are
  // INDEPENDENT subtree compositions (disjoint state paths; the only
  // shared frames are CTE deltas, which the Once cells above serve
  // compute-once). Each walk is dominated by its serial pin collects
  // (driver-inline executions of O(touched) frames) — running the two
  // sides on separate threads overlaps those pins, which the r08 profile
  // measured as the dominant slice of the multi-state-view refresh floor
  // (~15 serial pin jobs per q113-class batch). This is the guide's §2.6
  // "overlap independent jobs" applied to the composition layer itself.
  // Trace recording stays sound: the recorder is synchronized and its
  // time-ordered tape is a valid topological order (a step can only
  // reference pins that already existed when it was composed).
  // Unbounded-on-demand pool: forks nest (a join inside a join side), and
  // a bounded pool could deadlock with every worker awaiting a child fork.
  // Thread count is bounded in practice by the view's join depth.
  private lazy val walkPool = java.util.concurrent.Executors.newCachedThreadPool(
    (r: Runnable) => {
      val t = new Thread(r, "ivm-walk"); t.setDaemon(true); t
    })

  /** Force `a` and `b` concurrently: `b` on the walk pool, `a` on the
    * calling thread. Rethrows `b`'s failure un-wrapped. */
  private def forkJoin[A, B](a: => A, b: => B): (A, B) = {
    val fb = walkPool.submit(new java.util.concurrent.Callable[B] {
      override def call(): B = b
    })
    val ra =
      try a
      catch {
        case e: Throwable =>
          fb.cancel(false)
          // surface the primary failure; the sibling's (if any) is moot
          try fb.get() catch { case _: Throwable => () }
          throw e
      }
    val rb =
      try fb.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          throw (if (e.getCause != null) e.getCause else e)
      }
    (ra, rb)
  }

  /** Does any scan under `q` have a delta? (Terms without deltas vanish.) */
  def hasDelta(q: IvmQuery, ctx: Ctx): Boolean =
    q.tables.exists(t => ctx.deltaOf(t).isDefined)

  /** True when `q` maintains NO state of its own anywhere below (pure
    * scan/filter/project/join/union tree) — the precondition for reusing
    * one walk path's delta at another path (see [[Ctx.sharedDeltaOnce]]). */
  private def stateless(q: IvmQuery): Boolean = q match {
    case Scan(_)        => true
    case Filter(c, _)   => stateless(c)
    case Project(c, _)  => stateless(c)
    case Join(l, r, _)  => stateless(l) && stateless(r)
    case Union(l, r)    => stateless(l) && stateless(r)
    case _              => false
  }

  /** Canonical state paths for STATEFUL node instances: every
    * Aggregate / outer-join instance maps to the FIRST (depth-first,
    * left-to-right — the same order the positional path labels encode)
    * position it occupies in `q`. An aggregate CTE spliced at several
    * positions (TPC-H Q15's `rev`, read by the main query AND its scalar
    * subquery) then resolves ONE state name everywhere: one state on
    * disk, one delta computation and one StateUpdate per batch (via
    * [[Ctx.onceMemo]]), instead of n positional twins each maintaining an
    * identical copy. Create and refresh both derive names through this
    * map, so they agree by construction; nodes occurring once map to
    * their own position (identity with the plain positional namer). */
  def canonicalPaths(q: IvmQuery):
      java.util.IdentityHashMap[IvmQuery, String] = {
    val m = new java.util.IdentityHashMap[IvmQuery, String]
    def walk(n: IvmQuery, path: String): Unit = {
      n match {
        case _: Aggregate | _: LeftJoin | _: RightJoin | _: FullJoin =>
          if (!m.containsKey(n)) m.put(n, path)
        case _ => ()
      }
      n match {
        case Scan(_)                => ()
        case Filter(c, _)           => walk(c, path + ".0")
        case Project(c, _)          => walk(c, path + ".0")
        case Aggregate(c, _, _)     => walk(c, path + ".0")
        case Join(l, r, _)          => walk(l, path + ".0"); walk(r, path + ".1")
        case LeftJoin(l, r, _)      => walk(l, path + ".0"); walk(r, path + ".1")
        case RightJoin(l, r, _)     => walk(l, path + ".0"); walk(r, path + ".1")
        case FullJoin(l, r, _)      => walk(l, path + ".0"); walk(r, path + ".1")
        case Union(l, r)            => walk(l, path + ".0"); walk(r, path + ".1")
        case TopK(c, _, _)          => walk(c, path)
        case WindowDeco(c, _)       => walk(c, path)
        case ExpandCount(c, _)      => walk(c, path)
        case ScalarDeco(c, _, _)    => walk(c, path) // subviews walk separately
      }
    }
    walk(q, "r")
    m
  }

  /** Populate `into` with identity-occurrence counts of every STATELESS
    * inner-join subtree referenced more than once under `q` — shared CTE
    * definitions, which [[SqlFrontend]] substitutes as the same instance
    * at every use site. Singletons are dropped so the [[delta]] Join case
    * tests sharing with one map hit. */
  def countShared(q: IvmQuery,
      into: java.util.IdentityHashMap[IvmQuery, java.lang.Integer]): Unit = {
    def walk(n: IvmQuery): Unit = {
      n match {
        case j: Join if stateless(j) =>
          val prev = into.get(j)
          into.put(j, if (prev == null) 1 else prev + 1)
        case _ => ()
      }
      n match {
        case Scan(_)                => ()
        case Filter(c, _)           => walk(c)
        case Project(c, _)          => walk(c)
        case Aggregate(c, _, _)     => walk(c)
        case Join(l, r, _)          => walk(l); walk(r)
        case LeftJoin(l, r, _)      => walk(l); walk(r)
        case RightJoin(l, r, _)     => walk(l); walk(r)
        case FullJoin(l, r, _)      => walk(l); walk(r)
        case Union(l, r)            => walk(l); walk(r)
        case TopK(c, _, _)          => walk(c)
        case WindowDeco(c, _)       => walk(c)
        case ExpandCount(c, _)      => walk(c)
        case ScalarDeco(c, subs, _) => walk(c); subs.foreach(walk)
      }
    }
    walk(q)
    val it = into.entrySet().iterator()
    while (it.hasNext) if (it.next().getValue <= 1) it.remove()
  }

  /** Inner join on `keys`; empty keys = cross join (the scalar-subquery
    * fold joins a 1-row global aggregate against the filtered child). */
  private[ivm] def joinOn(l: DataFrame, r: DataFrame, keys: Seq[String]): DataFrame =
    if (keys.isEmpty) l.crossJoin(r) else l.join(r, keys)

  // ---- current relations (base ⊎ applied deltas) ------------------------

  /** State path of table `t`'s delta accumulator (the signed multiset of
    * all deltas applied so far). Routed through the namer so shared-state
    * view groups share one accumulator per table. */
  private[ivm] def accPath(ctx: Ctx, t: String): String =
    ctx.namer(Scan(t), s"acc.$t")

  /** Tables needing a delta accumulator: reachable under a join side
    * without crossing a stateful node (stateful nodes read their own
    * state), THEMSELVES declared (a never-delta'd table is never stale),
    * and with a declared table on the OPPOSITE side (only an other-side
    * delta ever reads this side's current content). Tables feeding a
    * SKETCH-bearing aggregate also accumulate: the retraction fallback
    * rebuilds touched groups from `currentW(child)`, which must compose
    * every previously applied delta, not just the create-time snapshot. */
  private[ivm] def accTables(q: IvmQuery, declared: Set[String]): Set[String] = {
    def linear(n: IvmQuery): Set[String] = n match {
      case Scan(t)            => Set(t)
      case Filter(c, _)       => linear(c)
      case Project(c, _)      => linear(c)
      case Union(l, r)        => linear(l) ++ linear(r)
      case Join(l, r, _)      => linear(l) ++ linear(r)
      case LeftJoin(l, r, _)  => linear(l) ++ linear(r)
      case RightJoin(l, r, _) => linear(l) ++ linear(r)
      case FullJoin(l, r, _)  => linear(l) ++ linear(r)
      case _: Aggregate       => Set.empty
      case _: TopK | _: WindowDeco | _: ExpandCount | _: ScalarDeco =>
        Set.empty // decorations
    }
    def joinAcc(l: IvmQuery, r: IvmQuery): Set[String] = {
      val accL = if (r.tables.exists(declared)) linear(l) & declared else Set.empty[String]
      val accR = if (l.tables.exists(declared)) linear(r) & declared else Set.empty[String]
      accL ++ accR ++ accTables(l, declared) ++ accTables(r, declared)
    }
    q match {
      case Scan(_)            => Set.empty
      case Filter(c, _)       => accTables(c, declared)
      case Project(c, _)      => accTables(c, declared)
      case Aggregate(c, _, aggs) =>
        val own = if (aggs.exists(isSketch)) linear(c) & declared
                  else Set.empty[String]
        own ++ accTables(c, declared)
      case Union(l, r)        => accTables(l, declared) ++ accTables(r, declared)
      case Join(l, r, _)      => joinAcc(l, r)
      case LeftJoin(l, r, _)  => joinAcc(l, r)
      case RightJoin(l, r, _) => joinAcc(l, r)
      case FullJoin(l, r, _)  => joinAcc(l, r)
      case TopK(c, _, _)      => accTables(c, declared)
      case WindowDeco(c, _)   => accTables(c, declared)
      case ExpandCount(c, _)  => accTables(c, declared)
    }
  }

  /** CURRENT contents of a subtree as a weighted Z-relation (its output
    * columns + WEIGHT = signed multiplicity): the create-time base
    * snapshot ⊎ every PREVIOUSLY applied delta. Join delta terms must meet
    * the other side AS OF the previous batch — reading the raw base here
    * (the pre-accumulator behavior) silently dropped every cross-batch
    * interaction between tables delta'd in different batches. Stateful
    * nodes never replay: an Aggregate's current output IS its state; an
    * outer join composes current sides with anti rows driven by its
    * maintained match counts. */
  private[ivm] def currentW(q: IvmQuery, ctx: Ctx, path: String): DataFrame = q match {
    case Scan(t) =>
      val cols = ctx.base(t).columns.toSeq
      val b = ctx.base(t).withColumn(WEIGHT, lit(1L))
      ctx.stateOpt(accPath(ctx, t)) match {
        case Some(a) => b.unionByName(
          a.select(cols.map(col) :+ col(HCOUNT).cast("long").as(WEIGHT): _*))
        case None => b
      }
    case Filter(c, pred)  => currentW(c, ctx, path + ".0").filter(pred)
    case Project(c, cols) => currentW(c, ctx, path + ".0").select(cols :+ col(WEIGHT): _*)
    case Union(l, r) =>
      currentW(l, ctx, path + ".0").unionByName(currentW(r, ctx, path + ".1"))
    case j @ Join(l, r, keys) =>
      // Current-side CSE for shared CTE subtrees: the CURRENT content of a
      // stateless join referenced from several consumers is the same frame
      // in every term — cache() it once per batch (executor memory, spills
      // to disk; NEVER a driver collect — currents are O(base), not
      // O(touched)) so the base-scan join runs once instead of once per
      // union term. Unpersisted with the batch's pins.
      if (!ctx.bypassSharedCurrent && ctx.sharedCounts.getOrDefault(j, 1) > 1)
        once(ctx.sharedCurrentOnce, j).get {
          val c = joinCurrent(l, r, keys, ctx, path).cache()
          ctx.pins.synchronized { ctx.pins += c }
          c
        }
      else joinCurrent(l, r, keys, ctx, path)
    case agg @ Aggregate(_, keys, aggs) =>
      ctx.state(ctx.namer(agg, path))
        .select(keys.map(col) ++ aggs.map(Eval.stateOutput): _*)
        .withColumn(WEIGHT, lit(1L))
    case lj @ LeftJoin(l, r, keys) =>
      outerCurrent(l, r, keys, ctx, ctx.namer(lj, path), path,
        preserveL = true, preserveR = false)
    case rj @ RightJoin(l, r, keys) =>
      outerCurrent(l, r, keys, ctx, ctx.namer(rj, path), path,
        preserveL = false, preserveR = true)
    case fj @ FullJoin(l, r, keys) =>
      outerCurrent(l, r, keys, ctx, ctx.namer(fj, path), path,
        preserveL = true, preserveR = true)
    case _: TopK | _: WindowDeco | _: ExpandCount =>
      throw new UnsupportedOperationException(
        "TopK/window/expand under a join side is out of surface (not Z-linear)")
  }

  /** current(A) ⋈ current(B): weights multiply. */
  private def joinCurrent(
      l: IvmQuery, r: IvmQuery, keys: Seq[String], ctx: Ctx, path: String): DataFrame = {
    val lw = currentW(l, ctx, path + ".0").withColumnRenamed(WEIGHT, "__ivm_cwl")
    val rw = currentW(r, ctx, path + ".1").withColumnRenamed(WEIGHT, "__ivm_cwr")
    joinOn(lw, rw, keys)
      .withColumn(WEIGHT, col("__ivm_cwl") * col("__ivm_cwr"))
      .select(joinOut(l, r, keys, ctx) :+ col(WEIGHT): _*)
  }

  /** Current contents of an outer join: current inner part ⊎ preserved
    * anti rows. Anti keys are exactly those ABSENT from the other side's
    * match-count state (commit drops counts at 0), so a plain equi
    * left_anti both finds them and keeps SQL's NULL-keys-never-match. */
  private def outerCurrent(
      l: IvmQuery, r: IvmQuery, keys: Seq[String], ctx: Ctx, name: String,
      path: String, preserveL: Boolean, preserveR: Boolean): DataFrame = {
    val outCols = joinOut(l, r, keys, ctx)
    val lNonKey = outputNames(l, ctx).filterNot(keys.contains)
    val rNonKey = outputNames(r, ctx).filterNot(keys.contains)
    val lSchema = ctx.schemaOf(l, path + ".0")
    val rSchema = ctx.schemaOf(r, path + ".1")
    val nullL: Seq[Column] = lNonKey.map(n => lit(null).cast(lSchema(n).dataType).as(n))
    val nullR: Seq[Column] = rNonKey.map(n => lit(null).cast(rSchema(n).dataType).as(n))
    val terms = mutable.Buffer(joinCurrent(l, r, keys, ctx, path))
    if (preserveL) {
      val live = ctx.state(s"$name.rcnt").where(col(HCOUNT) > 0)
        .select(keys.map(col): _*)
      terms += currentW(l, ctx, path + ".0")
        .join(broadcast(live), keys, "left_anti")
        .select((keys.map(col) ++ lNonKey.map(col) ++ nullR :+ col(WEIGHT)): _*)
        .select(outCols :+ col(WEIGHT): _*)
    }
    if (preserveR) {
      val live = ctx.state(s"$name.lcnt").where(col(HCOUNT) > 0)
        .select(keys.map(col): _*)
      terms += currentW(r, ctx, path + ".1")
        .join(broadcast(live), keys, "left_anti")
        .select((keys.map(col) ++ nullL ++ rNonKey.map(col) :+ col(WEIGHT)): _*)
        .select(outCols :+ col(WEIGHT): _*)
    }
    terms.reduce(_.unionByName(_))
  }

  /** Queue this batch's delta-accumulator merges: for every join-side
    * table with a delta, `acc.<t> += Δt` as a signed row multiset. Reads
    * resolve the pre-batch snapshot (commits happen after), and the
    * accumulator is CREATED on a table's first delta — single-batch
    * refreshes never pay for it. */
  private[ivm] def queueAccUpdates(q: IvmQuery, ctx: Ctx, declared: Set[String]): Unit =
    for (t <- accTables(q, declared).toSeq.sorted; d <- ctx.deltaOf(t)) {
      val p = accPath(ctx, t)
      if (!ctx.updates.synchronized(ctx.updates.exists(_.path == p))) {
        val cols = ctx.base(t).columns.toSeq
        val adj = ctx.pin(weighted(d).groupBy(cols.map(col): _*)
          .agg(sum(WEIGHT).cast("long").as("__ivm_adj")), s"acc-adj.$t")
        val newTotals = ctx.stateOpt(p) match {
          case Some(_) =>
            val oldTouched = ctx.slice(p, adj, cols)
              .withColumnRenamed(HCOUNT, "__ivm_oldacc")
            leftOuterByKeys(adj, oldTouched, cols,
                hint = if (ctx.broadcastDeltas) broadcast else identity)
              .select(cols.map(col) :+
                (coalesce(col("__ivm_oldacc"), lit(0L)) + col("__ivm_adj"))
                  .as(HCOUNT): _*)
          case None =>
            adj.select(cols.map(col) :+ col("__ivm_adj").as(HCOUNT): _*)
        }
        ctx.queue(StateUpdate(p, cols, newTotals, keyHint = adj,
          alive = col(HCOUNT) =!= 0))
      }
    }

  // ---- null-safe state joins -------------------------------------------
  // Group keys can be NULL (SQL GROUP BY treats NULL as a group), but an
  // equi-join on the key columns would never match that group's state row
  // (NULL != NULL in join conditions). Every join against keyed STATE must
  // therefore use null-safe equality (<=>). Joins that implement actual
  // SQL join semantics (LOJ matching, anti-row scans) stay equi — there
  // NULL keys correctly never match.

  private def nullSafeCond(l: DataFrame, r: DataFrame, keys: Seq[String]): Column =
    keys.map(k => l(k) <=> r(k)).reduce(_ && _)

  /** left_semi / left_anti of `big` against `small`, null-safe on keys. */
  private[ivm] def filterByKeys(
      big: DataFrame, small: DataFrame, keys: Seq[String],
      anti: Boolean = false,
      hint: DataFrame => DataFrame = identity): DataFrame = {
    val s = hint(small.select(keys.map(col): _*))
    big.join(s, nullSafeCond(big, s, keys), if (anti) "left_anti" else "left_semi")
  }

  /** `drive LEFT OUTER other` null-safe on keys; result keeps `drive`'s key
    * columns and `other`'s non-key columns (other's keys are dropped). */
  private[ivm] def leftOuterByKeys(
      drive: DataFrame, other: DataFrame, keys: Seq[String],
      hint: DataFrame => DataFrame = identity): DataFrame = {
    val renamed = hint(keys.foldLeft(other) { (df, k) =>
      df.withColumnRenamed(k, s"__ivm_rk_$k")
    })
    val cond = keys.map(k => drive(k) <=> renamed(s"__ivm_rk_$k")).reduce(_ && _)
    drive.join(renamed, cond, "left_outer")
      .drop(keys.map(k => s"__ivm_rk_$k"): _*)
  }

  /** Normalize a boolean-multiplicity delta table to signed-weight form. */
  def weighted(deltaTable: DataFrame): DataFrame =
    deltaTable
      .withColumn(WEIGHT, when(col(MULT), lit(1)).otherwise(lit(-1)))
      .drop(MULT)

  /** Signed-weight delta of `q`. Result schema = output of `q` + WEIGHT.
    * Caller must ensure `hasDelta(q)`. Aggregate nodes append a
    * [[StateUpdate]] to `ctx.updates`; [[Ivm.refresh]] commits them. */
  def delta(q: IvmQuery, ctx: Ctx, path: String = "r"): DataFrame = q match {

    case Scan(t) =>
      val d = ctx.deltaOf(t).getOrElse {
        throw new IllegalStateException(
          s"IVM: delta table ${IvmCore.deltaTableName(t)} not found for base table $t")
      }
      weighted(d)

    case Filter(c, pred) =>
      delta(c, ctx, path + ".0").filter(pred)

    case Project(c, cols) =>
      delta(c, ctx, path + ".0").select(cols :+ col(WEIGHT): _*)

    case Join(l, r, keys) =>
      // Intra-batch delta CSE: a stateless join subtree referenced from
      // several consumers (a CTE) computes its delta ONCE into a pin; the
      // other references reuse the pinned frame. Without this, a
      // triple-CTE view (TPC-H Q21 shape) re-runs the CTE's base-scan
      // join terms once per consumer AND once per union term downstream —
      // the dominant slice of its per-batch floor. Stateless-only: a
      // subtree carrying state (aggregate / outer join) names its states
      // by walk path, and reusing another path's delta would leave this
      // path's states un-maintained.
      if (ctx.sharedCounts.getOrDefault(q, 1) > 1)
        once(ctx.sharedDeltaOnce, q).get(
          ctx.pin(deltaJoin(l, r, keys, ctx, path), s"$path.cse"))
      else deltaJoin(l, r, keys, ctx, path)

    // Δ(A ⊎ B) = ΔA ⊎ ΔB — stateless; a side without deltas contributes
    // nothing (a batch may touch only one input).
    case Union(l, r) =>
      (hasDelta(l, ctx), hasDelta(r, ctx)) match {
        case (true, true)  => delta(l, ctx, path + ".0")
          .unionByName(delta(r, ctx, path + ".1"))
        case (true, false) => delta(l, ctx, path + ".0")
        case (false, true) => delta(r, ctx, path + ".1")
        case _ => throw new IllegalStateException(
          s"delta of union with no deltas on either side at $path")
      }

    case LeftJoin(l, r, keys) =>
      memoized(ctx, q, path)(p =>
        deltaOuterJoin(l, r, keys, ctx, p, preserveL = true, preserveR = false))

    case RightJoin(l, r, keys) =>
      memoized(ctx, q, path)(p =>
        deltaOuterJoin(l, r, keys, ctx, p, preserveL = false, preserveR = true))

    case FullJoin(l, r, keys) =>
      memoized(ctx, q, path)(p =>
        deltaOuterJoin(l, r, keys, ctx, p, preserveL = true, preserveR = true))

    case agg @ Aggregate(_, _, _) =>
      memoized(ctx, q, path)(p => deltaAggregate(agg, ctx, p))

    case _: TopK | _: WindowDeco | _: ExpandCount =>
      throw new UnsupportedOperationException(
        "TopK/window/expand is a read-time decoration at the view top; Ivm " +
          "strips it before maintenance (none is a Z-linear operator)")
  }

  /** Stateful nodes resolve their state path through the ctx namer and
    * compute once per resolved name: under a content-addressed namer,
    * identical subtrees in different views share one state AND one delta
    * computation (whose StateUpdate is queued exactly once). */
  private def memoized(ctx: Ctx, node: IvmQuery, path: String)(
      f: String => DataFrame): DataFrame = {
    val name = ctx.namer(node, path)
    // compute-once cell (not a plain map): parallel chains can reference
    // the same canonical-named spliced subtree — exactly one computation,
    // exactly one queued StateUpdate, concurrent callers block
    ctx.onceMemo.computeIfAbsent(name, _ => new Once[DataFrame]).get(f(name))
  }

  // ---------------------------------------------------------------- joins

  /** Weight column of a CURRENT side in a join delta term (the delta side
    * keeps WEIGHT; the two multiply into the term's weight). */
  private val CW = "__ivm_cw"

  // ---- touched-key scan pruning (opt guide §3.2: pre-filter the big side)
  //
  // A "Δside ⋈ current" join-delta term can only emit current rows whose
  // join key appears in the (small, driver-local) delta side. Filtering
  // the current side by the delta's LITERAL key values before the join
  // lets Catalyst push the IN predicate through the current's
  // project/filter/join tree into the parquet scans (PushedFilters), so
  // the term reads O(touched keys) instead of streaming the whole base —
  // the r07-verdict lever for the q113-class floor, and the structural
  // 100 TB fix (a batch touches a few thousand keys; every current-side
  // base pass becomes a pruned scan). Sound for equi-joins: absent-key
  // rows produce no output, and NULL keys never match, so dropping the
  // current's NULL-key rows is sound too. Multi-key joins prune each key
  // independently (a per-key superset of the exact tuple set).

  /** Largest distinct-key count a single key's IN-list may carry; a key
    * touching more values than this is left unpruned. */
  private val KeyPushdownMax = 8192

  /** May this walk inject batch-specific literal predicates? Literal
    * IN-lists bake ONE batch's keys into the plan, so a walk that could
    * still be trace-recorded must not contain them (a replayed tape would
    * filter every later batch by the recorded batch's keys — silently
    * wrong). Prunes exactly the walks that already cannot record: no
    * recorder (untraceable view, replay disabled, distributed batch) or a
    * recording guard already invalidated it (e.g. the q113-class
    * distributed state read). */
  private def pruneAllowed(ctx: Ctx): Boolean =
    ctx.recorder == null || ctx.recorder.invalid

  /** Driver-resident rows of a small frame: direct for local/pinned
    * frames (LocalRelation, possibly under the pins' coalesce(1)); an
    * ALL-LOCAL-LEAF compound frame (an aggregate changelog derived from a
    * local pin) is collected inline — single-partition local plans
    * execute on the driver with no Spark job. None for anything
    * file-backed or over the local cap (callers fall back unpruned). */
  private def localRowsOf(d: DataFrame, ctx: Ctx): Option[
      (Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
       Seq[org.apache.spark.sql.catalyst.InternalRow])] = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    localLeaf(d).orElse {
      if (ctx.localCap <= 0) None
      else if (!d.queryExecution.analyzed.collectLeaves()
          .forall(_.isInstanceOf[LocalRelation])) None
      else Ivm.collectLocal(d, ctx.localCap).flatMap(localLeaf)
    }.map(l => (l.output, l.data))
  }

  /** `key IN (delta's distinct values)` conjunction for an equi-join's
    * current side. None when the delta rows are not driver-resident, or
    * per key when the key is absent/complex/binary-typed or its distinct
    * count exceeds [[KeyPushdownMax]] (only that key's conjunct drops).
    * NULL delta keys are skipped — see soundness note above. An EMPTY
    * delta side yields `IN ()` = false, which Catalyst folds to an empty
    * relation: a no-op term costs no job at all. */
  private def touchedKeyFilter(
      d: DataFrame, keys: Seq[String], ctx: Ctx): Option[Column] = {
    if (keys.isEmpty) return None
    localRowsOf(d, ctx).flatMap { case (attrs, rows) =>
      val conds = keys.flatMap { k =>
        val i = attrs.indexWhere(_.name.equalsIgnoreCase(k))
        if (i < 0) None
        else attrs(i).dataType match {
          // plain scalar key types only (IN-literal-able; binary/complex
          // keys skip pruning — their join still runs unpruned, correct).
          // Float/Double are EXCLUDED: join keys get NormalizeFloatingNumbers
          // (-0.0 ≡ 0.0, NaN ≡ NaN) but a Filter IN/InSet does not, so a
          // current row keyed -0.0 would be pruned away from a 0.0 delta
          // key it actually joins with. Those keys fall back unpruned.
          case dt @ (org.apache.spark.sql.types.IntegerType |
              org.apache.spark.sql.types.LongType |
              org.apache.spark.sql.types.ShortType |
              org.apache.spark.sql.types.ByteType |
              org.apache.spark.sql.types.StringType |
              org.apache.spark.sql.types.DateType |
              org.apache.spark.sql.types.TimestampType |
              org.apache.spark.sql.types.TimestampNTZType |
              org.apache.spark.sql.types.BooleanType |
              (_: org.apache.spark.sql.types.DecimalType)) =>
            val distinct = mutable.LinkedHashSet.empty[Any]
            var over = false
            val it = rows.iterator
            while (!over && it.hasNext) {
              val r = it.next()
              if (!r.isNullAt(i)) {
                distinct += r.get(i, dt)
                if (distinct.size > KeyPushdownMax) over = true
              }
            }
            if (over) None
            else {
              val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
                .createToScalaConverter(dt)
              Some(col(k).isin(distinct.toSeq.map(conv): _*))
            }
          case _ => None
        }
      }
      if (conds.isEmpty) None else Some(conds.reduce(_ && _))
    }
  }

  /** Engagement counter (bench/probe evidence that the touched-key scan
    * pruning actually fires in a measured loop). */
  val prunes = new java.util.concurrent.atomic.AtomicLong(0)

  /** CURRENT side of a "Δother ⋈ current" join-delta term, key-pruned to
    * the batch's touched keys when [[pruneAllowed]] and the delta side is
    * driver-resident; plain (cache-shared) current otherwise. Callers
    * must force the delta side BEFORE calling (its walk may invalidate
    * the recorder, which [[pruneAllowed]] consults). */
  private def currentSide(
      side: IvmQuery, sidePath: String, deltaOther: DataFrame,
      keys: Seq[String], ctx: Ctx): DataFrame = {
    val cond =
      if (!pruneAllowed(ctx)) None
      else touchedKeyFilter(deltaOther, keys, ctx)
    if (cond.isDefined) prunes.incrementAndGet()
    cond match {
      case Some(f) =>
        val prev = ctx.bypassSharedCurrent
        ctx.bypassSharedCurrent = true
        try currentW(side, ctx, sidePath).where(f)
          .withColumnRenamed(WEIGHT, CW)
        finally ctx.bypassSharedCurrent = prev
      case None => currentW(side, ctx, sidePath).withColumnRenamed(WEIGHT, CW)
    }
  }

  private def deltaJoin(
      l: IvmQuery, r: IvmQuery, keys: Seq[String], ctx: Ctx, path: String): DataFrame = {
    val lHas = hasDelta(l, ctx)
    val rHas = hasDelta(r, ctx)
    require(lHas || rHas, s"delta of join with no deltas on either side at $path")

    def bcast(df: DataFrame): DataFrame =
      if (ctx.broadcastDeltas) broadcast(df) else df

    // When BOTH sides carry deltas, each side's delta feeds TWO union
    // terms — inlining a compound (join-backed) child delta would execute
    // its base-scan join terms once per reference. Pin it instead (scan
    // and aggregate-changelog deltas stay inline: they are already local
    // collects or pinned ΔVs, and a pin-of-a-pin is pure overhead).
    def pinned(d: DataFrame, q: IvmQuery, tag: String): DataFrame =
      if (!(lHas && rHas) || !q.isInstanceOf[Join] || localLeaf(d).isDefined) d
      else ctx.pin(d, tag)
    lazy val dl = pinned(delta(l, ctx, path + ".0"), l, s"$path.0.dj")
    lazy val dr = pinned(delta(r, ctx, path + ".1"), r, s"$path.1.dj")
    // Both sides carry deltas → their walks are independent compositions:
    // force them on two threads so each side's serial pin collects overlap
    // (see the walk-level parallel composition note above).
    if (lHas && rHas) forkJoin(dl, dr)
    // CURRENT sides (base ⊎ applied deltas), weighted — a side delta'd in
    // an EARLIER batch must be visible to this batch's other-side delta.
    // Built per term through [[currentSide]]: a small local delta prunes
    // the opposite current to the batch's touched keys (scan-level IN
    // pushdown) instead of streaming the whole base.

    val terms = mutable.Buffer.empty[DataFrame]
    if (lHas) {
      // ΔA ⋈ B : broadcast the (small) delta side; B streams from parquet
      // with pushdown — no shuffle of the base at any scale. (`bcast(dl)`
      // forces the delta walk before currentSide consults the recorder.)
      // BILINEAR 2-TERM FORM when B also has a delta:
      //   Δ(A⋈B) = ΔA ⋈ (B ⊎ ΔB)  ⊎  A ⋈ ΔB
      // (old B on the second term) — algebraically equal to the textbook
      // ΔA⋈B ⊎ A⋈ΔB ⊎ ΔA⋈ΔB but one union term and one broadcast fewer
      // per join; per-term fixed cost is the floor of small-batch refresh
      // (a 4-band dedup self-join drops 12 → 8 terms). The ⊎ ΔB rider is
      // sound under the touched-key prune too: pruning drops current rows
      // whose keys ΔA cannot match, and unpruned ΔB rows that match
      // nothing fall out of the join.
      val dlF = bcast(dl)
      val postR = {
        val cur = currentSide(r, path + ".1", dl, keys, ctx)
        if (rHas) cur.unionByName(dr.select(
          outputNames(r, ctx).map(col) :+ col(WEIGHT).cast("long").as(CW): _*))
        else cur
      }
      terms += joinOn(dlF, postR, keys)
        .withColumn(WEIGHT, col(WEIGHT) * col(CW))
        .select(joinOut(l, r, keys, ctx) :+ col(WEIGHT): _*)
    }
    if (rHas) {
      // A ⋈ ΔB (A as of the PREVIOUS batch — the bilinear pairing above)
      val drF = bcast(dr)
      terms += joinOn(currentSide(l, path + ".0", dr, keys, ctx), drF, keys)
        .withColumn(WEIGHT, col(WEIGHT) * col(CW))
        .select(joinOut(l, r, keys, ctx) :+ col(WEIGHT): _*)
    }
    terms.reduce(_.unionByName(_))
  }

  /** Output columns of Join(l, r, keys) in eval order: keys once, then the
    * remaining columns of each side. */
  private def joinOut(
      l: IvmQuery, r: IvmQuery, keys: Seq[String], ctx: Ctx): Seq[Column] = {
    val lCols = outputNames(l, ctx).filterNot(keys.contains)
    val rCols = outputNames(r, ctx).filterNot(keys.contains)
    (keys ++ lCols ++ rCols).map(col)
  }

  /** Output column names of a query; scan leaves resolve via the base
    * resolver (schema-only — no data read). */
  private[ivm] def outputNames(q: IvmQuery, ctx: Ctx): Seq[String] = q match {
    case Scan(t)                  => ctx.base(t).columns.toSeq
    case Aggregate(_, keys, aggs) => keys ++ aggs.map(_.name)
    case Project(_, cols)         => cols.map(colName)
    case Filter(c, _)             => outputNames(c, ctx)
    case Join(l, r, keys) =>
      keys ++ outputNames(l, ctx).filterNot(keys.contains) ++
        outputNames(r, ctx).filterNot(keys.contains)
    case LeftJoin(l, r, keys) =>
      keys ++ outputNames(l, ctx).filterNot(keys.contains) ++
        outputNames(r, ctx).filterNot(keys.contains)
    case RightJoin(l, r, keys) =>
      keys ++ outputNames(l, ctx).filterNot(keys.contains) ++
        outputNames(r, ctx).filterNot(keys.contains)
    case FullJoin(l, r, keys) =>
      keys ++ outputNames(l, ctx).filterNot(keys.contains) ++
        outputNames(r, ctx).filterNot(keys.contains)
    case Union(l, _) => outputNames(l, ctx) // sides align by contract
    case TopK(c, _, _) => outputNames(c, ctx)
    case WindowDeco(_, cols) => cols.map(colName)
    case ExpandCount(c, n) => outputNames(c, ctx).filterNot(_ == n)
    case ScalarDeco(_, _, cols) => cols.map(colName)
  }

  // ----------------------------------------------------------- outer joins

  /** Δ of an outer equi-join, parameterized by which side(s) are preserved
    * (LEFT = A, RIGHT = B, FULL = both):
    *
    *   OJ(A,B) = Inner(A,B) ⊎ [preserve A] anti_A×nulls ⊎ [preserve B] nulls×anti_B,
    *   anti_A = rows of A whose key has matchCount_B = 0 (and mirrored).
    *
    * The inner part deltas exactly like [[deltaJoin]]. Each preserved
    * side's anti part is driven by a maintained per-key match count of the
    * OTHER side (state `path.rcnt` counts B for A's anti rows, `path.lcnt`
    * counts A for B's):
    *
    *   (i)   Δ(preserved) rows whose post-batch other-count is 0 →
    *         null-extended, weight w
    *   (ii)  keys whose count died  (>0 → 0): preserved rows re-enter anti, +1
    *   (iii) keys whose count was born (0 → >0): preserved rows leave anti, −1
    *
    * (ii)/(iii) scan the preserved base only for transitioned keys
    * (broadcast semi-join — pushdown-friendly, O(touched keys) selectivity
    * at any scale), and Δ rows on those keys are covered by (i) since it
    * uses POST-batch counts. NULL join keys never match in SQL, so they
    * fall through to count 0 → permanently anti (the equi-joins below keep
    * that semantics; only the state maintenance joins are null-safe).
    */
  private def deltaOuterJoin(
      l: IvmQuery, r: IvmQuery, keys: Seq[String], ctx: Ctx, path: String,
      preserveL: Boolean, preserveR: Boolean): DataFrame = {
    val lHas = hasDelta(l, ctx)
    val rHas = hasDelta(r, ctx)
    require(lHas || rHas, s"delta of outer join with no deltas on either side at $path")
    def bcast(df: DataFrame): DataFrame =
      if (ctx.broadcastDeltas) broadcast(df) else df

    lazy val dl0 = delta(l, ctx, path + ".0")
    lazy val dl = ctx.pin(dl0, path + ".dl")
    lazy val dr0 = delta(r, ctx, path + ".1")
    lazy val dr = ctx.pin(dr0, path + ".dr")
    // independent side walks overlap (see walk-level parallel composition)
    if (lHas && rHas) forkJoin(dl, dr)
    // CURRENT sides, weighted (see deltaJoin) — both the inner terms and
    // the preserved-side anti scans must see earlier batches' deltas.
    lazy val bl = currentW(l, ctx, path + ".0").withColumnRenamed(WEIGHT, CW)
    lazy val br = currentW(r, ctx, path + ".1").withColumnRenamed(WEIGHT, CW)

    val outCols = joinOut(l, r, keys, ctx)
    val lNonKey = outputNames(l, ctx).filterNot(keys.contains)
    val rNonKey = outputNames(r, ctx).filterNot(keys.contains)
    // typed NULLs for the non-preserved side's non-key columns
    val lSchema = ctx.schemaOf(l, path + ".0")
    val rSchema = ctx.schemaOf(r, path + ".1")
    val nullL: Seq[Column] = lNonKey.map(n => lit(null).cast(lSchema(n).dataType).as(n))
    val nullR: Seq[Column] = rNonKey.map(n => lit(null).cast(rSchema(n).dataType).as(n))
    def nullExtendR(aSide: DataFrame, weight: Column): DataFrame =
      aSide.select((keys.map(col) ++ lNonKey.map(col) ++ nullR :+ weight.as(WEIGHT)): _*)
        .select(outCols :+ col(WEIGHT): _*)
    def nullExtendL(bSide: DataFrame, weight: Column): DataFrame =
      bSide.select((keys.map(col) ++ nullL ++ rNonKey.map(col) :+ weight.as(WEIGHT)): _*)
        .select(outCols :+ col(WEIGHT): _*)

    // ---- inner-join delta terms (same as deltaJoin, incl. the touched-
    // key scan pruning of the current side; the preserved-side anti terms
    // below keep the UNPRUNED bl/br — their driving key sets are the
    // died/born transitions, not this batch's delta keys)
    val terms = mutable.Buffer.empty[DataFrame]
    if (lHas) {
      // bilinear 2-term form, as in [[deltaJoin]]: ΔA ⋈ (B ⊎ ΔB) ⊎ A ⋈ ΔB
      val dlF = bcast(dl)
      val postR = {
        val cur = currentSide(r, path + ".1", dl, keys, ctx)
        if (rHas) cur.unionByName(dr.select(
          outputNames(r, ctx).map(col) :+ col(WEIGHT).cast("long").as(CW): _*))
        else cur
      }
      terms += dlF.join(postR, keys)
        .withColumn(WEIGHT, col(WEIGHT) * col(CW))
        .select(outCols :+ col(WEIGHT): _*)
    }
    if (rHas) {
      val drF = bcast(dr)
      terms += currentSide(l, path + ".0", dr, keys, ctx).join(drF, keys)
        .withColumn(WEIGHT, col(WEIGHT) * col(CW))
        .select(outCols :+ col(WEIGHT): _*)
    }

    /** Anti terms for one preserved side. `driveBase`/`dDrive` = the
      * preserved side; `dOther` = the delta of the counted side; `cntPath`
      * = the match-count state of the counted side. */
    def preservedTerms(
        cntPath: String,
        driveBase: => DataFrame, dDrive: => DataFrame, driveHas: Boolean,
        dOther: => DataFrame, otherHas: Boolean,
        nullExtend: (DataFrame, Column) => DataFrame): Unit = {
      // new count per key = old + Σw over Δ(other), for touched keys
      val touchedNew: Option[DataFrame] = if (otherHas) {
        val adj = ctx.pin(dOther.groupBy(keys.map(col): _*)
          .agg(sum(col(WEIGHT)).as("__ivm_adj")), cntPath + ".adj")
        val oldTouched = ctx.slice(cntPath, adj, keys) // bucket-pruned read
        val upd = leftOuterByKeys(adj, oldTouched, keys, hint = bcast)
          .select((keys.map(col) :+
            (coalesce(col(HCOUNT), lit(0)) + coalesce(col("__ivm_adj"), lit(0)))
              .as(HCOUNT) :+
            coalesce(col(HCOUNT), lit(0)).as("__ivm_oldcnt")): _*)
        val updC = ctx.pin(upd, cntPath + ".upd")
        ctx.queue(StateUpdate(cntPath, keys,
          updC.select((keys.map(col) :+ col(HCOUNT)): _*), keyHint = adj))
        // (ii) died keys: preserved rows re-enter anti (+multiplicity each)
        val died = updC.where(col("__ivm_oldcnt") > 0 && col(HCOUNT) <= 0)
          .select(keys.map(col): _*)
        terms += nullExtend(driveBase.join(bcast(died), keys, "left_semi"), col(CW))
        // (iii) born keys: preserved rows leave anti (−multiplicity each)
        val born = updC.where(col("__ivm_oldcnt") <= 0 && col(HCOUNT) > 0)
          .select(keys.map(col): _*)
        terms += nullExtend(driveBase.join(bcast(born), keys, "left_semi"), -col(CW))
        Some(updC)
      } else None

      // (i) Δ(preserved) rows with POST-batch count 0 (incl. absent keys)
      if (driveHas) {
        // old counts restricted to Δ's keys — bucket-pruned slice instead
        // of a full state scan (dDrive is pinned, so the eager key collect
        // is cheap)
        val oldForD = ctx.slice(cntPath,
            dDrive.select(keys.map(col): _*).distinct(), keys)
          .withColumnRenamed(HCOUNT, "__ivm_oldc")
        val cntForD = touchedNew match {
          case Some(upd) =>
            // post-batch count: updated value for touched keys, else old
            dDrive.join(
                bcast(upd.select((keys.map(col) :+ col(HCOUNT).as("__ivm_newc")): _*)),
                keys, "left_outer")
              .join(bcast(oldForD), keys, "left_outer")
              .withColumn("__ivm_cnt",
                coalesce(col("__ivm_newc"), col("__ivm_oldc"), lit(0)))
          case None =>
            dDrive.join(bcast(oldForD), keys, "left_outer")
              .withColumn("__ivm_cnt", coalesce(col("__ivm_oldc"), lit(0)))
        }
        terms += nullExtend(cntForD.where(col("__ivm_cnt") <= 0), col(WEIGHT))
      }
    }

    if (preserveL)
      preservedTerms(s"$path.rcnt", bl, dl, lHas, dr, rHas, nullExtendR)
    if (preserveR)
      preservedTerms(s"$path.lcnt", br, dr, rHas, dl, lHas, nullExtendL)

    terms.reduce(_.unionByName(_))
  }

  private[ivm] def colName(c: Column): String =
    // Resolve structurally from the Catalyst expression — string-parsing
    // Column#toString mis-handles expressions containing a literal " AS ".
    org.apache.spark.sql.GraftColumnOps.outputName(c)

  // ----------------------------------------------------------- aggregates

  /** Stateful aggregate delta: merge signed child deltas into per-group
    * adjustments, join against the old state, emit retraction (+w=-1) and
    * assertion (w=+1) rows, and queue the state replacement. */
  private def deltaAggregate(agg: Aggregate, ctx: Ctx, path: String): DataFrame = {
    val Aggregate(child, keys, aggs) = agg
    val d0 = delta(child, ctx, path + ".0")
    val sketchSpecs = aggs.filter(isSketch)
    // Specs whose aux multiset actually exists this view: INSERT-ONLY
    // views skip it for the extremum family (pure fold, no state).
    val auxAggs =
      aggs.filter(a => AggSpec.needsAux(a) &&
        !(ctx.insertOnly && AggSpec.isExtremum(a)))
    // Child delta feeds the main adjustment plus one aux pipeline per
    // MIN/MAX spec (and the sketch retraction probe) — pin it once.
    val d = if (auxAggs.nonEmpty || sketchSpecs.nonEmpty)
      ctx.pin(d0, path + ".d") else d0
    val w = col(WEIGHT)
    def bcast(df: DataFrame): DataFrame =
      if (ctx.broadcastDeltas) broadcast(df) else df

    // ---- sketch retraction fallback: a deletion cannot fold into an HLL /
    // KLL / frequent-items sketch (registers are max-aggregates), but it
    // need not kill the view either — REBUILD only the retraction-hit
    // groups' sketches from the post-batch child relation. Post-batch child
    // = current(child) ⊎ Δ(child): `currentW` composes the create-time base
    // snapshot with every previously applied delta (accumulators / interior
    // states), so the rebuild is correct across batches; the key filter
    // pushes below the consolidation groupBy (all its columns are grouping
    // columns) and on into the base scans, so the cost is O(touched groups'
    // child rows) — never a full child rescan. The probe is one driver-side
    // head(1) over the (already pinned, usually LocalRelation) delta, so
    // the steady-state insert-only plan is unchanged and a batch with no
    // sketch-hitting deletions pays nothing. This unblocks CDC update feeds
    // (Cdc.toDeltas expands `u` into retraction ⊎ assertion) driving
    // APPROX_* views — HLL rebuild is bit-identical to recompute (register
    // union is order-free); KLL/frequent-items agree within their
    // documented error bounds.
    val sketchRebuild: Option[DataFrame] =
      if (sketchSpecs.isEmpty) None
      else {
        val negCond = (w < 0) &&
          sketchSpecs.map(a => AggSpec.expr(a).get.isNotNull).reduce(_ || _)
        if (d.where(negCond).head(1).isEmpty) None
        else {
          sketchRebuilds.incrementAndGet()
          val cur = currentW(child, ctx, path + ".0")
          val rowCols = cur.columns.filterNot(_ == WEIGHT).toSeq
          val all = cur.unionByName(d.select(cur.columns.map(col): _*))
          val scoped =
            if (keys.isEmpty) all
            else {
              val rk = ctx.pin(
                d.where(negCond).select(keys.map(col): _*).distinct(),
                path + ".sketchrk")
              filterByKeys(all, rk, keys, hint = bcast)
            }
          val net = scoped.groupBy(rowCols.map(col): _*).agg(sum(w).as(WEIGHT))
            .where(col(WEIGHT) > 0)
          val sketchAggs: Seq[Column] = sketchSpecs.map {
            case AggSpec.ApproxCountDistinct(e, lgK, n) =>
              // duplicates don't move HLL registers — no weight expansion
              hll_sketch_agg(e, lgK).as(rebuiltExt(n))
            case AggSpec.ApproxPercentile(e, _, k, n) =>
              graft.functions.Kll.aggW(e.cast("double"), col(WEIGHT), k)
                .as(rebuiltExt(n))
            case AggSpec.ApproxTopK(e, _, m, n) =>
              graft.functions.Freq.aggW(e.cast("string"), col(WEIGHT), m)
                .as(rebuiltExt(n))
            case other => sys.error(s"not a sketch aggregate: $other")
          }
          Some(ctx.pin(
            if (keys.isEmpty) net.agg(sketchAggs.head, sketchAggs.tail: _*)
            else net.groupBy(keys.map(col): _*)
              .agg(sketchAggs.head, sketchAggs.tail: _*),
            path + ".sketchrb"))
        }
      }

    // Signed per-group adjustments of the physical state columns.
    // MIN/MAX contribute only their non-null count here — the extremum
    // itself is recomputed below from the auxiliary value multiset.
    val adjExprs: Seq[Column] = aggs.flatMap {
      // INSERT-ONLY extremum: no aux multiset exists — the batch's own
      // extremum of inserted values is the whole adjustment (folded into
      // the stored one below); a deletion touching the spec trips the
      // guard and the fold raises.
      case a if ctx.insertOnly && AggSpec.isExtremum(a) =>
        val e = AggSpec.expr(a).get
        val ins = when(w > 0, e)
        val extFn = if (AggSpec.isLowEnd(a)) min(ins) else max(ins)
        Seq(extFn.as(adj(Eval.physExt(a.name))),
            sum(when(e.isNotNull, w).otherwise(lit(0))).as(adj(Eval.physNn(a.name))),
            sum(when(e.isNotNull && w < 0, lit(1)).otherwise(lit(0)))
              .as(insGuard(a.name)))
      case AggSpec.Sum(e, n) =>
        Seq(sum(e * w).as(adj(Eval.physSum(n))),
            sum(when(e.isNotNull, w).otherwise(lit(0))).as(adj(Eval.physNn(n))))
      case AggSpec.Count(e, n) =>
        Seq(sum(when(e.isNotNull, w).otherwise(lit(0))).as(adj(Eval.physNn(n))))
      case AggSpec.CountStar(n) =>
        Seq(sum(w).as(adj(Eval.physNn(n))))
      case AggSpec.Avg(e, n) =>
        Seq(sum(e * w).as(adj(Eval.physSum(n))),
            sum(when(e.isNotNull, w).otherwise(lit(0))).as(adj(Eval.physNn(n))))
      case AggSpec.Min(e, n) =>
        Seq(sum(when(e.isNotNull, w).otherwise(lit(0))).as(adj(Eval.physNn(n))))
      case AggSpec.Max(e, n) =>
        Seq(sum(when(e.isNotNull, w).otherwise(lit(0))).as(adj(Eval.physNn(n))))
      case AggSpec.CountDistinct(e, n) =>
        Seq(sum(when(e.isNotNull, w).otherwise(lit(0))).as(adj(Eval.physNn(n))))
      case AggSpec.SumDistinct(e, n) =>
        Seq(sum(when(e.isNotNull, w).otherwise(lit(0))).as(adj(Eval.physNn(n))))
      // min_by/max_by track the (value, arg) pair struct; like MIN/MAX only
      // the non-null count adjusts here — the extremum pair is recomputed
      // from the aux multiset below.
      case a @ (_: AggSpec.MinBy | _: AggSpec.MaxBy | _: AggSpec.ListAgg |
          _: AggSpec.Percentile) =>
        val e = AggSpec.expr(a).get
        Seq(sum(when(e.isNotNull, w).otherwise(lit(0)))
          .as(adj(Eval.physNn(a.name))))
      // HLL sketch: the batch's own sketch is the adjustment; the state
      // merge below unions registers. INSERT-ONLY — a negative-weight row
      // with a non-null argument trips the guard column and the merge
      // raises (HLL registers cannot be decremented).
      case AggSpec.ApproxCountDistinct(e, lgK, n) =>
        Seq(hll_sketch_agg(when(w > 0, e), lgK).as(adj(Eval.physExt(n))),
            sum(when(e.isNotNull, w).otherwise(lit(0))).as(adj(Eval.physNn(n))),
            sum(when(e.isNotNull && w < 0, lit(1)).otherwise(lit(0)))
              .as(hllNegGuard(n)))
      // KLL quantile sketch: same insert-only sketch discipline as HLL —
      // the batch's own sketch is the adjustment, the state merge below
      // unions sketches, and a guarded delete raises.
      case AggSpec.ApproxPercentile(e, _, k, n) =>
        val d = e.cast("double")
        Seq(graft.functions.Kll.aggW(when(w > 0, d), w, k).as(adj(Eval.physExt(n))),
            sum(when(d.isNotNull, w).otherwise(lit(0))).as(adj(Eval.physNn(n))),
            sum(when(d.isNotNull && w < 0, lit(1)).otherwise(lit(0)))
              .as(hllNegGuard(n)))
      // Frequent-items sketch: same insert-only discipline.
      case AggSpec.ApproxTopK(e, _, m, n) =>
        val t = e.cast("string")
        Seq(graft.functions.Freq.aggW(when(w > 0, t), w, m).as(adj(Eval.physExt(n))),
            sum(when(t.isNotNull, w).otherwise(lit(0))).as(adj(Eval.physNn(n))),
            sum(when(t.isNotNull && w < 0, lit(1)).otherwise(lit(0)))
              .as(hllNegGuard(n)))
      // BOOL_AND/OR: both counts are linear in the weight — pure SUM-style
      // self-maintenance (a NULL condition reads as false → adjusts 0).
      case AggSpec.BoolAnd(e, n) =>
        Seq(sum(when(e, w).otherwise(lit(0))).as(adj(Eval.physSum(n))),
            sum(when(e.isNotNull, w).otherwise(lit(0))).as(adj(Eval.physNn(n))))
      case AggSpec.BoolOr(e, n) =>
        Seq(sum(when(e, w).otherwise(lit(0))).as(adj(Eval.physSum(n))),
            sum(when(e.isNotNull, w).otherwise(lit(0))).as(adj(Eval.physNn(n))))
      // Variance family: moments are linear in the weight, so both sums
      // self-maintain exactly like SUM — no auxiliary state.
      case a if AggSpec.isMoment2(a) =>
        val e = AggSpec.expr(a).get.cast("double"); val n = a.name
        Seq(sum(e * w).as(adj(Eval.physSum(n))),
            sum(e * e * w).as(adj(Eval.physSum2(n))),
            sum(when(e.isNotNull, w).otherwise(lit(0))).as(adj(Eval.physNn(n))))
      // Covariance/correlation: cross-moments are linear in the weight too.
      case a if AggSpec.isMomentXY(a) =>
        val (gx, gy) = AggSpec.xyGuarded(a); val n = a.name
        Seq(sum(gx * w).as(adj(Eval.physSum(n))),
            sum(gy * w).as(adj(Eval.physSumY(n))),
            sum(gx * gy * w).as(adj(Eval.physSumXY(n))),
            sum(gx * gx * w).as(adj(Eval.physSum2(n))),
            sum(gy * gy * w).as(adj(Eval.physSum2Y(n))),
            sum(when(gx.isNotNull, w).otherwise(lit(0))).as(adj(Eval.physNn(n))))
    } :+ sum(w).as(adj(HCOUNT))

    // Touched-group adjustments are consumed several times (state slice
    // key set, the state join, aux group filters) and the bucketed slice
    // evaluates them eagerly — pin once.
    val touched = ctx.pin(
      if (keys.isEmpty) d.agg(adjExprs.head, adjExprs.tail: _*)
      else d.groupBy(keys.map(col): _*).agg(adjExprs.head, adjExprs.tail: _*),
      path + ".touched")

    // Old state rows of touched groups — consumed by the aux rescan
    // decision below AND the main state join; plan the slice once.
    val oldTouched: DataFrame =
      if (keys.isEmpty) null else ctx.slice(path, touched, keys)

    // ---- MIN/MAX auxiliary value-multiset maintenance (the reference
    // poster's named future work). Pair counts adjust from the batch alone
    // (O(‖Δ‖)); the group-proportional "rescan all alive values" runs ONLY
    // for groups whose CURRENT extremum value died this batch — a deletion
    // can move an extremum only by killing it, and an insertion folds in
    // as least/greatest(old, batch-alive extremum) without touching the
    // multiset. DISTINCT aggregates never rescan: the values born and died
    // are all visible in the batch's pair slice. ListAgg/exact-percentile
    // members are multiset-valued, so their groups keep the full rescan.
    // Global aggregates (no keys) also keep it: one group, and the
    // rescan-or-not branch would need data-dependent plan choice.
    import AggSpec.{isExtremum, isLowEnd, isDistinctFam}
    /** Full-multiset readout of one member over the alive (group, value)
      * counts — the rescan path's aggregate. */
    def multisetFn(vCol: String)(a: AggSpec): Column = a match {
      case _: AggSpec.Min           => min(col(vCol))
      case _: AggSpec.Max           => max(col(vCol))
      case _: AggSpec.MinBy         => min(col(vCol)) // lexicographic pair
      case _: AggSpec.MaxBy         => max(col(vCol))
      case _: AggSpec.CountDistinct => count(lit(1)) // alive values
      case _: AggSpec.SumDistinct   => sum(col(vCol)) // sum of alive values
      // rebuild the ordered concatenation from the alive multiset:
      // each (value, count) repeats its multiplicity, ascending value
      case AggSpec.ListAgg(_, sep, _) =>
        array_join(
          flatten(transform(
            array_sort(collect_list(struct(col(vCol).as("v"),
              col(HCOUNT).cast("int").as("c")))),
            p => array_repeat(p.getField("v").cast("string"),
              p.getField("c")))),
          sep)
      // frequency-weighted exact percentile over the alive multiset —
      // no row expansion, Spark interpolates across the counts
      case AggSpec.Percentile(_, p, _) =>
        call_function("percentile", col(vCol), lit(p),
          col(HCOUNT).cast("bigint"))
      case other => sys.error(s"no aux extremum for $other")
    }
    val auxJoinFrames = Seq.newBuilder[DataFrame]
    val auxFormula = Map.newBuilder[String, Column]
    AggSpec.auxGroups(auxAggs).foreach { case (owner, members) =>
      val vCol = Eval.auxVal(owner.name)
      val auxPath = s"$path.aux.${owner.name}"
      val auxKeys = keys :+ vCol
      val e = AggSpec.expr(owner).get
      val oldC = s"__ivm_oldc_${owner.name}"
      val dAux = ctx.pin(
        d.select((keys.map(col) :+ e.as(vCol) :+ w): _*)
          .where(col(vCol).isNotNull)
          .groupBy(auxKeys.map(col): _*)
          .agg(sum(w).as(adj(HCOUNT))), auxPath + ".d")
      // group-bucketed layout (value-bucketed for a global aggregate) so
      // BOTH slices below prune to touched buckets
      val auxBucketKeys = if (keys.nonEmpty) keys else auxKeys
      val oldAuxTouched = ctx.slice(auxPath, dAux, auxKeys)
      // pair-level diff: old count, new count — everything below (state
      // replacement, born/died values, batch-alive extrema, death probes)
      // reads this one O(‖Δ‖) pin
      val auxDiff = ctx.pin(
        leftOuterByKeys(dAux, oldAuxTouched, auxKeys, hint = bcast)
          .select((auxKeys.map(col) :+
            coalesce(col(HCOUNT), lit(0)).as(oldC) :+
            (coalesce(col(HCOUNT), lit(0)) + coalesce(col(adj(HCOUNT)), lit(0)))
              .as(HCOUNT)): _*), auxPath + ".diff")
      val updatedAux = auxDiff.select((auxKeys.map(col) :+ col(HCOUNT)): _*)
      ctx.queue(StateUpdate(auxPath, auxKeys, updatedAux, auxBucketKeys,
        keyHint = if (keys.nonEmpty) touched else dAux))

      if (keys.isEmpty) {
        // global: all values feed the extremum — full-multiset readout
        val merged = filterByKeys(ctx.state(auxPath), updatedAux, auxKeys,
            anti = true, hint = bcast)
          .unionByName(updatedAux.where(col(HCOUNT) > 0))
        val extFns = members.map(a =>
          multisetFn(vCol)(a).as(s"__ivm_newext_${a.name}"))
        auxJoinFrames += merged.agg(extFns.head, extFns.tail: _*)
        members.foreach(a =>
          auxFormula += a.name -> col(s"__ivm_newext_${a.name}"))
      } else {
        val rescanAlways =
          members.exists(a => !isExtremum(a) && !isDistinctFam(a))
        val extremums = members.filter(isExtremum)
        val distincts = members.filter(isDistinctFam)
        val born = col(oldC) <= 0 && col(HCOUNT) > 0
        val died = col(oldC) > 0 && col(HCOUNT) <= 0
        def fBAlive(n: String) = s"__ivm_balive_$n"
        def fDied(n: String)   = s"__ivm_bdied_$n"
        def fBorn(n: String)   = s"__ivm_vborn_$n"
        def fDead(n: String)   = s"__ivm_vdead_$n"
        val rflag = s"__ivm_rescan_${owner.name}"

        // per-group O(‖Δ‖) stats over the pair diff
        val statCols =
          (if (rescanAlways) Nil else extremums).flatMap { a =>
            val alive = when(col(HCOUNT) > 0, col(vCol))
            val deadV = when(died, col(vCol))
            if (isLowEnd(a))
              Seq(min(alive).as(fBAlive(a.name)), min(deadV).as(fDied(a.name)))
            else
              Seq(max(alive).as(fBAlive(a.name)), max(deadV).as(fDied(a.name)))
          } ++ distincts.flatMap {
            case AggSpec.CountDistinct(_, n) =>
              Seq(sum(when(born, lit(1L)).otherwise(lit(0L))).as(fBorn(n)),
                  sum(when(died, lit(1L)).otherwise(lit(0L))).as(fDead(n)))
            case AggSpec.SumDistinct(_, n) =>
              Seq(sum(when(born, col(vCol))).as(fBorn(n)),
                  sum(when(died, col(vCol))).as(fDead(n)))
            case other => sys.error(s"not a distinct-family spec: $other")
          }
        val statsDf = if (statCols.isEmpty) None else Some(
          auxDiff.groupBy(keys.map(col): _*).agg(statCols.head, statCols.tail: _*))
        statsDf.foreach(auxJoinFrames += _)

        // groups that MUST rescan their multiset: every touched group for
        // multiset-valued members; extremum-death groups otherwise
        val rescanKeys: Option[DataFrame] =
          if (rescanAlways) Some(touched)
          else if (extremums.isEmpty) None
          else {
            val probe = leftOuterByKeys(statsDf.get,
              oldTouched.select((keys.map(col) ++
                extremums.map(a => col(Eval.physExt(a.name)))): _*),
              keys, hint = bcast)
            val deathTest = extremums.map(a =>
              col(fDied(a.name)) === col(Eval.physExt(a.name))).reduce(_ || _)
            Some(ctx.pin(probe.where(deathTest).select(keys.map(col): _*),
              auxPath + ".rescan"))
          }
        rescanKeys.foreach { rk =>
          val rescanMembers = members.filterNot(isDistinctFam)
          val rescanAux = ctx.slice(auxPath, rk, keys)
          val updR = filterByKeys(updatedAux, rk, keys, hint = bcast)
          val merged = filterByKeys(rescanAux, updatedAux, auxKeys,
              anti = true, hint = bcast)
            .unionByName(updR.where(col(HCOUNT) > 0))
          val extFns = rescanMembers.map(a =>
            multisetFn(vCol)(a).as(s"__ivm_newext_${a.name}"))
          val newExt = merged.groupBy(keys.map(col): _*)
            .agg(extFns.head, extFns.tail: _*)
          // the rescanned flag comes from the KEY SET, not the aggregated
          // rows: a rescan that leaves a group empty must still override
          // the insert-fold (its stored extremum becomes NULL, exactly as
          // a full recompute would store)
          auxJoinFrames += leftOuterByKeys(
            rk.select(keys.map(col): _*).withColumn(rflag, lit(true)),
            newExt, keys, hint = bcast)
        }

        members.foreach {
          case a if isExtremum(a) =>
            // extremum unchanged or improved by inserts → O(1) fold of the
            // batch-alive extremum into the old one (least/greatest skip
            // NULLs); extremum died → the rescan result, even when NULL
            val fold =
              if (rescanAlways) lit(null) // flag is always true
              else if (isLowEnd(a))
                least(col(Eval.physExt(a.name)), col(fBAlive(a.name)))
              else greatest(col(Eval.physExt(a.name)), col(fBAlive(a.name)))
            auxFormula += a.name -> when(col(rflag),
              col(s"__ivm_newext_${a.name}")).otherwise(fold)
          case AggSpec.CountDistinct(_, n) =>
            auxFormula += n -> (coalesce(col(Eval.physExt(n)), lit(0L)) +
              coalesce(col(fBorn(n)), lit(0L)) - coalesce(col(fDead(n)), lit(0L)))
          case AggSpec.SumDistinct(_, n) =>
            auxFormula += n -> (coalesce(col(Eval.physExt(n)), lit(0)) +
              coalesce(col(fBorn(n)), lit(0)) - coalesce(col(fDead(n)), lit(0)))
          case a => // ListAgg / exact percentile: group was rescanned
            auxFormula += a.name -> col(s"__ivm_newext_${a.name}")
        }
      }
    }
    val newExtFrames: Seq[DataFrame] = auxJoinFrames.result()
    val auxFormulaMap: Map[String, Column] = auxFormula.result()

    // Touched groups are few (≤ |Δ|). Two broadcast-friendly steps — Spark
    // only supports BuildRight for LEFT outer/semi joins, so a plain
    // right_outer(state, touched) could never broadcast the small side:
    //   1. left_semi filter the (huge) state down to touched groups,
    //      broadcasting the touched KEYS — state streams, no shuffle;
    //   2. left_outer join touched × (now-small) old state, broadcasting
    //      the filtered state.
    val joined1 = if (keys.isEmpty) {
      // Global aggregate: single-row state, cross join is 1×1.
      touched.crossJoin(ctx.state(path))
    } else {
      // bucket-pruned read: only the state buckets touched groups hash to
      leftOuterByKeys(touched, oldTouched, keys, hint = bcast)
    }
    // Attach the recomputed extrema (one tiny frame per MIN/MAX spec).
    // A global newExt aggregate always yields exactly one row (possibly
    // null extremum), so crossJoin is safe.
    val joinedExt = newExtFrames.foldLeft(joined1) { case (acc, newExt) =>
      if (keys.isEmpty) acc.crossJoin(newExt)
      else leftOuterByKeys(acc, newExt, keys, hint = bcast)
    }
    // Attach rebuilt sketches of retraction-hit groups (absent in the
    // common insert-only batch; a global rebuild is always exactly 1 row).
    val joined0 = sketchRebuild match {
      case None => joinedExt
      case Some(rb) =>
        if (keys.isEmpty) joinedExt.crossJoin(rb)
        else leftOuterByKeys(joinedExt, rb, keys, hint = bcast)
    }
    // With the top ΔV discarded the state update is the ONLY consumer —
    // no pin, no output plan (see Ctx.needTopDelta).
    val topUnused = !ctx.needTopDelta &&
      (path == "r" || ctx.topOnly.contains(path))
    // Three consumers (state update, retractions, assertions) would each
    // recompute the state join; pin it once. O(touched groups) rows.
    // Released by Ivm.refresh after commit.
    val joined = if (topUnused) joined0 else ctx.pin(joined0, path + ".joined")

    val existed = col(HCOUNT).isNotNull

    // New physical values = old (or 0) + adjustment. BOTH sides need
    // coalesce: a group absent from the state starts at 0, and an
    // adjustment can be NULL (sum() over an empty or all-null delta
    // slice) which must read as "no change", not poison the state.
    // MIN/MAX extrema come from the aux recomputation, not old + adj.
    def accumulate(p: String): Column =
      (coalesce(col(p), lit(0)) + coalesce(col(adj(p)), lit(0))).as(p)
    val newPhys: Seq[Column] = aggs.flatMap {
      // INSERT-ONLY extremum: fold the batch extremum into the stored one
      // (least/greatest skip NULLs — a new group starts from the batch);
      // any deletion that touched the spec raises loudly instead of
      // silently keeping a possibly-stale extremum. assert_true is NULL on
      // pass, so the guard keeps the fold branch's type.
      case a if ctx.insertOnly && AggSpec.isExtremum(a) =>
        val ext = Eval.physExt(a.name)
        val fold =
          if (AggSpec.isLowEnd(a)) least(col(ext), col(adj(ext)))
          else greatest(col(ext), col(adj(ext)))
        val guarded = when(assert_true(col(insGuard(a.name)) <= 0,
          lit(s"IVM: '${a.name}' is maintained INSERT-ONLY (Ivm.create " +
            "insertOnly=true): a deletion cannot fold into an extremum " +
            "without the value multiset — recreate the view without " +
            "insertOnly to accept deletes")).isNull, fold)
        Seq(guarded.as(ext), accumulate(Eval.physNn(a.name)))
      case a if AggSpec.needsAux(a) =>
        Seq(auxFormulaMap(a.name).as(Eval.physExt(a.name)),
          accumulate(Eval.physNn(a.name)))
      // HLL sketch: union registers (either side may be NULL — a group new
      // to the state, or a batch whose rows are all NULL / other groups).
      // A retraction-hit group takes its REBUILT sketch (see sketchRebuild
      // above); the raise branch only remains for the probe-said-no case,
      // where it can never fire (the guard is a subset of the probe).
      case AggSpec.ApproxCountDistinct(_, _, n) =>
        val ext = Eval.physExt(n)
        val (old, aj) = (col(ext), col(adj(ext)))
        val onRetract = sketchRebuild match {
          case Some(_) => col(rebuiltExt(n))
          case None => raise_error(lit(s"IVM: APPROX_COUNT_DISTINCT ('$n') " +
            "hit a deletion the retraction probe missed")).cast("binary")
        }
        val merged = when(col(hllNegGuard(n)) > 0, onRetract)
          .otherwise(when(aj.isNull, old)
            .otherwise(when(old.isNull, aj).otherwise(hll_union(old, aj))))
        Seq(merged.as(ext), accumulate(Eval.physNn(n)))
      case AggSpec.ApproxPercentile(_, _, _, n) =>
        val ext = Eval.physExt(n)
        val (old, aj) = (col(ext), col(adj(ext)))
        val onRetract = sketchRebuild match {
          case Some(_) => col(rebuiltExt(n))
          case None => raise_error(lit(s"IVM: APPROX_PERCENTILE ('$n') " +
            "hit a deletion the retraction probe missed")).cast("binary")
        }
        val merged = when(col(hllNegGuard(n)) > 0, onRetract)
          .otherwise(when(aj.isNull, old)
            .otherwise(when(old.isNull, aj)
              .otherwise(graft.functions.Kll.merge(old, aj))))
        Seq(merged.as(ext), accumulate(Eval.physNn(n)))
      case AggSpec.ApproxTopK(_, _, _, n) =>
        val ext = Eval.physExt(n)
        val (old, aj) = (col(ext), col(adj(ext)))
        val onRetract = sketchRebuild match {
          case Some(_) => col(rebuiltExt(n))
          case None => raise_error(lit(s"IVM: APPROX_TOP_K ('$n') " +
            "hit a deletion the retraction probe missed")).cast("binary")
        }
        val merged = when(col(hllNegGuard(n)) > 0, onRetract)
          .otherwise(when(aj.isNull, old)
            .otherwise(when(old.isNull, aj)
              .otherwise(graft.functions.Freq.merge(old, aj))))
        Seq(merged.as(ext), accumulate(Eval.physNn(n)))
      case a => Eval.physicalNames(a).map(accumulate)
    } :+ accumulate(HCOUNT)

    val updated = joined.select((keys.map(col) ++ newPhys): _*)
    ctx.queue(StateUpdate(path, keys, updated, keyHint = touched))

    // Caller discards the top ΔV — return a never-executed placeholder
    // instead of planning the retract/assert union.
    if (topUnused) return updated.limit(0)

    val outCols = aggs.map(Eval.stateOutput)

    // Retractions: the group's previous output row, weight -1.
    val retract = joined
      .where(existed)
      .select((keys.map(col) ++ outCols :+ lit(-1).as(WEIGHT)): _*)

    // Assertions: the group's new output row, weight +1, if still alive.
    // A global aggregate (no keys) is always alive: COUNT()=0 / SUM()=NULL
    // over the empty input is still one output row.
    val aliveNew = updated.where(if (keys.isEmpty) lit(true) else col(HCOUNT) > 0)
    val assertNew = aliveNew
      .select((keys.map(col) ++ outCols :+ lit(1).as(WEIGHT)): _*)

    retract.unionByName(assertNew)
  }

  private def adj(phys: String) = s"__ivm_d_$phys"
  /** Count of delete rows hitting an INSERT-ONLY extremum spec — > 0
    * fails the fold loudly (no aux multiset exists to fall back on). */
  private def insGuard(n: String) = s"__ivm_insneg_$n"
  /** Count of negative-weight rows hitting a sketch state (HLL/KLL/freq) —
    * > 0 routes the group to its rebuilt sketch. */
  private def hllNegGuard(n: String) = s"__ivm_hllneg_$n"
  /** Rebuilt-from-post-batch sketch column of a retraction-hit group. */
  private def rebuiltExt(n: String) = s"__ivm_rb_$n"
  /** Engagement counter for the sketch retraction-rebuild fallback —
    * the path is data-dependent control flow, so specs assert it
    * PROVABLY fired (or provably did not, for null-only deletes). */
  private[ivm] val sketchRebuilds =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Sketch-state aggregates (insert-optimized; deletions trigger a
    * touched-group rebuild instead of folding into the sketch). */
  private[ivm] def isSketch(a: AggSpec): Boolean = a match {
    case _: AggSpec.ApproxCountDistinct | _: AggSpec.ApproxPercentile |
         _: AggSpec.ApproxTopK => true
    case _ => false
  }
}
