package graft.ivm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.types.StructType

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.util.Try

/** Public API of the IVM engine — the Spark-native analogue of the
  * reference's three entry points (SURVEY.md §3):
  *
  *   - [[upsert]]      ≙ `PRAGMA ivm_upsert(cat, schema, view)`
  *                       (ivm_extension.cpp:95-110): compute delta_V,
  *                       append it to the `delta_<view>` table, return it.
  *   - [[delta]]       ≙ `SELECT * FROM DoIVM(...)` (ivm_extension.cpp:45-93):
  *                       just the rewritten delta query.
  *   - [[createView]]  ≙ `CREATE IMMV AS <select>` (ivm_parser.cpp:14-84),
  *                       which the reference recognizes but never finishes —
  *                       here it actually registers the view.
  *
  * Plus the half the reference leaves as future work (poster "upsert ΔV"
  * bullets): [[create]] materializes a view and its interior aggregate
  * states into an [[IvmStore]], and [[refresh]] merges a batch of base-table
  * deltas into them incrementally — O(‖Δ‖) work, never rescanning bases
  * except for the delta-join terms that stream them with pushdown.
  */
object Ivm {
  import IvmCore._

  // State materializations (create seeds, refresh pins/commits) are
  // independent per state path; running them as concurrent Spark jobs
  // hides per-job scheduling latency — a view with MIN/MAX aux states
  // otherwise serializes ~4x more tiny jobs per refresh.
  private implicit val statePool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(8, r => {
        val t = new Thread(r, "ivm-state"); t.setDaemon(true); t
      }))

  private def inParallel[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    Await.result(Future.sequence(items.map(a => Future(f(a)))), Duration.Inf)
  }

  // ScalarDeco PARTS (subviews + child) are fully independent view trees
  // (disjoint states, own snapshots/commit queues) — refreshing/creating
  // them concurrently overlaps their per-part fixed floors (walk, pins,
  // seed jobs). A CACHED pool, not statePool: a part's own refresh awaits
  // statePool commit futures, so running parts on statePool could starve
  // the commits they wait for. Gated on IvmStore.concurrentParts: a store
  // whose transaction is a cross-thread lock keeps parts serial.
  private val partsPool = java.util.concurrent.Executors.newCachedThreadPool(
    (r: Runnable) => {
      val t = new Thread(r, "ivm-parts"); t.setDaemon(true); t
    })
  /** Run `thunks` on the parts pool. Every part is awaited before the
    * first failure (in submission order) is rethrown un-wrapped: a part
    * still running after its caller's transaction closed would publish
    * its writes outside it. */
  private def inPartsPool[A](thunks: Seq[() => A]): Seq[A] = {
    val fs = thunks.map(th => partsPool.submit(new java.util.concurrent.Callable[A] {
      override def call(): A = th()
    }))
    val rs = fs.map(f => Try(f.get()))
    rs.collectFirst { case scala.util.Failure(e) => e }.foreach {
      case e: java.util.concurrent.ExecutionException if e.getCause != null =>
        throw e.getCause
      case e => throw e
    }
    rs.map(_.get)
  }

  // ------------------------------------------------------------ catalog

  private val views = TrieMap.empty[String, IvmQuery]

  /** Register a view definition (EP3 intent — ivm_parser.cpp:49-51). */
  def createView(name: String, q: IvmQuery): Unit = views.put(name, q)

  def viewDef(name: String): IvmQuery =
    views.getOrElse(name, throw new IllegalArgumentException(
      s"IVM: view '$name' is not registered"))

  /** End a view's lifecycle: remove its states (interior aggregates, delta
    * accumulators, ScalarDeco subviews — everything under `view/`), its
    * tags (delta-table declaration, streaming replay markers), and its
    * catalog registration. Content-addressed SHARED states
    * ([[createShared]]) are reference-counted by path outside the view
    * prefix and are left in place. On a versioned store, retained older
    * manifests still serve the dropped view via `asOf` until pruned. */
  def drop(view: String, store: IvmStore): Unit = {
    store.dropView(view)
    views.remove(view)
    ()
  }

  // --------------------------------------------- reference-parity surface

  /** Resolve base tables from the session catalog (temp views / tables). */
  private def sessionBase(spark: SparkSession): String => DataFrame =
    t => spark.table(t)

  /** Resolve `delta_<t>` from the session catalog if present. */
  private def sessionDelta(spark: SparkSession): String => Option[DataFrame] =
    t => Try(spark.table(deltaTableName(t))).toOption

  /** EP2 parity: the delta query of a registered view, reference boolean
    * multiplicity semantics (one row per (group, ±), never merged). */
  def delta(spark: SparkSession, view: String): DataFrame =
    ParityDelta.delta(viewDef(view), sessionDelta(spark))

  /** EP1 parity: compute delta_V and register it as the temp view
    * `delta_<view>` (the reference materializes a table,
    * ivm_extension.cpp:100-104; in Spark a temp view keeps the pipeline
    * write-free — callers persist where they choose). Returns delta_V. */
  def upsert(spark: SparkSession, view: String): DataFrame =
    upsert(spark, view, persist = false)

  /** [[upsert]] with full reference parity: `persist = true` writes
    * `delta_<view>` as a REAL catalog table (the reference's PRAGMA
    * creates one via `CREATE TABLE delta_<view> AS`,
    * ivm_extension.cpp:100-103), readable back with
    * `spark.table("delta_<view>")` across sessions sharing the
    * warehouse. The default stays a temp view — on a 100 TB pipeline the
    * delta is an intermediate the maintenance loop consumes immediately;
    * persisting every batch would double the write volume for no reader. */
  def upsert(spark: SparkSession, view: String, persist: Boolean): DataFrame = {
    val dv = delta(spark, view)
    if (persist) {
      val name = deltaTableName(view)
      // a temp view with the same name would shadow the catalog table on
      // read-back — drop it so spark.table(name) serves the persisted rows
      spark.catalog.dropTempView(name)
      dv.write.mode("overwrite").saveAsTable(name)
      spark.table(name)
    } else {
      dv.createOrReplaceTempView(deltaTableName(view))
      dv
    }
  }

  // ----------------------------------------- materialize + refresh (ours)

  /** State name for an aggregate node path within a view. */
  private def stateName(view: String, path: String) = s"$view/$path"
  private val TOP = "top"

  /** Create the view: every interior Aggregate state (bottom-up) plus
    * the view's own rows. For a view whose top is an Aggregate the top
    * state doubles as the view (with hidden bookkeeping columns stripped on
    * read); otherwise the view rows are stored as a weighted multiset. */
  def create(
      view: String,
      q: IvmQuery,
      base: String => DataFrame,
      store: IvmStore): DataFrame =
    create(view, q, base, store, deltaTables = null)

  /** [[create]] with a DECLARED set of base tables that will ever receive
    * deltas (default: all of the view's tables). The declaration is the
    * perf knob for join views: a table's delta ACCUMULATOR (the state that
    * lets later batches join against the side's current content) is
    * maintained only when the OPPOSITE join side contains a declared
    * table — a Q13 loop fed by orders deltas alone declares
    * `Set("orders")` and pays zero accumulator work per batch. Refresh
    * rejects a delta for an undeclared table (the maintained result would
    * silently drift). */
  def create(
      view: String,
      q: IvmQuery,
      base: String => DataFrame,
      store: IvmStore,
      deltaTables: Set[String],
      /** Declare the feed APPEND-ONLY: extremum aggregates (MIN/MAX/
        * MIN_BY/MAX_BY) then keep NO auxiliary value multiset — total
        * state drops from O(rows) to O(groups) — and fold each batch's
        * inserted extrema into the stored value. A batch containing a
        * deletion that touches an extremum spec FAILS the refresh loudly
        * (the same contract as the insert-only sketch aggregates). */
      insertOnly: Boolean = false): DataFrame = {
    // Canonical-instance naming (see [[ZDelta.canonicalPaths]]): a
    // stateful CTE subtree spliced at several positions gets ONE state,
    // named by its first position — refresh derives names through the
    // same map, so the two walks agree by construction.
    def canonNamer(tree: IvmQuery, prefix: String): (IvmQuery, String) => String = {
      val canon = ZDelta.canonicalPaths(tree)
      (n, p) => stateName(prefix, canon.getOrDefault(n, p))
    }
    store.transaction {
      stripRead(q) match {
        case ScalarDeco(c, subs, _) =>
          // the child and each 1-row scalar subview maintain independently;
          // subviews live under <view>/q<i> (their own little view trees).
          // Parts are independent trees — create them concurrently where
          // the store allows it, as refresh does (see partsPool).
          def subCreate(s: IvmQuery, i: Int): Unit = {
            createStates(s, base, store,
              canonNamer(s, subViewName(view, i)),
              topName = stateName(subViewName(view, i), TOP),
              skipExisting = false, insertOnly = insertOnly)
            if (insertOnly)
              store.setTag(s"${subViewName(view, i)}/_insert_only", "true")
          }
          def childCreate(): Unit =
            createStates(c, base, store, canonNamer(c, view),
              topName = stateName(view, TOP), skipExisting = false,
              insertOnly = insertOnly)
          if (store.concurrentParts && subs.nonEmpty)
            inPartsPool[Unit](
              subs.zipWithIndex.map { case (s, i) => () => subCreate(s, i) }
                :+ (() => childCreate()))
          else {
            subs.zipWithIndex.foreach { case (s, i) => subCreate(s, i) }
            childCreate()
          }
        case core =>
          createStates(core, base, store, canonNamer(core, view),
            topName = stateName(view, TOP), skipExisting = false,
            insertOnly = insertOnly)
      }
      if (insertOnly) store.setTag(s"$view/_insert_only", "true")
      if (deltaTables != null) {
        val unknown = deltaTables -- q.tables.toSet
        require(unknown.isEmpty, s"declared delta tables not in view: $unknown")
        store.setTag(s"$view/_delta_tables", deltaTables.toSeq.sorted.mkString(","))
      }
    }
    read(view, q, store)
  }

  /** Derived view name of a [[ScalarDeco]] subview. */
  private def subViewName(view: String, i: Int) = s"$view/q$i"

  /** Declared delta tables of a view (absent tag → all tables). */
  private def declaredDeltaTables(view: String, q: IvmQuery, store: IvmStore): Set[String] =
    store.getTag(s"$view/_delta_tables") match {
      case Some(s) => s.split(',').filter(_.nonEmpty).toSet
      case None    => q.tables.toSet
    }

  /** Create every interior state of `q` (bottom-up), naming each
    * stateful node via `nameOf` and declaring its bucketing keys so the
    * store lays it out for bucket-pruned refresh. Seeds at one level are
    * independent → parallel puts; levels still commit bottom-up (a level's
    * eval only READS base tables, so even that ordering is conservative).
    * `skipExisting` lets content-addressed (shared) states be reused
    * across views instead of recomputed. */
  private def createStates(
      q: IvmQuery,
      base: String => DataFrame,
      store: IvmStore,
      nameOf: (IvmQuery, String) => String,
      topName: String,
      skipExisting: Boolean,
      insertOnly: Boolean = false): Unit = {
    // Interior aggregate states are materialized DEEPEST-FIRST, and every
    // evaluation above them reads the state output instead of recomputing
    // the subtree from base — a shared/spliced interior (CTE referenced n
    // times, shared multi-view groups, nested aggregation) is computed
    // ONCE per create, not once per referencing parent. The hook serves
    // any aggregate whose state this call (or a previous create in the
    // same shared group) already wrote.
    val served = scala.collection.concurrent.TrieMap.empty[String, (String, Aggregate)]
    val ready = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def hook0(node: IvmQuery): Option[DataFrame] = node match {
      case a: Aggregate =>
        served.get(a.toString).filter(t => ready.contains(t._1))
          .map { case (name, agg) =>
            if (agg.aggs.isEmpty) store(name).select(agg.keys.map(col): _*)
            else store(name).select(
              (agg.keys.map(col) ++ agg.aggs.map(Eval.stateOutput)): _*)
          }
      case _ => None
    }
    // Shared-CTE evaluation cache: a stateless subtree referenced from
    // several consumers (the TPC-H Q21 shape: ns over j, nl over j, the
    // top join over j) evaluates ONCE into a cached frame served through
    // the hook — without it, create re-runs the CTE's base-scan join once
    // per dependent state (each aggregate state, each aux multiset, the
    // top). Thread-safe: level seeds run in parallel.
    val sharedCounts = new java.util.IdentityHashMap[IvmQuery, java.lang.Integer]
    ZDelta.countShared(q, sharedCounts)
    val sharedEval = new java.util.IdentityHashMap[IvmQuery, DataFrame]
    def hook(node: IvmQuery): Option[DataFrame] = hook0(node).orElse {
      if (!sharedCounts.containsKey(node)) None
      else sharedEval.synchronized {
        var df = sharedEval.get(node)
        if (df == null) {
          df = Eval.eval(node, base, hook0).cache()
          sharedEval.put(node, df)
        }
        Some(df)
      }
    }
    /** Aggregate-nesting depth: the creation level of each state. */
    def depth(node: IvmQuery): Int = node match {
      case Aggregate(c, _, _)     => 1 + depth(c)
      case Scan(_)                => 0
      case Filter(c, _)           => depth(c)
      case Project(c, _)          => depth(c)
      case Join(l, r, _)          => math.max(depth(l), depth(r))
      case LeftJoin(l, r, _)      => math.max(depth(l), depth(r))
      case RightJoin(l, r, _)     => math.max(depth(l), depth(r))
      case FullJoin(l, r, _)      => math.max(depth(l), depth(r))
      case Union(l, r)            => math.max(depth(l), depth(r))
      case TopK(c, _, _)          => depth(c)
      case WindowDeco(c, _)       => depth(c)
      case ExpandCount(c, _)      => depth(c)
      case ScalarDeco(c, subs, _) =>
        (depth(c) +: subs.map(depth)).max
    }
    // Content-identical states at DIFFERENT paths (a CTE spliced n times)
    // must each exist under their path name, but only the canonical one is
    // computed — duplicates copy its frame. Duplicates run one half-level
    // later (levels are doubled) so the canonical is written first.
    val canon = scala.collection.concurrent.TrieMap.empty[String, String]
    def dedup(key: String, name: String, mk: () => DataFrame): (Int => Int, () => DataFrame) =
      canon.putIfAbsent(key, name) match {
        case Some(first) if first != name => (l => l + 1, () => store(first))
        case _                            => (identity, mk)
      }
    def matchCount(name: String, side: IvmQuery, keys: Seq[String]) = {
      val (bump, mk) = dedup(s"m:${keys.mkString(",")}:$side", name, () =>
        Eval.eval(side, base, hook).groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as(HCOUNT)))
      (name, keys, bump(2 * (depth(side) + 1)), mk)
    }
    def walk(node: IvmQuery, path: String): Seq[(String, Seq[String], Int, () => DataFrame)] =
      node match {
        case a @ Aggregate(c, keys, _) =>
          val name = nameOf(a, path)
          served.putIfAbsent(a.toString, (name, a))
          val (bump, mk) = dedup(s"s:$a", name,
            () => Eval.evalState(a, base, hook))
          walk(c, path + ".0") ++
            Seq((name, keys, bump(2 * depth(a)), mk)) ++
            AggSpec.auxGroups(a.aggs.filterNot(s =>
              insertOnly && AggSpec.isExtremum(s))).map { case (spec, _) =>
              // One multiset per DISTINCT tracked expression (the group
              // owner names it) — MIN_BY + MAX_BY of one pair share state.
              // Buckets by group keys (value-hash for a global aggregate),
              // so group-sliced reads prune.
              val bKeys = if (keys.nonEmpty) keys else Seq(Eval.auxVal(spec.name))
              val (bumpX, mkX) = dedup(s"x:${spec.name}:$a",
                s"$name.aux.${spec.name}",
                () => Eval.evalAuxState(a, spec, base, hook))
              (s"$name.aux.${spec.name}", bKeys, bumpX(2 * depth(a)), mkX)
            }
        case Filter(c, _)  => walk(c, path + ".0")
        case Project(c, _) => walk(c, path + ".0")
        case Join(l, r, _) => walk(l, path + ".0") ++ walk(r, path + ".1")
        case Union(l, r)   => walk(l, path + ".0") ++ walk(r, path + ".1")
        case lj @ LeftJoin(l, r, keys) =>
          walk(l, path + ".0") ++ walk(r, path + ".1") :+
            matchCount(nameOf(lj, path) + ".rcnt", r, keys)
        case rj @ RightJoin(l, r, keys) =>
          walk(l, path + ".0") ++ walk(r, path + ".1") :+
            matchCount(nameOf(rj, path) + ".lcnt", l, keys)
        case fj @ FullJoin(l, r, keys) =>
          walk(l, path + ".0") ++ walk(r, path + ".1") :+
            matchCount(nameOf(fj, path) + ".rcnt", r, keys) :+
            matchCount(nameOf(fj, path) + ".lcnt", l, keys)
        case Scan(_)       => Seq.empty
        // Read decorations never reach here via the public entry points
        // (create/refresh strip them), but recurse for direct callers.
        case TopK(c, _, _)     => walk(c, path)
        case WindowDeco(c, _)  => walk(c, path)
        case ExpandCount(c, _) => walk(c, path)
        case _: ScalarDeco => throw new IllegalStateException(
          "ScalarDeco is split by create/createShared before state walk")
      }
    val states = walk(q, "r").distinctBy(_._1)
      .filterNot { case (name, _, _, _) =>
        skipExisting && store.get(name).isDefined }
    // An aggregate state already in the store (skipExisting filtered it
    // out) serves parents immediately; one created in THIS call serves
    // parents only once its level has been written.
    val creating = states.map(_._1).toSet
    served.values.foreach { case (name, _) =>
      if (!creating(name)) ready.add(name) }
    states.groupBy(_._3).toSeq.sortBy(_._1).foreach { case (_, level) =>
      inParallel(level) { case (name, keys, _, mk) =>
        store.putKeyed(name, mk(), keys) }
      level.foreach { case (name, _, _, _) => ready.add(name) }
    }
    q match {
      case _: Aggregate => () // top state IS the view
      case _ if skipExisting && store.get(topName).isDefined => ()
      case _ =>
        // SPJ view: store rows + multiset count (Z-set canonical form),
        // bucketed on the full row (the multiset's key).
        val rows = Eval.eval(q, base, hook)
        store.putKeyed(topName,
          rows.groupBy(rows.columns.map(col): _*).agg(count(lit(1)).as(HCOUNT)),
          rows.columns.toSeq)
    }
    // the shared-CTE frames are create-scoped; every dependent state is
    // committed by now
    sharedEval.values.forEach(_.unpersist(false))
  }

  /** Current contents of a materialized view. A [[TopK]] decoration ranks
    * at read time over the maintained child state — the plan is
    * TakeOrderedAndProject (per-partition heap + k-row driver merge). */
  def read(view: String, q: IvmQuery, store: IvmStore): DataFrame = q match {
    case TopK(c, sort, n) =>
      read(view, c, store).orderBy(Eval.sortCols(sort): _*).limit(n)
    case WindowDeco(c, cols) => read(view, c, store).select(cols: _*)
    case ExpandCount(c, n) =>
      val ex = expandMultiset(read(view, c, store), n)
      ex.select(ex.columns.filterNot(_ == n).map(col): _*)
    case ScalarDeco(c, subs, cols) =>
      subs.zipWithIndex.foldLeft(read(view, c, store)) {
        case (acc, (s, i)) => acc.crossJoin(read(subViewName(view, i), s, store))
      }.select(cols: _*)
    case Aggregate(_, keys, aggs) =>
      store(stateName(view, "r"))
        .select((keys.map(col) ++ aggs.map(Eval.stateOutput)): _*)
    case _ =>
      val st = store(stateName(view, TOP))
      expandMultiset(st, HCOUNT)
  }

  /** State-relevant core of a view: [[TopK]] is a read-time decoration —
    * create/refresh maintain the CHILD (deletions inside the current top-k
    * must promote runners-up, so the full child multiset is the state). */
  private def stripRead(q: IvmQuery): IvmQuery = q match {
    case TopK(c, _, _)     => stripRead(c)
    case WindowDeco(c, _)  => stripRead(c)
    case ExpandCount(c, _) => stripRead(c)
    case _                 => q
  }

  /** Expand (row, count) back into `count` copies of `row`. Counts beyond
    * Int.MaxValue would silently truncate through the int cast (negative
    * repeat → rows dropped) — fail loudly instead; a multiset row with
    * billions of duplicates should be consumed in counted form. */
  private[ivm] def expandMultiset(df: DataFrame, countCol: String): DataFrame = {
    val cols = df.columns.filterNot(_ == countCol).toSeq
    val n = col(countCol).cast("long")
    val guarded = when(n <= Int.MaxValue, n.cast("int")).otherwise(
      raise_error(concat(lit("IVM: multiset count overflows row expansion: "),
        n.cast("string"))))
    df.withColumn("__ivm_dup", explode(array_repeat(lit(1), guarded)))
      .select(cols.map(col): _*)
  }

  /** A view's output changelog (the signed-WEIGHT frame [[refresh]]
    * returns) re-expressed in the boolean-multiplicity delta convention
    * (|w| row copies, `MULT` = w > 0) — the delta algebra is closed under
    * composition, so one view's ΔV can feed a DOWNSTREAM view's refresh
    * as if it were a base-table delta (see [[Cascade]]). */
  def changelogAsDelta(dv: DataFrame): DataFrame = {
    val cols = dv.columns.filterNot(_ == WEIGHT).toSeq
    expandMultiset(
      dv.select(cols.map(col) :+ (col(WEIGHT) > 0).as(MULT) :+
        abs(col(WEIGHT)).as("__ivm_absw"): _*),
      "__ivm_absw")
  }

  /** Incrementally fold one batch of base-table deltas into the
    * materialized view. Returns ΔV with the signed WEIGHT column.
    *
    * Pipeline: compute ΔV (queuing interior state updates) → materialize
    * every update eagerly (all reads of old state happen before any write;
    * [[IvmStore.put]] additionally guarantees snapshot isolation) → commit
    * updates bottom-up → merge the top multiset for SPJ views. */
  def refresh(
      view: String,
      q: IvmQuery,
      base: String => DataFrame,
      deltas: String => Option[DataFrame],
      store: IvmStore,
      broadcastDeltas: Boolean = true): DataFrame =
    doRefresh(view, q, base, deltas, store, broadcastDeltas, needDelta = true)

  /** [[refresh]] without materializing ΔV — for callers that only read the
    * maintained view afterwards (the common steady-state loop). For an
    * Aggregate-top view the output changelog is pure derivation from the
    * cached state join, so skipping it saves the largest job per batch.
    * SPJ-top views still need ΔV (it IS the state merge input). */
  def refreshState(
      view: String,
      q: IvmQuery,
      base: String => DataFrame,
      deltas: String => Option[DataFrame],
      store: IvmStore,
      broadcastDeltas: Boolean = true): Unit = {
    val core = stripRead(q) match {
      case ScalarDeco(c, _, _) => c // subviews never need an output delta
      case s                   => s
    }
    doRefresh(view, q, base, deltas, store, broadcastDeltas,
      needDelta = !core.isInstanceOf[Aggregate], releaseDelta = true)
    ()
  }

  /** Cross-refresh subtree-schema memos, per (store, view): a view's
    * output types are fixed for the life of its state, so the typed-NULL
    * analysis in the outer-join delta runs once per view instead of once
    * per batch (it was a measurable slice of the per-batch planning
    * floor). Weak on the store so test-scoped stores can collect. */
  private val schemaMemos = new java.util.WeakHashMap[
    IvmStore, TrieMap[String, mutable.Map[String, StructType]]]()
  private def schemaMemoFor(
      store: IvmStore, view: String): mutable.Map[String, StructType] =
    schemaMemos.synchronized {
      var m = schemaMemos.get(store)
      if (m == null) { m = TrieMap.empty; schemaMemos.put(store, m) }
      m.getOrElseUpdate(view, TrieMap.empty[String, StructType])
    }

  // ------------------------------------------------ small-batch local path

  /** Per-table row cap of the small-batch local path: a refresh whose
    * delta tables are all at or under this collects them (and every
    * O(touched) pinned intermediate, with 4× fan-out headroom) into
    * driver-side LocalRelations. The engine already BROADCASTS all of
    * these frames — "fits a broadcast" and "fits the driver" are the same
    * assumption (Spark's broadcast exchange itself collects to the driver
    * first) — and local frames erase most of the fixed per-batch job
    * floor: Catalyst folds projections over LocalRelation, so
    * touched-bucket lookups, broadcast builds, and changelog derivations
    * stop scheduling jobs. Batches above the cap keep today's distributed
    * pin path (`-Dgraft.localBatchRows=0` disables entirely). */
  private def localBatchRows: Int =
    sys.props.getOrElse("graft.localBatchRows", "65536").toInt

  /** Collect `df` into a LocalRelation-backed DataFrame when it has at
    * most `cap` rows; None when larger (callers fall back to the
    * distributed path). The size probe is a separate count() — a
    * limit-guarded collect looks cheaper but pays CollectLimit's
    * incremental partition scale-up (several jobs) on every call. */
  private[ivm] def collectLocal(df: DataFrame, cap: Int, role: String = "",
      overCapPin: Boolean = false): Option[DataFrame] = {
    import org.apache.spark.sql.GraftTemplates
    localLeaf(df) match {
      // already local (e.g. a cascade changelog feed): re-tag so the frame
      // is a plan-template substitution point, not a per-batch literal
      case Some(l) => Some(retag(df, l, role))
      case None =>
        // An ALL-LOCAL-LEAF frame (cascade changelog over a replayed ΔV,
        // derived batch frames) routes through the template cache: a
        // repeated probe shape reuses its physical plan, and a
        // single-partition local plan executes inline on the driver with
        // NO job at all (GraftTemplates driverCollect). File-backed frames
        // must NOT take this route — a cached physical plan pins the file
        // scan's first-execution listing — and read real bytes anyway, so
        // a plain one-job executeTake(cap+1) is their floor. (A separate
        // count() probe looks cheaper but pays CollectLimit's incremental
        // partition scale-up — several jobs — on every call.)
        val allLocal = df.queryExecution.analyzed.collectLeaves().forall(
          _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
        val rows =
          if (allLocal && overCapPin)
            // `overCapPin` callers (the ΔV refresh pin) keep an over-cap
            // result as a PLAIN LocalRelation pin — un-tagged (its rows
            // are not a template substitution point at that size) and
            // un-coalesced (LocalTableScanExec re-parallelizes it across
            // defaultParallelism slices downstream), so the one execution
            // here is the only one: no discarded probe, no cache()+count()
            // re-run of a plan that had already materialized everything.
            // Hard ceiling (64× the pin cap): a mid-plan join blowup past
            // that is no longer an O(touched) pin; abort the inline collect
            // and let the caller's cache()+count() distributed pin absorb
            // it through the block manager instead of one driver array.
            GraftTemplates.collectVerdict(df, cap,
                hard = math.min(cap.toLong * 64, Int.MaxValue - 1).toInt) match {
              case Some(Right(r)) => Some(r)
              case Some(Left(r)) => return Some(org.apache.spark.sql.GraftLocalIO
                .localDf(df.sparkSession, df.schema, r.toIndexedSeq))
              case None => None
            }
          else if (allLocal)
            // remaining accepted corner for NON-pin callers (delta memos,
            // cascade changelogs): an over-cap all-local frame executed
            // here is discarded — reaching it needs a driver-local batch
            // that EXPANDS past 64k rows mid-plan, pathological for
            // O(touched) pins
            GraftTemplates.collectCapped(df, cap)
          else {
            val r = df.queryExecution.executedPlan.executeTake(cap + 1)
            if (r.length > cap) None else Some(r)
          }
        rows.map(r => GraftTemplates.taggedLocal(
          df.sparkSession, df.schema, r.toIndexedSeq, role).coalesce(1))
    }
  }

  // NOTE (rejected design): ASYNC pin collects — a background pool running
  // GraftTemplates.collect while the walk kept composing — cannot work:
  // Catalyst's QueryPlan._expressions traverses every Seq product element
  // of a node, so the pin's OWN Dataset construction forces the rows
  // synchronously (measured identical to the serial cadence). Pins overlap
  // through walk-level parallelism instead (ZDelta.forkJoin): on q113 at
  // sf0.1, 4 interleaved pairs on a 4-core host, the fork's steady refresh
  // was ~5.5 s against ~6.3 s serial.

  /** A fresh param-tagged, coalesced copy of `df`'s local relation `l`. */
  private def retag(df: DataFrame,
      l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation,
      role: String): DataFrame =
    org.apache.spark.sql.GraftTemplates.taggedLocal(df.sparkSession,
      org.apache.spark.sql.catalyst.types.DataTypeUtils
        .fromAttributes(l.output), l.data, role).coalesce(1)

  /** Collect a frame the caller already gated as small (every pinned
    * intermediate is O(touched) of a gated batch) — one plain collect, no
    * size probe. The result is coalesced to ONE partition: SinglePartition
    * satisfies every required distribution, so downstream aggregations
    * over the frame plan with NO exchange (one stage, one task) instead of
    * a 32-partition micro-shuffle — measured ~5× per action on a 15k-row
    * frame. Joins against big relations still broadcast the local side,
    * so nothing downstream collapses onto one task. */
  private[ivm] def toLocal(df: DataFrame, role: String = ""): DataFrame =
    localLeaf(df) match {
      // already a local (or a pin: coalesce(1) over one) — re-tag as a
      // fresh substitution point, no execution at all
      case Some(l) => retag(df, l, role)
      // template-cached execution: the pin's plan structure repeats every
      // batch with fresh leaf data, so after batch 1 this skips Catalyst,
      // and all-local plans run inline on the driver with no main-session
      // optimizer pass (an `optimizedPlan` match here cost 0.3 to 0.8 s per
      // big composed pin at sf0.1)
      case None =>
        import org.apache.spark.sql.GraftTemplates
        GraftTemplates.taggedLocal(df.sparkSession, df.schema,
          GraftTemplates.collect(df).toSeq, role).coalesce(1)
    }

  /** Delta resolver for one batch that swaps each table's delta for a
    * collected LocalRelation when it fits [[localBatchRows]] — memoized so
    * the collect happens once per (batch, table). */
  private final class BatchDeltas(
      raw: String => Option[DataFrame], cap: Int)
      extends (String => Option[DataFrame]) {
    private val memo = TrieMap.empty[String, Option[DataFrame]]
    override def apply(t: String): Option[DataFrame] = raw(t).map { d =>
      memo.getOrElseUpdate(t,
        if (cap > 0) collectLocal(d, cap, s"delta:$t") else None).getOrElse(d)
    }
    /** Every present delta among `tables` fit the local cap. */
    def allLocal(tables: Seq[String]): Boolean =
      tables.distinct.forall(t => apply(t).isEmpty || memo(t).isDefined)
  }

  /** Pin cap for a batch's O(touched) intermediates: tables gated at
    * [[localBatchRows]], pins get 4× headroom for join fan-out. */
  private def pinCap(bd: BatchDeltas, tables: Seq[String]): Int =
    if (localBatchRows > 0 && bd.allLocal(tables)) 4 * localBatchRows else 0

  /** Trace-replay engagement counter (bench evidence: the amortizer only
    * counts if it provably fires during the measured loop). */
  def traceReplays: Long = Trace.replays

  /** `graft.pinMode`: `lazy` (default) or `reliable` — how the
    * distributed path pins O(touched) intermediates (see
    * [[ZDelta.Ctx.pin]]). */
  private[ivm] def reliablePins: Boolean =
    sys.props.getOrElse("graft.pinMode", "lazy") match {
      case "lazy"     => false
      case "reliable" => true
      case m => throw new IllegalArgumentException(
        s"graft.pinMode=$m: expected lazy or reliable")
    }

  private def doRefresh(
      view: String,
      q0: IvmQuery,
      base: String => DataFrame,
      deltas0: String => Option[DataFrame],
      store: IvmStore,
      broadcastDeltas: Boolean,
      needDelta: Boolean,
      releaseDelta: Boolean = false): DataFrame = {
    // One BatchDeltas per batch: the ScalarDeco recursion reuses the outer
    // wrapper so each table's delta is collected (or rejected) once.
    val deltas: BatchDeltas = deltas0 match {
      case b: BatchDeltas => b
      case f              => new BatchDeltas(f, localBatchRows)
    }
    stripRead(q0) match {
      case sd @ ScalarDeco(child, subs, _) =>
        // Reject undeclared deltas against the FULL view's tables (child +
        // subviews) before splitting, then refresh each part independently
        // inside ONE store transaction (reentrant: nested parts stage into
        // the outer manifest flip — a crash publishes all or nothing).
        val declared = declaredDeltaTables(view, sd, store)
        for (t <- sd.tables.distinct if deltas(t).isDefined && !declared(t))
          throw new IllegalStateException(
            s"IVM: view '$view' received a delta for undeclared table '$t' — " +
              s"declare it in Ivm.create(deltaTables=...) (declared: $declared)")
        return store.transaction {
          def subRefresh(s: IvmQuery, i: Int): Unit = {
            doRefresh(subViewName(view, i), s, base, deltas, store,
              broadcastDeltas, needDelta = false, releaseDelta = true)
            ()
          }
          def childRefresh(): DataFrame =
            doRefresh(view, child, base, deltas, store, broadcastDeltas,
              needDelta, releaseDelta)
          if (store.concurrentParts && subs.nonEmpty)
            // independent parts on parallel threads (see partsPool note)
            inPartsPool[Any](
              subs.zipWithIndex.map { case (s, i) => () => subRefresh(s, i) }
                :+ (() => childRefresh())
            ).last.asInstanceOf[DataFrame]
          else {
            subs.zipWithIndex.foreach { case (s, i) => subRefresh(s, i) }
            childRefresh()
          }
        }
      case _ => ()
    }
    val q = stripRead(q0) // TopK decorates reads; maintenance is the child's
    // State commits launch EAGERLY as ZDelta queues them — a state's merge
    // I/O overlaps the planning of its siblings. This is sound ONLY
    // because every state read below goes through a FROZEN store snapshot
    // captured before delta construction: the construction resolves
    // pre-batch states lazily (a join's second term reads the first
    // side's aggregate state AFTER that state's update was queued, and
    // the outer-join rules read the match-count state they just updated),
    // so reads through the LIVE store would observe commits that land
    // mid-construction — MemStore replaces its entry, ParquetStore's open
    // transaction serves staged flips to same-txn reads — and feed
    // POST-batch state into the remaining delta terms.
    val snap = store.readSnapshot()
    val pending = new java.util.concurrent.ConcurrentLinkedQueue[
      scala.concurrent.Future[Unit]]()
    val commit: ZDelta.StateUpdate => Unit =
      u => pending.add(scala.concurrent.Future(
        commitUpdate(store, stateName(view, u.path), u))(statePool))
    val localCapV = pinCap(deltas, q.tables)
    // Trace replay (see [[Trace]]): the small-batch local path records the
    // refresh walk once and replays it with fresh leaf rows on later
    // batches — the walk's Dataset-composition cost is paid once per view,
    // not once per batch. Any guard failure falls back to a fresh
    // (re-recording) walk; partially replayed state commits are idempotent
    // because every update derives from the same frozen snapshot.
    val traceOk = Trace.enabled && localCapV > 0 && !reliablePins &&
      Trace.traceable(q)
    val recorder = if (traceOk) new Trace.Recorder else null
    def checked(df: DataFrame): DataFrame = {
      if (recorder != null) recorder.checkStateRead(df)
      df
    }
    // canonical-instance state names, mirroring create (ZDelta.canonicalPaths)
    val canon = ZDelta.canonicalPaths(q)
    val ctx = ZDelta.Ctx(base, deltas,
      p => checked(snap(stateName(view, p))),
      broadcastDeltas,
      sliceFn = (p, kdf, ks) =>
        checked(snap.slice(stateName(view, p), kdf, ks)),
      namer = (n, p) => canon.getOrDefault(n, p),
      stateOpt = p => {
        val r = snap.get(stateName(view, p))
        if (recorder != null) {
          recorder.recordProbe(p, r.isDefined)
          r.foreach(recorder.checkStateRead)
        }
        r
      },
      schemaMemo = schemaMemoFor(store, view),
      needTopDelta = needDelta,
      localCap = localCapV,
      onUpdate = commit,
      recorder = recorder,
      insertOnly = store.getTag(s"$view/_insert_only").contains("true"))
    // intra-batch delta CSE for shared CTE subtrees (see Ctx.sharedDeltaOnce)
    ZDelta.countShared(q, ctx.sharedCounts)
    // A batch that touches none of the view's base tables is a no-op —
    // return an empty ΔV with the right schema instead of erroring.
    if (!ZDelta.hasDelta(q, ctx))
      return Eval.eval(q, base).limit(0).withColumn(WEIGHT, lit(1)).limit(0)
    val declared = declaredDeltaTables(view, q, store)
    for (t <- q.tables.distinct if deltas(t).isDefined && !declared(t))
      throw new IllegalStateException(
        s"IVM: view '$view' received a delta for undeclared table '$t' — " +
          s"declare it in Ivm.create(deltaTables=...) (declared: $declared)")
    val sigStr =
      if (!traceOk) ""
      else Trace.sig(view, q,
        q.tables.distinct.filter(t => deltas(t).isDefined),
        needDelta, broadcastDeltas)
    /** Await every eagerly-submitted commit; first failure wins. Must run
      * before the transaction closes (staged flips publish together) AND
      * on any failure path (a commit may not outlive the open txn). */
    def drain(): Unit = {
      var f = pending.poll()
      while (f != null) {
        scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)
        f = pending.poll()
      }
    }
    val dv = store.transaction {
      try {
        val replayed: Option[DataFrame] =
          if (!traceOk) None
          else Trace.tapeFor(store, view).flatMap(tape =>
            Trace.replay(
              base(q.tables.head).sparkSession, tape, sigStr,
              t => deltas(t),
              n => snap.get(n),
              p => snap.get(stateName(view, p)).isDefined,
              commit))
        val dv0 = replayed.getOrElse {
          val d = ZDelta.delta(q, ctx)
          // Per-table delta accumulators (join-side tables only): the NEXT
          // batch's join terms read current sides from them.
          ZDelta.queueAccUpdates(q, ctx, declared)
          if (recorder != null)
            Trace.finish(store, view, sigStr, recorder,
              d.queryExecution.analyzed, n => snap.get(n))
          d
        }
        // Pin ΔV before the top merge reads it — the pinned frame survives
        // the pins-unpersist below. Its plan reads only snapshot-frozen
        // state, so the in-flight commits cannot leak into it. On the
        // small-batch local path the pin is a driver-local collect (an
        // all-local replayed plan runs inline, zero jobs; downstream
        // consumers like the cascade changelog then also fold for free);
        // an over-cap or distributed ΔV keeps the cache()+count() pin.
        val dv = if (needDelta) {
          val local =
            if (localCapV > 0) collectLocal(dv0, localCapV, overCapPin = true)
            else None
          local.getOrElse { val c = dv0.cache(); c.count(); c }
        } else dv0
        drain()
        // SPJ views: fold ΔV into the stored multiset (reads pre-batch
        // top state through the snapshot; writes through the live store).
        q match {
          case _: Aggregate => ()
          case _            => mergeTop(store, snap, stateName(view, TOP), dv)
        }
        dv
      } finally drain() // failure path: no commit may outlive the open txn
    }
    ctx.pins.foreach(_.unpersist())
    if (needDelta && releaseDelta) dv.unpersist()
    dv
  }

  private def commitUpdate(store: IvmStore, name: String, u: ZDelta.StateUpdate): Unit =
    if (u.keys.isEmpty)
      store.put(name, u.updated) // global agg state: always one live row
    else {
      val alive = Option(u.alive).getOrElse(col(HCOUNT) > 0)
      if (store.get(name).isEmpty)
        // lazily-created state (the per-table delta accumulators): first
        // batch writes the live rows directly
        store.putKeyed(name, u.updated.where(alive),
          if (u.bucketKeys.nonEmpty) u.bucketKeys else u.keys)
      else store.merge(name, u.updated, u.keys, alive, u.bucketKeys, u.keyHint)
    }

  /** Fold ΔV into an SPJ view's stored multiset — per-key count
    * adjustments over touched rows only (never a full-state groupBy).
    * Reads resolve through `snap` (the refresh's frozen pre-batch view);
    * the merge writes through the live `store`. */
  private def mergeTop(store: IvmStore, snap: IvmStore, topName: String,
      dv: DataFrame): Unit = {
    val st = snap(topName) // schema only
    val cols = st.columns.filterNot(_ == HCOUNT).toSeq
    val adjCol = "__ivm_adj"
    val agg = dv.groupBy(cols.map(col): _*).agg(sum(WEIGHT).as(adjCol))
    // A driver-local ΔV aggregates into a driver-local frame: a template
    // substitution point, where a cached frame would fail the template
    // soundness gate and re-plan the merge every batch. Only the
    // distributed ΔV caches (slice and keyHint both read dvAgg).
    val local = localLeaf(dv).isDefined
    val dvAgg = if (local) toLocal(agg) else agg.cache()
    try {
      val oldTouched = snap.slice(topName, dvAgg, cols)
      val updatedTop = ZDelta.leftOuterByKeys(dvAgg, oldTouched, cols,
        hint = broadcast)
        .select((cols.map(col) :+
          (coalesce(col(HCOUNT), lit(0L)) + col(adjCol)).as(HCOUNT)): _*)
      store.merge(topName, updatedTop, cols, col(HCOUNT) > 0,
        keyHint = dvAgg)
    } finally if (!local) dvAgg.unpersist()
  }

  // ------------------------------------------------- multi-view sharing

  /** Content-addressed state path of a (sub)query: views containing
    * IDENTICAL subtrees share one interior state. Case-class toString is
    * deterministic (Column pretty-prints its expression), so equal ASTs
    * hash equal. */
  private[ivm] def sharedPath(q: IvmQuery): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(q.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"shared/${h.take(16)}"
  }
  private val sharedNamer: (IvmQuery, String) => String = (n, _) => sharedPath(n)

  /** Create a SET of views with content-addressed interior states: a
    * subtree appearing in several views (the poster's "IVM transforms
    * should be composable" goal) is materialized ONCE and reused — e.g.
    * two Q13 variants over the same per-customer order counts share that
    * interior aggregate's state directory. */
  def createShared(
      views: Map[String, IvmQuery],
      base: String => DataFrame,
      store: IvmStore): Unit =
    store.transaction {
      for (q <- views.values.toSeq.map(stripRead).distinctBy(_.toString);
           p <- sharedParts(q).distinctBy(_.toString))
        createStates(p, base, store, sharedNamer,
          topName = sharedPath(p) + "/top", skipExisting = true)
    }

  /** Refresh a SET of shared-state views against one delta batch: each
    * shared subtree's delta is computed once (ZDelta memo) and each shared
    * state is committed once, all inside ONE store transaction. Views must
    * be refreshed TOGETHER — refreshing one view of a shared group alone
    * would advance shared states under its siblings. */
  def refreshShared(
      views: Map[String, IvmQuery],
      base: String => DataFrame,
      deltas0: String => Option[DataFrame],
      store: IvmStore): Unit = {
    val deltas = new BatchDeltas(deltas0, localBatchRows)
    val allTables = views.values.toSeq.flatMap(_.tables).distinct
    val snap = store.readSnapshot()
    val parts = views.values.toSeq.map(stripRead).distinctBy(_.toString)
      .flatMap(sharedParts).distinctBy(_.toString)
    val sharedPending = new java.util.concurrent.ConcurrentLinkedQueue[
      scala.concurrent.Future[Unit]]()
    // Aggregate tops that are ONLY tops this batch (no view consumes them
    // as an interior) have no ΔV consumer — ZDelta skips their state-join
    // pin and never builds their retract/assert plan.
    val topOnlyNames = parts.collect { case a: Aggregate => sharedPath(a) }.toSet --
      parts.flatMap(interiorAggs).map(sharedPath).toSet
    val ctx = ZDelta.Ctx(base, deltas, p => snap(p),
      sliceFn = (p, kdf, ks) => snap.slice(p, kdf, ks),
      namer = sharedNamer,
      stateOpt = p => snap.get(p),
      schemaMemo = schemaMemoFor(store, "__shared__"),
      // Aggregate tops in a shared group discard their ΔV (SPJ tops are
      // unaffected: their top node is not an Aggregate)
      needTopDelta = false,
      localCap = pinCap(deltas, allTables),
      topOnly = topOnlyNames,
      // commits launch as updates are queued (all reads go through the
      // frozen snap, so a commit landing mid-walk cannot leak into later
      // delta terms) — a state's merge I/O overlaps its siblings' planning,
      // exactly as the per-view refresh does. First queue per path wins
      // (shared subtrees memo-dedupe; the set is the belt).
      onUpdate = {
        val committed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
        u => if (committed.add(u.path))
          sharedPending.add(scala.concurrent.Future(
            commitUpdate(store, u.path, u))(statePool))
      })
    val spjTops = scala.collection.mutable.Buffer.empty[(IvmQuery, DataFrame)]
    def drainShared(): Unit = {
      var f = sharedPending.poll()
      while (f != null) {
        scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)
        f = sharedPending.poll()
      }
    }
    store.transaction {
      try {
        for (q <- parts if ZDelta.hasDelta(q, ctx)) { // untouched views are no-ops
          q match {
            case _: Aggregate => ZDelta.delta(q, ctx) // queue updates only
            case _ =>
              val c = ZDelta.delta(q, ctx).cache()
              c.count() // pin ΔV before any commit
              spjTops += ((q, c))
          }
          // shared accumulators dedupe by path (content-addressed per table)
          ZDelta.queueAccUpdates(q, ctx, q.tables.toSet)
        }
        drainShared()
        spjTops.foreach { case (q, dv) =>
          mergeTop(store, snap, sharedPath(q) + "/top", dv)
        }
      } finally drainShared() // no commit may outlive the open txn
    }
    ctx.pins.foreach(_.unpersist())
    spjTops.foreach(_._2.unpersist())
  }

  /** Maintenance parts of a shared view: a [[ScalarDeco]] top splits into
    * its subviews + child — each content-addressed and maintained alone
    * (two views sharing the same scalar subquery share its 1-row state). */
  private def sharedParts(q: IvmQuery): Seq[IvmQuery] = q match {
    case ScalarDeco(c, subs, _) => subs :+ c
    case other                  => Seq(other)
  }

  /** Every Aggregate STRICTLY below `q`'s root — the nodes whose ΔV some
    * parent consumes, hence which may never take the discarded-top
    * shortcut in a shared-group refresh. */
  private def interiorAggs(q: IvmQuery): Seq[Aggregate] = {
    def kids(n: IvmQuery): Seq[IvmQuery] = n match {
      case Aggregate(c, _, _)     => Seq(c)
      case Filter(c, _)           => Seq(c)
      case Project(c, _)          => Seq(c)
      case Union(l, r)            => Seq(l, r)
      case Join(l, r, _)          => Seq(l, r)
      case LeftJoin(l, r, _)      => Seq(l, r)
      case RightJoin(l, r, _)     => Seq(l, r)
      case FullJoin(l, r, _)      => Seq(l, r)
      case TopK(c, _, _)          => Seq(c)
      case WindowDeco(c, _)       => Seq(c)
      case ExpandCount(c, _)      => Seq(c)
      case ScalarDeco(c, subs, _) => c +: subs
      case Scan(_)                => Seq.empty
    }
    def below(n: IvmQuery): Seq[Aggregate] = {
      val self = n match { case a: Aggregate => Seq(a); case _ => Seq.empty }
      self ++ kids(n).flatMap(below)
    }
    kids(q).flatMap(below)
  }

  /** Current contents of a shared-state view. */
  def readShared(q: IvmQuery, store: IvmStore): DataFrame = q match {
    case TopK(c, sort, n) =>
      readShared(c, store).orderBy(Eval.sortCols(sort): _*).limit(n)
    case WindowDeco(c, cols) => readShared(c, store).select(cols: _*)
    case ScalarDeco(c, subs, cols) =>
      subs.foldLeft(readShared(c, store))(
        (acc, s) => acc.crossJoin(readShared(s, store))).select(cols: _*)
    case ExpandCount(c, n) =>
      val ex = expandMultiset(readShared(c, store), n)
      ex.select(ex.columns.filterNot(_ == n).map(col): _*)
    case Aggregate(_, keys, aggs) =>
      store(sharedPath(q))
        .select((keys.map(col) ++ aggs.map(Eval.stateOutput)): _*)
    case _ =>
      expandMultiset(store(sharedPath(q) + "/top"), HCOUNT)
  }

  /** Full-recompute equivalent of the maintained view — used by tests and
    * the self-check oracle: refresh(...) must leave read(...) equal to
    * eval over (base ⊎ delta). */
  def recompute(
      q: IvmQuery,
      base: String => DataFrame,
      deltas: String => Option[DataFrame]): DataFrame = {
    val merged: String => DataFrame = t => deltas(t) match {
      case None => base(t)
      case Some(d) =>
        // multiset apply at the scan: base ⊎ inserts ∖ deletes
        val b = base(t)
        val withW = ZDelta.weighted(d)
        val all = b.withColumn(WEIGHT, lit(1)).unionByName(withW)
        val cols = b.columns.toSeq
        val counted = all.groupBy(cols.map(col): _*)
          .agg(sum(WEIGHT).as(WEIGHT)).where(col(WEIGHT) > 0)
        expandMultiset(counted, WEIGHT)
    }
    Eval.eval(q, merged)
  }
}
