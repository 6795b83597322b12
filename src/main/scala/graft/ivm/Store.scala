package graft.ivm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Storage for materialized views and interior aggregate states.
  *
  * The reference has no equivalent — it only ever materializes `delta_V`
  * tables (ivm_extension.cpp:100-104) and leaves maintaining V itself as
  * future work. The store is what makes the apply/refresh half real.
  *
  * The API is shaped by the two operations a 100 TB refresh loop needs to
  * be O(‖Δ‖), not O(state):
  *
  *   - [[slice]]: read ONLY the state rows for a (small) set of touched
  *     keys — backends that bucket state by key prune the read to touched
  *     buckets instead of scanning the full state;
  *   - [[merge]]: fold per-key replacement rows in, rewriting only the
  *     buckets containing touched keys instead of the whole state.
  */
trait IvmStore {
  def get(name: String): Option[DataFrame]

  /** Replace `name` with `df`. Implementations must guarantee snapshot
    * isolation: DataFrames obtained from get() BEFORE the put must keep
    * reading the old version (refresh reads old state while computing the
    * new one). */
  def put(name: String, df: DataFrame): Unit

  /** put() with declared bucketing keys. Backends that hash-partition
    * state by key ([[ParquetStore]]) lay the data out so later [[merge]]/
    * [[slice]] calls touch only the buckets a delta hits; the default
    * ignores the hint. */
  def putKeyed(name: String, df: DataFrame, bucketKeys: Seq[String]): Unit =
    put(name, df)

  /** Rows of state `name` whose `sliceKeys` appear in `keyDf` (null-safe —
    * SQL GROUP BY treats NULL as a group). `keyDf` is assumed SMALL (it is
    * broadcast); the default scans the full state with a broadcast
    * semi-join, bucketed backends first prune to the buckets `keyDf`
    * hashes into. NOTE: bucketed backends evaluate `keyDf` EAGERLY (to
    * learn the touched buckets), so pass a cached frame when it is reused. */
  def slice(name: String, keyDf: DataFrame, sliceKeys: Seq[String]): DataFrame =
    StoreOps.semiByKeys(apply(name), keyDf, sliceKeys)

  /** Fold a batch of per-key replacements into state `name`:
    *
    *   new = (old ∖ mergeKeys(updated)) ∪ updated.where(alive)
    *
    * `updated` holds the complete post-batch row for EVERY touched key —
    * dead rows included; `alive` is the predicate separating live rows
    * from dead ones (backends that journal deltas persist dead keys as
    * tombstones). Key matching is null-safe. `bucketKeys` (defaults to
    * `mergeKeys`) must equal the state's layout keys and be a
    * prefix-subset of `mergeKeys` — e.g. a MIN/MAX aux state merges on
    * (group, value) but buckets on group only. `keyHint`, when given, is
    * a SMALL cached frame whose bucket-key rows form a superset of
    * `updated`'s — bucketed backends derive the touched buckets from it
    * instead of re-executing `updated`'s (often expensive) plan. The
    * default implementation rewrites the whole state; [[ParquetStore]]
    * appends an O(‖Δ‖) overlay segment (LSM-style) and compacts touched
    * buckets only when their chains grow — the property that keeps
    * refresh ≪ recompute at 100 TB state sizes. */
  def merge(
      name: String,
      updated: DataFrame,
      mergeKeys: Seq[String],
      alive: Column,
      bucketKeys: Seq[String] = Seq.empty,
      keyHint: DataFrame = null): Unit = {
    val old = apply(name)
    val untouched = StoreOps.antiByKeys(old, updated, mergeKeys)
    putKeyed(name, untouched.unionByName(
      updated.where(alive).select(old.columns.map(col): _*)),
      if (bucketKeys.nonEmpty) bucketKeys else mergeKeys)
  }

  /** Run `body` atomically: either every put/merge/setTag issued inside
    * becomes visible together, or (on crash) none do. The default gives NO
    * atomicity (each op commits individually) — acceptable for the
    * in-memory store whose lifetime is the process anyway. */
  def transaction[A](body: => A): A = body

  /** Read-only FROZEN view of the store's state at this call (including
    * entries staged by an open transaction): reads through the snapshot
    * resolve the same content no matter what is committed afterwards.
    * The refresh loop reads every pre-batch state through a snapshot so
    * state commits can launch concurrently with the remaining delta-plan
    * construction — without it, a commit landing mid-construction would
    * feed POST-batch state into later delta terms (the join rules read a
    * side's state after that side's update is queued). Implementations
    * whose writes become visible to later reads MUST override; the
    * default is only sound for fully immutable stores. */
  def readSnapshot(): IvmStore = this

  /** Small durable key→value metadata (e.g. the last applied streaming
    * batch id). In [[ParquetStore]] tags ride the same manifest as state
    * pointers, so a tag set inside [[transaction]] commits atomically with
    * the state flips — the crash-consistency anchor for exactly-once
    * streaming replay. */
  def setTag(key: String, value: String): Unit
  def getTag(key: String): Option[String]

  /** Remove every state and tag under `view/` (and the exact name `view`)
    * from the CURRENT version — the view's lifecycle end, exposed as
    * [[Ivm.drop]]. Versioned backends keep serving the dropped states
    * through retained older manifests (time travel) until pruning reclaims
    * them; content-addressed SHARED states ([[Ivm.createShared]]) live
    * outside the view's prefix and are not touched. */
  def dropView(view: String): Unit =
    throw new UnsupportedOperationException(
      s"${getClass.getSimpleName} does not support dropView")

  def apply(name: String): DataFrame =
    get(name).getOrElse(throw new IllegalStateException(
      s"IVM state '$name' not found — was Ivm.create run for this view?"))

  /** True when INDEPENDENT view parts (ScalarDeco subviews + child) may
    * refresh on parallel threads, each opening its own [[transaction]],
    * while the caller already holds one. Default false: a store whose
    * transaction is a cross-thread lock ([[ParquetStore]]'s txnMonitor)
    * would self-deadlock — the outer thread holds the lock and waits for
    * parts that block acquiring it. [[MemStore]] (no-op transactions)
    * opts in. */
  private[ivm] def concurrentParts: Boolean = false
}

private[ivm] object StoreOps {
  private def nullSafe(l: DataFrame, r: DataFrame, keys: Seq[String]) =
    keys.map(k => l(k) <=> r(k)).reduce(_ && _)

  /** old ∖ keys(updated), null-safe, broadcasting the (small) key set. */
  def antiByKeys(old: DataFrame, updated: DataFrame, keys: Seq[String]): DataFrame =
    if (keys.isEmpty) old.limit(0)
    else {
      val ks = broadcast(updated.select(keys.map(col): _*))
      old.join(ks, nullSafe(old, ks, keys), "left_anti")
    }

  /** state rows whose keys appear in keyDf, null-safe, keyDf broadcast. */
  def semiByKeys(state: DataFrame, keyDf: DataFrame, keys: Seq[String]): DataFrame = {
    val ks = broadcast(keyDf.select(keys.map(col): _*))
    state.join(ks, nullSafe(state, ks, keys), "left_semi")
  }
}

/** In-memory store for tests and per-session pipelines: put() materializes
  * eagerly via `localCheckpoint`, which BOTH snapshots the data (later
  * reads never chase mutated inputs) AND truncates the logical plan.
  *
  * The truncation is load-bearing: a committed state's plan otherwise
  * embeds the full plan of the previous refresh, so over k sequential
  * batches plans grow multiplicatively and Catalyst analysis time explodes
  * (observed: a MIN/MAX view became minutes-per-batch by batch 3 with
  * cache()-based puts). The parquet store truncates naturally by writing
  * files; localCheckpoint is the in-memory equivalent. */
final class MemStore extends IvmStore {
  private val m = TrieMap.empty[String, DataFrame]
  private val tags = TrieMap.empty[String, String]
  override private[ivm] def concurrentParts: Boolean = true
  /** Row cap under which a state is held as a driver-side LocalRelation
    * instead of checkpointed executor blocks (same smallness assumption as
    * `graft.localBatchRows`). */
  // Probed at sf0.1: raising this to 512k makes 300k-row states local,
  // which kills the per-merge checkpoint job BUT costs a full driver
  // collect per put and a fat broadcast per consuming term — net slower
  // on both the fresh-store gate path and warm creates. 64k keeps local
  // states cheap-to-collect and cheap-to-broadcast.
  private val localRows = 1 << 16
  /** Size memos: a KNOWN-big state skips the collect probe outright
    * (executeTake(cap+1) over an aggregate state materializes the whole
    * plan — probing it before checkpointing would execute the merge twice
    * per batch); a KNOWN-small state keeps the single-job direct collect.
    * A FIRST-SIGHT state checkpoints first and probes the materialized
    * blocks, so either outcome costs exactly one plan execution — the
    * over-cap probe-then-checkpoint double execution never happens. A
    * state that flips small→big pays one last double execution as its
    * memo corrects; big→small never re-enters the local path (big states
    * stay big — acceptable).
    *
    * PROCESS-GLOBAL (in [[MemStore]]'s companion), keyed by state name:
    * the gated driver queries build a FRESH MemStore per invocation, so
    * instance-local memos never fired for them and every create re-paid
    * the checkpoint-then-probe first-sight path for every state. A
    * state's size class is a property of (view definition, dataset),
    * both stable within one bench process; a stale memo only costs one
    * extra plan execution while it corrects, never correctness. */
  private def knownBig = MemStore.knownBig
  private def knownSmall = MemStore.knownSmall
  override def get(name: String): Option[DataFrame] = m.get(name)
  override def put(name: String, df: DataFrame): Unit = {
    // Small states are collected into TAGGED LocalRelations: downstream
    // refresh plans over them fold driver-side / hit the plan-template
    // cache (an RDD-backed leaf would force a fresh Catalyst pass per
    // action), and for repeat-small states the collect replaces the
    // localCheckpoint job outright. Large states keep the checkpoint.
    // NOTE: previous versions are intentionally never unpersisted — pending
    // lazy plans may still read them (snapshot isolation); session-lifetime
    // leak is the documented trade-off of the in-memory store.
    def local(rows: Seq[org.apache.spark.sql.catalyst.InternalRow]): DataFrame = {
      val l = org.apache.spark.sql.GraftTemplates.taggedLocal(
        df.sparkSession, org.apache.spark.sql.GraftLocalIO.nullable(df.schema),
        rows, s"state:$name")
      // Small states coalesce to ONE partition (downstream aggregations
      // plan with no exchange and qualify for the driver-inline executor).
      // BIGGER local states stay un-coalesced: LocalTableScanExec splits
      // them across the default parallelism, so a 300k-row state joins and
      // aggregates on all cores instead of single-threaded on the driver —
      // while still avoiding the per-merge checkpoint job and keeping the
      // plan template- and trace-replay-eligible (no RDD-backed leaf).
      if (rows.length <= (1 << 16)) l.coalesce(1) else l
    }
    m.put(name,
      if (knownBig.contains(name)) df.localCheckpoint(true)
      else if (knownSmall.contains(name))
        org.apache.spark.sql.GraftTemplates.collectCapped(df, localRows) match {
          case Some(rows) => local(rows.toSeq)
          case None => // grew past the cap: correct the memo
            knownSmall.remove(name); knownBig.put(name, ())
            df.localCheckpoint(true)
        }
      else {
        val ck = df.localCheckpoint(true)
        org.apache.spark.sql.GraftTemplates.collectCapped(ck, localRows) match {
          case Some(rows) =>
            knownSmall.put(name, ())
            val l = local(rows.toSeq)
            // the LocalRelation replaces the checkpoint created two lines
            // up — no pending plan can reference it, so its blocks need
            // not wait for RDD GC (keeps the documented never-unpersist
            // leak limited to genuinely big states)
            org.apache.spark.sql.GraftLocalIO.freeLocalCheckpoint(ck)
            l
          case None => knownBig.put(name, ()); ck
        }
      })
  }
  override def setTag(key: String, value: String): Unit = tags.put(key, value)
  override def getTag(key: String): Option[String] = tags.get(key)
  override def dropView(view: String): Unit = {
    val p = s"$view/"
    m.keys.filter(k => k == view || k.startsWith(p)).foreach(m.remove)
    tags.keys.filter(k => k == view || k.startsWith(p)).foreach(tags.remove)
  }
  override def readSnapshot(): IvmStore = {
    // O(1) TrieMap snapshot; the checkpointed frames themselves are
    // immutable, so freezing the name → frame map is the whole job
    val fm = m.readOnlySnapshot()
    val ft = tags.readOnlySnapshot()
    new IvmStore {
      override def get(name: String): Option[DataFrame] = fm.get(name)
      override def getTag(key: String): Option[String] = ft.get(key)
      override def put(name: String, df: DataFrame): Unit =
        throw new UnsupportedOperationException("snapshots are read-only")
      override def setTag(key: String, value: String): Unit =
        throw new UnsupportedOperationException("snapshots are read-only")
    }
  }
}

object MemStore {
  /** Process-global size-class memos (see the note on [[MemStore.put]]). */
  private val knownBig = TrieMap.empty[String, Unit]
  private val knownSmall = TrieMap.empty[String, Unit]
  /** Test hook: forget all size classes (suites reuse state names with
    * differently-sized data; stale classes are perf-only but make probes
    * non-deterministic to assert on). */
  private[graft] def clearSizeMemos(): Unit = { knownBig.clear(); knownSmall.clear() }
}

/** Bucketed, manifest-versioned, LSM-layered parquet store — the at-scale
  * state backend.
  *
  * Layout under `root`:
  * {{{
  *   _v<N>            manifest N (TSV): per state, bucket → segment CHAIN
  *                    (newest first), the state's bucketing + merge keys,
  *                    plus tags
  *   _current         file containing the committed manifest version N
  *   <name>/seg<N>/   segment written by version N's put/merge for <name>;
  *                    keyed segments split into __ivm_bucket=<k>/ subdirs
  * }}}
  *
  * Properties:
  *
  *   - '''Snapshot isolation''': segments are immutable; a DataFrame
  *     resolved from manifest N keeps reading N's files while N+1 commits.
  *   - '''Bucket-pruned reads''' ([[slice]]): a refresh resolves which
  *     buckets its touched keys hash to and reads ONLY those directories —
  *     the state side of a refresh is O(touched buckets), never a full
  *     scan.
  *   - '''O(‖Δ‖) writes''' ([[merge]]): a merge into a large bucketed
  *     state APPENDS an overlay segment holding only the updated rows
  *     (dead keys persist as `__ivm_dead` tombstones) — the write is
  *     O(‖Δ‖), independent of both state and bucket size. Reads resolve a
  *     bucket's chain newest-segment-wins per merge key. When a touched
  *     bucket's chain reaches `maxChain` the merge COMPACTS the touched
  *     buckets back to one segment each — classic size-tiered LSM, so the
  *     amortized write cost per batch stays O(‖Δ‖ · maxChain/(maxChain-1))
  *     and read amplification is bounded by `maxChain`. At cluster scale
  *     `buckets` is sized so one bucket is one executor's comfortable
  *     compaction unit (4096 buckets over a 1 TB state ≈ 250 MB).
  *   - '''Atomic multi-state commit''' ([[transaction]]): every put/merge/
  *     setTag inside publishes with ONE atomic manifest rename — a crash
  *     mid-refresh leaves the previous manifest current and no partial
  *     state visible (the streaming batch-id tag commits with the data it
  *     describes).
  *
  * Old manifests and unreferenced segments are pruned, keeping
  * `keepVersions` manifests.
  */
final class ParquetStore(
    spark: SparkSession,
    root: String,
    keepVersions: Int = 2,
    buckets: Int = 16,
    /** States smaller than this take the single-segment path: a merge is
      * ONE whole-rewrite query (no bucket bookkeeping), which beats
      * selective rewrite until the state outgrows a single task's
      * comfortable write. A state's FIRST write compares Catalyst's size
      * estimate of the frame against it (there is no prior size yet): an
      * estimated-small first write is driver-direct, so the state is
      * driver-resident from create on. 0 makes every keyed state bucketed
      * from its first write. Layout adapts per state as it grows/shrinks
      * across versions — size-tiered, like any LSM/lakehouse store. */
    smallStateBytes: Long = 64L << 20,
    /** Maximum segments per bucket chain before a merge compacts the
      * buckets it touches. 1 disables overlays (every merge rewrites its
      * touched buckets — the pre-LSM behavior). */
    maxChain: Int = 4) extends IvmStore {

  require(buckets >= 1, "buckets must be >= 1")
  require(maxChain >= 1, "maxChain must be >= 1")
  private val B = "__ivm_bucket"
  private val DEAD = "__ivm_dead"
  private val SEQ = "__ivm_seq"

  /** One state's pointer set: bucket id → segment chain, NEWEST FIRST (the
    * key [[Whole]] marks a single un-bucketed segment), the layout keys,
    * the merge keys chain resolution dedupes on (empty until the first
    * overlay merge — meaningful only while some chain is longer than 1),
    * and the byte size observed when written (drives the adaptive
    * layout). */
  private case class Entry(chains: Map[Int, List[String]],
      bucketKeys: Seq[String], mergeKeys: Seq[String], bytes: Long,
      /** The state's CLEAN schema (no bookkeeping columns) as DDL, written
        * with the data — readers pass it to the parquet scan instead of
        * inferring from footers, a measurable fixed cost per state read in
        * a refresh. Empty (old manifests) falls back to inference. */
      schemaDDL: String = "",
      /** Per-segment-dir leaf files ((name, bytes)), recorded at publish:
        * state reads plan from the manifest with ZERO filesystem listing —
        * the table-format property (an 8-deep × 32-bucket overlay chain
        * re-listed ~0.5 s of driver time per refresh without it, and on an
        * object store LIST is a throttled network call). Missing entries
        * (old manifests) fall back to a listing read. */
      files: Map[String, Seq[(String, Long)]] = Map.empty) {
    def layered: Boolean = chains.values.exists(_.lengthCompare(1) > 0)
    def allPaths: Seq[String] = chains.values.flatten.toSeq
  }
  private val Whole = -1

  @volatile private var version: Long = 0L
  @volatile private var entries: Map[String, Entry] = Map.empty
  @volatile private var tagMap: Map[String, String] = Map.empty

  // Staged (uncommitted) edits of the open transaction. Store-level (not
  // thread-local): a refresh stages puts from its parallel state-commit
  // worker threads, and all of them must land in ONE manifest flip.
  // Outer transactions SERIALIZE on txnMonitor (held for the whole body):
  // two streaming queries maintaining views in one store commit one at a
  // time, each with its own atomic manifest flip — without the lock their
  // stages would interleave into one flip and a crash could publish one
  // stream's partial refresh under the other's batch tag. Same-thread
  // nesting still stages into the outer flip (the lock is reentrant).
  private val txnMonitor = new java.util.concurrent.locks.ReentrantLock()
  @volatile private var txnDepth = 0
  @volatile private var txnEntries: TrieMap[String, Entry] = _
  @volatile private var txnTags: TrieMap[String, String] = _

  Files.createDirectories(Paths.get(root))
  loadCurrent()

  // ------------------------------------------------------------ manifest IO

  private def manifestPath(v: Long) = Paths.get(s"$root/_v$v")
  private def currentPath = Paths.get(s"$root/_current")

  private def loadCurrent(): Unit =
    if (Files.exists(currentPath)) {
      val v = new String(Files.readAllBytes(currentPath)).trim.toLong
      val (e, t) = readManifest(v)
      version = v; entries = e; tagMap = t
    }

  private def readManifest(v: Long): (Map[String, Entry], Map[String, String]) = {
    // E lines per bucket are in chain order (newest first) — preserve it
    val dirs = TrieMap.empty[String, Map[Int, List[String]]]
    val fls = TrieMap.empty[String, Map[String, Seq[(String, Long)]]]
    val keys = TrieMap.empty[String, (Seq[String], Seq[String], Long, String)]
    val ts = TrieMap.empty[String, String]
    def csv(s: String): Seq[String] =
      if (s.isEmpty) Seq.empty else s.split(',').toSeq
    def addDir(name: String, bucket: String, path: String): Unit = {
      val m = dirs.getOrElse(name, Map.empty)
      dirs.put(name,
        m + (bucket.toInt -> (m.getOrElse(bucket.toInt, Nil) :+ path)))
    }
    Files.readAllLines(manifestPath(v)).asScala.foreach { line =>
      // the DDL is the LAST field and may itself contain no tabs, so a
      // bounded split keeps it intact
      line.split('\t') match {
        case Array("E", name, bucket, path, fileList) =>
          addDir(name, bucket, path)
          if (fileList.nonEmpty)
            fls.put(name, fls.getOrElse(name, Map.empty) +
              (path -> fileList.split(',').toSeq.map { fl =>
                val i = fl.lastIndexOf(':')
                (fl.take(i), fl.drop(i + 1).toLong)
              }))
        case Array("E", name, bucket, path) =>
          addDir(name, bucket, path)
        case Array("K", name, ks, bytes, mks, ddl) =>
          keys.put(name, (csv(ks), csv(mks), bytes.toLong, ddl))
        case Array("K", name, ks, bytes, mks) =>
          keys.put(name, (csv(ks), csv(mks), bytes.toLong, ""))
        case Array("K", name, ks, bytes) =>
          keys.put(name, (csv(ks), Seq.empty, bytes.toLong, ""))
        case Array("K", name, ks) => keys.put(name, (csv(ks), Seq.empty, 0L, ""))
        case Array("K", name)     => keys.put(name, (Seq.empty, Seq.empty, 0L, ""))
        case Array("T", k, value) => ts.put(k, value)
        case _                    => // blank/unknown line — ignore
      }
    }
    val es = dirs.map { case (n, d) =>
      val (ks, mks, bytes, ddl) = keys.getOrElse(n,
        (Seq.empty[String], Seq.empty[String], 0L, ""))
      n -> Entry(d, ks, mks, bytes, ddl, fls.getOrElse(n, Map.empty))
    }
    (es.toMap, ts.toMap)
  }

  /** Serialize + atomically publish manifest `v`. */
  private def writeManifest(
      v: Long, es: Map[String, Entry], ts: Map[String, String]): Unit = {
    val sb = new StringBuilder
    es.foreach { case (name, e) =>
      sb.append(s"K\t$name\t${e.bucketKeys.mkString(",")}\t${e.bytes}" +
        s"\t${e.mergeKeys.mkString(",")}\t${e.schemaDDL}\n")
      e.chains.foreach { case (b, chain) =>
        chain.foreach { p =>
          val fl = e.files.getOrElse(p, Seq.empty)
            .map { case (f, len) => s"$f:$len" }.mkString(",")
          sb.append(s"E\t$name\t$b\t$p\t$fl\n")
        }
      }
    }
    ts.foreach { case (k, value) => sb.append(s"T\t$k\t$value\n") }
    Files.write(manifestPath(v), sb.toString.getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
      StandardOpenOption.WRITE)
    val tmp = Paths.get(s"$root/_current.tmp")
    Files.write(tmp, v.toString.getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
      StandardOpenOption.WRITE)
    Files.move(tmp, currentPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  // --------------------------------------------------------------- reading

  private def lookup(name: String): Option[Entry] = {
    val st = txnEntries
    val s = if (txnDepth > 0 && st != null) st.get(name) else None
    s.orElse(entries.get(name))
  }

  // Segments are immutable once published, so the resolved DataFrame for a
  // path set can be reused: skips re-listing files and re-reading parquet
  // footers on every state access (a measurable fixed cost per refresh).
  private val readMemo = TrieMap.empty[Seq[String], DataFrame]
  private def readPaths(rels: Seq[String], e: Entry): DataFrame = {
    val key = rels.distinct.sorted
    readMemo.getOrElseUpdate(key, {
      // Manifest-declared schema skips footer inference on every read; a
      // bucketed segment additionally carries the tombstone + seq columns
      // (its B= partition dir is addressed directly, so no partition
      // column materializes). Old manifests without a DDL infer.
      lazy val fullSchema = {
        val clean = org.apache.spark.sql.types.StructType.fromDDL(e.schemaDDL)
        if (key.head.contains(s"/$B=")) clean.add(DEAD, "int").add(SEQ, "long")
        else clean
      }
      if (e.schemaDDL.nonEmpty && key.forall(e.files.contains))
        // manifest-backed scan: schema AND leaf files come from the
        // manifest — ZERO fs listing at plan time (the per-refresh driver
        // cost that dominated overlay-chain reads; an object store would
        // pay a throttled LIST per directory here)
        org.apache.spark.sql.GraftManifestScan.parquetByFiles(spark,
          fullSchema,
          key.flatMap(rel => e.files(rel).map { case (f, len) =>
            (s"$root/$rel/$f", len) }))
      else {
        val reader = spark.read
        val withSchema =
          if (e.schemaDDL.isEmpty) reader else reader.schema(fullSchema)
        withSchema.parquet(key.map(rel => s"$root/$rel"): _*)
      }
    })
  }

  /** Latest-segment-wins per merge key over a chained read, tombstones
    * dropped. Each segment holds at most one row per merge key (the merge
    * contract), so resolution is a single map-side-combinable aggregate:
    * max_by(payload, segment-seq). The seq is the writing segment's
    * version number, STORED IN the segment data as a constant column
    * (parquet RLE makes it ~free) — deriving it from input_file_name()
    * instead would poison every downstream plan that joins a second file
    * source (MULTI_SOURCES_UNSUPPORTED_FOR_EXPRESSION). */
  private def resolveChains(raw: DataFrame, mergeKeys: Seq[String]): DataFrame =
    foldSegments(raw, mergeKeys).where(col(DEAD) === 0)

  /** Latest-segment-wins per merge key WITHOUT dropping tombstones — the
    * shared core of chain resolution (which then filters DEAD) and minor
    * compaction (which must KEEP tombstones: a folded overlay still masks
    * keys in the base segment beneath it). Drops SEQ. */
  private def foldSegments(raw: DataFrame, mergeKeys: Seq[String]): DataFrame = {
    val payload = raw.columns.filterNot(c => mergeKeys.contains(c) || c == SEQ).toSeq
    val top = "__ivm_top"
    raw.groupBy(mergeKeys.map(col): _*)
      .agg(max_by(struct(payload.map(col): _*), col(SEQ)).as(top))
      .select(raw.columns.filterNot(_ == SEQ).map(c =>
        if (mergeKeys.contains(c)) col(c) else col(s"$top.$c").as(c)): _*)
  }

  /** Read a path set of `e`, resolving chains when any included bucket is
    * layered; always strips the internal bookkeeping columns. `preFilter`
    * runs on the raw chained read BEFORE resolution — callers may only
    * pass a filter that keeps or drops whole merge-key chains. */
  private def readEntry(e: Entry, paths: Seq[String], layered: Boolean)(
      preFilter: DataFrame => DataFrame = identity): DataFrame = {
    val raw = preFilter(readPaths(paths, e))
    if (layered && e.mergeKeys.nonEmpty) resolveChains(raw, e.mergeKeys).drop(DEAD)
    else raw.drop(DEAD, SEQ)
  }

  override def get(name: String): Option[DataFrame] =
    lookup(name).map(e => readEntry(e, e.allPaths, e.layered)())

  override def getTag(key: String): Option[String] = {
    val st = txnTags
    val s = if (txnDepth > 0 && st != null) st.get(key) else None
    s.orElse(tagMap.get(key))
  }

  private def bucketOf(keys: Seq[String]) =
    pmod(hash(keys.map(col): _*), lit(buckets))

  /** Bucket-pruned slice: hash `keyDf`'s bucket-key columns to find the
    * touched buckets, read only those directories (resolving overlay
    * chains), then semi-join on the full slice keys. Falls back to a
    * full-scan semi-join for un-bucketed states or when the layout keys
    * aren't a subset of `sliceKeys`.
    *
    * The semi-join runs BEFORE chain resolution when the slice keys are a
    * subset of the merge keys (always true for the engine's uses: group
    * keys slice aux states keyed (group, value)) — every version of a
    * merge key then shares its slice-key values, so the filter keeps or
    * drops whole chains and resolution sees only the touched keys. */
  override def slice(
      name: String, keyDf: DataFrame, sliceKeys: Seq[String]): DataFrame = {
    val e = lookup(name).getOrElse(throw new IllegalStateException(
      s"IVM state '$name' not found — was Ivm.create run for this view?"))
    sliceEntry(e, keyDf, sliceKeys)
  }

  private def sliceEntry(
      e: Entry, keyDf: DataFrame, sliceKeys: Seq[String]): DataFrame = {
    def resolvedSemi(paths: Seq[String], layered: Boolean): DataFrame = {
      val semiFirst = !layered || sliceKeys.forall(e.mergeKeys.contains)
      if (semiFirst)
        readEntry(e, paths, layered)(df =>
          StoreOps.semiByKeys(df, keyDf, sliceKeys))
      else StoreOps.semiByKeys(readEntry(e, paths, layered)(), keyDf, sliceKeys)
    }
    val prunable = e.bucketKeys.nonEmpty && !e.chains.contains(Whole) &&
      e.bucketKeys.forall(sliceKeys.contains)
    if (!prunable) resolvedSemi(e.allPaths, e.layered)
    else {
      // dedupe driver-side: keyDf is small by contract, and skipping the
      // distinct saves a shuffle round per slice. For a collected local
      // pin the projection folds to a LocalRelation — no job at all.
      val touched = org.apache.spark.sql.GraftColumnOps.uncoalesced(keyDf)
        .select(bucketOf(e.bucketKeys).as(B))
        .collect().map(_.getInt(0)).toSet
      val sel = e.chains.view.filterKeys(touched).toMap
      val paths = sel.values.flatten.toSeq
      if (paths.isEmpty) readEntry(e, e.allPaths, layered = false)().limit(0) // schema only
      else resolvedSemi(paths, sel.values.exists(_.lengthCompare(1) > 0))
    }
  }

  // --------------------------------------------------------------- writing

  private def nextSegVersion(): Long = synchronized { version += 1; version }

  /** Record one state's new entry — staged if a txn is open, else
    * committed immediately as a single-op transaction. */
  private def publish(name: String, e0: Entry): Unit = {
    // reconcile the files map centrally: carry forward segments the new
    // entry keeps, walk ONLY just-written segments (metadata hot), drop
    // the rest — construction sites stay oblivious
    val prior = lookup(name).map(_.files).getOrElse(Map.empty)
    val keep = e0.allPaths.distinct
    val e = e0.copy(files = keep.map(rel =>
      rel -> e0.files.getOrElse(rel,
        prior.getOrElse(rel, filesOf(rel)))).toMap)
    val st = txnEntries
    if (txnDepth > 0 && st != null) st.put(name, e)
    else commit(Map(name -> e), Map.empty)
  }

  /** Leaf parquet files ((name, bytes)) of one just-written segment dir. */
  private def filesOf(rel: String): Seq[(String, Long)] =
    listDir(Paths.get(s"$root/$rel"))
      .filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
      }
      .map(p => p.getFileName.toString -> Files.size(p)).sortBy(_._1)

  override def setTag(key: String, value: String): Unit = {
    val st = txnTags
    if (txnDepth > 0 && st != null) st.put(key, value)
    else commit(Map.empty, Map(key -> value))
  }

  private def commit(es: Map[String, Entry], ts: Map[String, String]): Unit =
    synchronized {
      version += 1
      entries = entries ++ es
      tagMap = tagMap ++ ts
      writeManifest(version, entries, tagMap)
      prune()
    }

  /** One manifest flip that REMOVES the view's states/tags. Old manifests
    * inside the retention window still reference the segments (asOf keeps
    * working); pruning reclaims the files once no kept manifest does. Not
    * stageable inside a transaction — a drop is its own lifecycle event. */
  override def dropView(view: String): Unit = synchronized {
    require(txnDepth == 0, "dropView inside a transaction is not supported")
    val p = s"$view/"
    val hit = (k: String) => k == view || k.startsWith(p)
    version += 1
    entries = entries.filterNot { case (k, _) => hit(k) }
    tagMap = tagMap.filterNot { case (k, _) => hit(k) }
    writeManifest(version, entries, tagMap)
    prune()
  }

  /** Reentrant: a transaction opened inside another stages into the outer
    * one, so `applyBatch { refresh { … }; setTag }` flips once. */
  override def transaction[A](body: => A): A = {
    txnMonitor.lock()
    val isOuter = txnDepth == 0
    if (isOuter) { txnEntries = TrieMap.empty; txnTags = TrieMap.empty }
    txnDepth += 1
    try {
      val r = body
      if (isOuter) commit(txnEntries.toMap, txnTags.toMap)
      r
    } finally {
      txnDepth -= 1
      if (txnDepth == 0) { txnEntries = null; txnTags = null }
      txnMonitor.unlock()
    }
  }

  private def segDir(name: String, v: Long) = s"$name/seg$v"

  /** Bytes under a written segment (drives the adaptive layout choice). */
  private def dirBytes(rel: String): Long = {
    def sz(p: Path): Long =
      if (Files.isDirectory(p)) listDir(p).map(sz).sum
      else Files.size(p)
    sz(Paths.get(s"$root/$rel"))
  }

  /** Row cap of the driver-direct segment write: a "known small" state
    * (bytes under [[smallStateBytes]]) virtually always fits; the cap only
    * bounds the driver collect when one batch grows a state explosively. */
  private val localPutRows = 1 << 18

  /** Catalyst's estimate of `df` fits the driver-direct write: size under
    * [[smallStateBytes]] and, when the plan knows it, row count within
    * [[localPutRows]] — the layout decision for a state's first write,
    * which has no prior size. */
  private def estimatedSmall(df: DataFrame): Boolean = {
    val stats = df.queryExecution.optimizedPlan.stats
    stats.sizeInBytes < smallStateBytes &&
      stats.rowCount.forall(_ <= localPutRows)
  }

  /** The driver-direct write of a frame gated small; false when its
    * result is over [[localPutRows]]. The caller's distributed write then
    * computes the frame again: on a 300k-row aggregate first write (4-core
    * host) that cost less than writing the collected rows out through a
    * local frame. */
  private def putDriverDirect(name: String, df: DataFrame,
      keys: Seq[String]): Boolean =
    org.apache.spark.sql.GraftTemplates.collectCapped(df, localPutRows)
      .map(rows => putLocalRows(name, df.schema, rows.toSeq, keys)).isDefined

  private def putPlain(name: String, df: DataFrame, keys: Seq[String]): Unit = {
    // A state KNOWN small (prior version under the single-segment
    // threshold) takes the DRIVER-DIRECT write: execute the merge plan
    // once (executeTake), write ONE parquet file from the driver via
    // Spark's own ParquetWriteSupport — identical bytes to a distributed
    // write, but no per-write Spark job and no Hadoop commit protocol
    // (~150-250 ms of fixed overhead per state per batch, the dominant
    // slice of the small-batch refresh floor). The rows in hand then also
    // serve every subsequent read of this segment as a LocalRelation
    // (readMemo pre-population) — state slices in the NEXT batch plan with
    // no scan job. A first-time write (no prior size) goes driver-direct
    // when Catalyst estimates the frame small; an over-cap result lands
    // through the distributed write below.
    val small = lookup(name) match {
      case Some(e) => e.bytes > 0 && e.bytes < smallStateBytes
      case None    => estimatedSmall(df)
    }
    val landed =
      (small || org.apache.spark.sql.GraftColumnOps.foldsToLocal(df)) &&
        putDriverDirect(name, df, keys)
    if (!landed) {
      val rel = segDir(name, nextSegVersion())
      df.write.mode("overwrite").parquet(s"$root/$rel")
      publish(name, Entry(Map(Whole -> List(rel)), keys, Seq.empty,
        dirBytes(rel), df.schema.toDDL))
    }
  }

  /** Driver-direct segment publish: one parquet file written from the
    * driver, plus a readMemo LocalRelation so every subsequent read of the
    * segment is job-free. Nullability is relaxed to match what a parquet
    * read reports. */
  private def putLocalRows(name: String,
      schema0: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow],
      keys: Seq[String]): Unit = {
    val rel = segDir(name, nextSegVersion())
    val schema = org.apache.spark.sql.GraftLocalIO.nullable(schema0)
    Files.createDirectories(Paths.get(s"$root/$rel"))
    val ddl = schema.toDDL
    val bytes = org.apache.spark.sql.GraftLocalIO.writeParquet(
      spark, schema, rows, s"$root/$rel/part-00000-graft.parquet")
    publish(name, Entry(Map(Whole -> List(rel)), keys, Seq.empty, bytes, ddl))
    // Same schema the read path would apply (manifest DDL round-trip), so
    // downstream plans see identical types with or without the memo.
    // Tagged: the NEXT batch's plans treat this state read as a template
    // substitution point; SinglePartition → joins over it plan
    // exchange-free.
    readMemo(List(rel)) = org.apache.spark.sql.GraftTemplates.taggedLocal(
      spark, org.apache.spark.sql.types.StructType.fromDDL(ddl), rows,
      s"state:$name").coalesce(1)
  }

  /** Rows of a state whose current segment is driver-resident (written by
    * [[putLocalRows]]); None when the state lives distributed or layered. */
  private def localRowsOf(e: Entry): Option[
      (org.apache.spark.sql.types.StructType,
       Seq[org.apache.spark.sql.catalyst.InternalRow])] =
    if (e.layered || e.chains.size != 1 || !e.chains.contains(Whole)) None
    else readMemo.get(e.allPaths.distinct.sorted).flatMap(IvmCore.localLeaf)
      .map(l => (org.apache.spark.sql.catalyst.types.DataTypeUtils
        .fromAttributes(l.output), l.data))

  /** Key types the driver-side merge can hash exactly like Spark's
    * null-safe join equality: atomic values whose `equals`/`hashCode` are
    * value-based (UTF8String, Decimal — same scale on both sides by the
    * aligning cast — primitives; NaN boxes equal; -0.0 normalized; binary
    * wrapped as a Seq). Anything else falls back to the Spark-plan merge. */
  private def driverKeySafe(dt: org.apache.spark.sql.types.DataType): Boolean =
    org.apache.spark.sql.GraftLocalIO.isAtomic(dt)

  /** Small-state merge ENTIRELY on the driver: one (template-cached) Spark
    * action computes the aligned updated rows + liveness flag; the keyed
    * replace old∖upd ∪ alive(upd) runs as a hash-map pass over
    * driver-resident rows; the new segment writes driver-direct. Replaces
    * a 4-join/2-exchange Spark plan per state per batch — the dominant
    * remaining slice of the small-batch refresh floor. Returns false when
    * preconditions fail (state not driver-resident, exotic key type,
    * result over the collect cap) — caller falls back to the plan merge. */
  private def mergeSmallDriver(name: String, e: Entry, updated: DataFrame,
      mergeKeys: Seq[String], alive: Column, bKeys: Seq[String]): Boolean = {
    if (mergeKeys.isEmpty) return false
    localRowsOf(e) match {
      case Some((schema, oldRows))
          if mergeKeys.forall(k => schema.fieldNames.contains(k) &&
            driverKeySafe(schema(k).dataType)) =>
        val n = schema.length
        val aligned = updated.select(schema.map(f =>
          col(f.name).cast(f.dataType).as(f.name)) :+
          alive.cast("boolean").as("__ivm_alive"): _*)
        org.apache.spark.sql.GraftTemplates
          .collectCapped(aligned, localPutRows) match {
          case None => false
          case Some(updRows) =>
            val types = schema.map(_.dataType)
            val keyIdx = mergeKeys.map(schema.fieldIndex)
            def keyOf(r: org.apache.spark.sql.catalyst.InternalRow): Seq[Any] =
              keyIdx.map { i =>
                if (r.isNullAt(i)) null
                else r.get(i, types(i)) match {
                  case d: java.lang.Double if d == 0.0 => 0.0 // -0.0 ≡ 0.0
                  case f: java.lang.Float if f == 0.0f => 0.0f
                  case b: Array[Byte]                  => b.toSeq
                  case v                               => v
                }
              }
            val m = new java.util.LinkedHashMap[Seq[Any],
              org.apache.spark.sql.catalyst.InternalRow]
            oldRows.foreach(r => m.put(keyOf(r), r))
            updRows.foreach { r =>
              val live = !r.isNullAt(n) && r.getBoolean(n)
              val vals = Array.tabulate[Any](n)(i =>
                if (r.isNullAt(i)) null else r.get(i, types(i)))
              val row = new org.apache.spark.sql.catalyst.expressions
                .GenericInternalRow(vals)
              val k = keyOf(row)
              if (live) m.put(k, row) else m.remove(k)
            }
            if (m.size > localPutRows) return false
            val merged = {
              val b = Seq.newBuilder[org.apache.spark.sql.catalyst.InternalRow]
              m.values.forEach(r => b += r)
              b.result()
            }
            putLocalRows(name, schema, merged, bKeys)
            true
        }
      case _ => false
    }
  }

  override def put(name: String, df: DataFrame): Unit =
    putPlain(name, df, Seq.empty)

  override def putKeyed(name: String, df: DataFrame, bucketKeys: Seq[String]): Unit =
    if (bucketKeys.isEmpty || buckets == 1) putPlain(name, df, bucketKeys)
    else lookup(name) match {
      case Some(e) if e.bytes < smallStateBytes =>
        // known-small state: single segment, merges take the 1-query path
        putPlain(name, df, bucketKeys)
      case None if estimatedSmall(df) =>
        // estimated-small first write: driver-direct single segment; a
        // result over the row cap lands bucketed
        if (!putDriverDirect(name, df, bucketKeys))
          putBucketed(name, df, bucketKeys)
      case _ => putBucketed(name, df, bucketKeys)
    }

  /** Large, or a first write not estimated small: bucketed layout for
    * selective merges and pruned slices. Every bucketed segment carries
    * the tombstone + segment-seq columns (all-alive, constant seq) so
    * overlay segments appended later union schema-identically and chain
    * resolution has its ordering column in the data. */
  private def putBucketed(name: String, df: DataFrame,
      bucketKeys: Seq[String]): Unit = {
    val v = nextSegVersion()
    val rel = segDir(name, v)
    df.withColumn(DEAD, lit(0)).withColumn(SEQ, lit(v))
      .withColumn(B, bucketOf(bucketKeys))
      .repartition(buckets, col(B)) // ONE file per bucket per segment —
      // a chain read opens chainLen files per bucket, not chainLen ×
      // writer partitions (32× fewer parquet footers on the overlay
      // read path). The explicit count bounds the shuffle fanout to
      // `buckets` tasks — bounded and predictable vs shuffle.partitions
      .write.partitionBy(B).mode("overwrite").parquet(s"$root/$rel")
    val found = discoverBuckets(rel)
    // a zero-row state writes no bucket dirs; fall back to a plain
    // empty segment so the schema stays readable
    if (found.isEmpty) putPlain(name, df.limit(0), bucketKeys)
    else publish(name, Entry(found.view.mapValues(List(_)).toMap,
      bucketKeys, Seq.empty, dirBytes(rel), df.schema.toDDL))
  }

  /** Bucket subdirectories actually written by a partitionBy job (empty
    * buckets produce no directory). */
  private def discoverBuckets(rel: String): Map[Int, String] = {
    listDir(Paths.get(s"$root/$rel"))
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(s"$B="))
      .map { p =>
        p.getFileName.toString.stripPrefix(s"$B=").toInt -> s"$rel/${p.getFileName}"
      }.toMap
  }

  /** LSM merge. Large bucketed states take one of two single-query paths:
    *
    *   - '''overlay append''' (the steady state): write ONLY the updated
    *     rows — dead keys as tombstones — as a new segment prepended to
    *     each touched bucket's chain. O(‖Δ‖) bytes written, no read of
    *     old state at all.
    *   - '''compaction''': when a touched bucket's chain has reached
    *     `maxChain`, fold the touched buckets' chains + this delta into
    *     one fresh segment per bucket (the pre-LSM selective rewrite).
    *
    * States not yet bucketed (or merged without keys) fall back to the
    * whole-state rewrite, which re-lays them out bucketed for next time. */
  override def merge(
      name: String,
      updated: DataFrame,
      mergeKeys: Seq[String],
      alive: Column,
      bucketKeys: Seq[String] = Seq.empty,
      keyHint: DataFrame = null): Unit = {
    val bKeys = if (bucketKeys.nonEmpty) bucketKeys else mergeKeys
    val e = lookup(name).getOrElse(throw new IllegalStateException(
      s"IVM state '$name' not found — was Ivm.create run for this view?"))
    if (mergeKeys.isEmpty || buckets == 1 || e.bytes < smallStateBytes ||
        e.chains.contains(Whole) || e.bucketKeys != bKeys) {
      // small state (or layout mismatch): driver-side keyed merge when the
      // current segment is driver-resident, else ONE whole-rewrite query;
      // putKeyed re-decides the layout, so a state that grows past the
      // threshold converts to bucketed on its next write
      if (!mergeSmallDriver(name, e, updated, mergeKeys, alive, bKeys))
        super.merge(name, updated, mergeKeys, alive, bKeys, keyHint)
    } else {
      // Touched buckets from the cheap keyHint when provided (a cached
      // superset of updated's keys — a superset only costs an extra
      // touched bucket, never correctness); otherwise pin `updated` and
      // derive them from it.
      val (touched, pinned) =
        if (keyHint != null)
          (org.apache.spark.sql.GraftColumnOps.uncoalesced(keyHint)
            .select(bucketOf(bKeys).as(B)).collect().map(_.getInt(0)).toSet,
            None)
        else {
          val up = updated.withColumn(B, bucketOf(bKeys)).cache()
          (up.select(B).collect().map(_.getInt(0)).toSet, Some(up))
        }
      try {
        if (touched.isEmpty) return // empty batch — state unchanged
        val src = pinned.map(_.drop(B)).getOrElse(updated)
        // Chain segments must be SCHEMA-IDENTICAL (one union read resolves
        // them): align updated rows to the stored types — arithmetic like
        // old+adjustment silently widens decimals (p,s) → (p+1,s).
        val cleanSchema = apply(name).schema
        val cleanCols = cleanSchema.map(_.name).toSeq
        def aligned(df: DataFrame): DataFrame =
          df.select(cleanSchema.map(f =>
            col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
        val sel = e.chains.view.filterKeys(touched).toMap
        // Overlay needs stable merge keys across the chain: same keys as
        // previous overlays, or no chain yet. A key change (or maxChain=1)
        // forces compaction, which resets chains to length 1.
        val canOverlay = maxChain > 1 &&
          sel.values.forall(_.lengthCompare(maxChain) < 0) &&
          (!e.layered || e.mergeKeys == mergeKeys)
        val segV = nextSegVersion()
        val rel = segDir(name, segV)
        // Minor-compaction inputs, shared by the fold trigger and the fold
        // body (each dirBytes is a recursive fs walk — compute once). Lazy:
        // the overlay fast path never touches them.
        lazy val tailPaths =
          sel.values.filter(_.lengthCompare(1) > 0).flatMap(_.init).toSeq
        lazy val tailBytes = tailPaths.map(dirBytes).sum
        lazy val baseBytes = sel.values.map(l => dirBytes(l.last)).sum
        if (canOverlay) {
          // O(‖Δ‖) append: updated rows only, dead keys as tombstones
          aligned(src)
            .withColumn(DEAD, when(alive, lit(0)).otherwise(lit(1)))
            .withColumn(SEQ, lit(segV))
            .withColumn(B, bucketOf(bKeys))
            .repartition(buckets, col(B)) // one file per bucket per segment;
            // explicit count bounds the shuffle fanout to `buckets` tasks
            // (repartition(col) would spread over shuffle.partitions)
            .write.partitionBy(B).mode("overwrite").parquet(s"$root/$rel")
          val written = discoverBuckets(rel)
          if (written.isEmpty) return // empty batch — state unchanged
          val chains = e.chains ++ written.map { case (b, p) =>
            b -> (p :: e.chains.getOrElse(b, Nil))
          }
          publish(name, Entry(chains, bKeys, mergeKeys,
            e.bytes + dirBytes(rel), e.schemaDDL))
        } else if (maxChain > 1 && e.mergeKeys == mergeKeys && {
          // Chains hit maxChain: fold. MINOR compaction — the steady state
          // — folds ONLY the overlay tails + this delta into one fresh
          // overlay per touched bucket, leaving each chain's BASE segment
          // in place: O(overlay tail + ‖Δ‖) bytes written, read
          // amplification resets to 2, and the (possibly huge) base is
          // never rewritten — the leveled-LSM move that keeps write cost
          // delta-bound at TB states. MAJOR compaction (fold whole chains,
          // purge tombstones) runs when the folded tail has grown to rival
          // its bases (re-folding it every cycle would out-write the
          // one-time rewrite), when merge keys changed, or at maxChain=1.
          tailPaths.nonEmpty && tailBytes * 2 < baseBytes
        }) {
          // tombstones KEPT: a folded overlay still masks keys in the base
          // beneath it; delta rows override folded rows per merge key
          val foldSrc = aligned(src)
            .withColumn(DEAD, when(alive, lit(0)).otherwise(lit(1)))
          val tail = foldSegments(readPaths(tailPaths, e), mergeKeys)
          val newRows = StoreOps.antiByKeys(tail, src, mergeKeys)
            .unionByName(foldSrc)
          newRows
            .withColumn(SEQ, lit(segV))
            .withColumn(B, bucketOf(bKeys))
            .repartition(buckets, col(B)) // one file per bucket per segment;
            // explicit count bounds the shuffle fanout to `buckets` tasks
            // (repartition(col) would spread over shuffle.partitions)
            .write.partitionBy(B).mode("overwrite").parquet(s"$root/$rel")
          val written = discoverBuckets(rel)
          // the folded overlay stacks directly on its bucket's base; a
          // touched bucket that wrote nothing (keyHint superset) keeps its
          // old chain
          val merged = e.chains ++ touched.flatMap { b =>
            written.get(b).map(p =>
              b -> (p :: e.chains.getOrElse(b, Nil).lastOption.toList))
          }
          publish(name, Entry(merged, bKeys, mergeKeys,
            merged.values.flatten.toSeq.distinct.map(dirBytes).sum,
            e.schemaDDL))
        } else {
          val oldPaths = sel.values.flatten.toSeq
          val newRows = {
            val aliveRows = aligned(src.where(alive))
            if (oldPaths.isEmpty) aliveRows
            else {
              val old =
                readEntry(e, oldPaths, sel.values.exists(_.lengthCompare(1) > 0))()
              StoreOps.antiByKeys(old, src, mergeKeys).unionByName(aliveRows)
            }
          }
          newRows
            .withColumn(DEAD, lit(0)).withColumn(SEQ, lit(segV))
            .withColumn(B, bucketOf(bKeys))
            .repartition(buckets, col(B)) // one file per bucket per segment;
            // explicit count bounds the shuffle fanout to `buckets` tasks
            // (repartition(col) would spread over shuffle.partitions)
            .write.partitionBy(B).mode("overwrite").parquet(s"$root/$rel")
          val written = discoverBuckets(rel)
          // touched buckets collapse to the new segment (or vanish if now
          // empty); untouched buckets keep their old chains
          val merged = (e.chains -- touched) ++
            touched.flatMap(b => written.get(b).map(b -> List(_)))
          if (merged.isEmpty) putPlain(name, newRows.limit(0), bKeys)
          else publish(name, Entry(merged, bKeys, mergeKeys,
            merged.values.flatten.toSeq.distinct.map(dirBytes).sum,
            e.schemaDDL))
        }
      } finally pinned.foreach(_.unpersist())
    }
  }

  // ----------------------------------------------------------- time travel

  /** Version of the latest committed manifest flip. */
  def currentVersion: Long = version

  /** Manifest versions still on disk — the keepVersions retention window,
    * i.e. the snapshots [[asOf]] can still serve. */
  def retainedVersions: Seq[Long] =
    listDir(Paths.get(root)).map(_.getFileName.toString)
      .filter(_.matches("_v\\d+")).map(_.drop(2).toLong).sorted

  /** Read-only SNAPSHOT of this store as of manifest `v` (time travel):
    * `Ivm.read(view, q, store.asOf(v))` is the maintained view exactly as
    * committed by flip `v`. Free by construction: segments are immutable
    * and [[prune]] retains every segment a kept manifest references, so
    * any retained version resolves fully — the same mechanics that give
    * in-flight refreshes snapshot isolation give readers history. Writes
    * (and tags) through a snapshot are rejected. */
  override def readSnapshot(): IvmStore = {
    // freeze the IN-MEMORY entry/tag maps (manifest content plus anything
    // an open transaction has staged — nested refreshes must see earlier
    // same-transaction commits). Segments are immutable, so resolving
    // from the frozen maps pins every read to the capture point; slices
    // keep their bucket pruning through the shared entry-level helper.
    val frozenE: Map[String, Entry] = {
      val st = txnEntries
      if (txnDepth > 0 && st != null) entries ++ st else entries
    }
    val frozenT: Map[String, String] = {
      val st = txnTags
      if (txnDepth > 0 && st != null) tagMap ++ st else tagMap
    }
    new IvmStore {
      override def get(name: String): Option[DataFrame] =
        frozenE.get(name).map(e =>
          ParquetStore.this.readEntry(e, e.allPaths, e.layered)())
      override def slice(name: String, keyDf: DataFrame,
          sliceKeys: Seq[String]): DataFrame =
        frozenE.get(name) match {
          case Some(e) => ParquetStore.this.sliceEntry(e, keyDf, sliceKeys)
          case None => throw new IllegalStateException(
            s"IVM state '$name' not found — was Ivm.create run for this view?")
        }
      override def getTag(key: String): Option[String] = frozenT.get(key)
      override def put(name: String, df: DataFrame): Unit =
        throw new UnsupportedOperationException("snapshots are read-only")
      override def setTag(key: String, value: String): Unit =
        throw new UnsupportedOperationException("snapshots are read-only")
    }
  }

  def asOf(v: Long): IvmStore = {
    require(Files.exists(manifestPath(v)),
      s"manifest _v$v is outside the retention window " +
        s"(keepVersions=$keepVersions, current=_v$version)")
    val (es, ts) = readManifest(v)
    new IvmStore {
      override def get(name: String): Option[DataFrame] =
        es.get(name).map(e =>
          ParquetStore.this.readEntry(e, e.allPaths, e.layered)())
      override def getTag(key: String): Option[String] = ts.get(key)
      override def put(name: String, df: DataFrame): Unit =
        throw new UnsupportedOperationException("asOf snapshots are read-only")
      override def setTag(key: String, value: String): Unit =
        throw new UnsupportedOperationException("asOf snapshots are read-only")
    }
  }

  // --------------------------------------------------------------- pruning

  /** Delete manifests older than the keepVersions window and segments no
    * retained manifest references. The window counts manifests that EXIST
    * (not version numbers — segment writes consume version numbers without
    * writing a manifest, so number arithmetic would retain fewer real
    * manifests than promised and delete segments a live [[readSnapshot]]
    * still resolves). Called under `synchronized`. */
  private def prune(): Unit = {
    val all = listDir(Paths.get(root)).map(_.getFileName.toString)
      .filter(n => n.length > 2 && n.startsWith("_v") && n.drop(2).forall(_.isDigit))
      .map(_.drop(2).toLong).sorted
    val kept = all.takeRight(keepVersions)
    val referenced: Set[String] = kept.flatMap { v =>
      val es = if (v == version) entries else readManifest(v)._1
      es.values.flatMap(_.allPaths).map(segRoot)
    }.toSet
    // drop manifest files outside the kept window
    all.dropRight(keepVersions).foreach(v => Files.deleteIfExists(manifestPath(v)))
    // drop unreferenced segment dirs (state names may nest: "view/r.aux.x")
    def walk(dir: Path, rel: String): Unit =
      listDir(dir).filter(Files.isDirectory(_)).foreach { child =>
        val n = child.getFileName.toString
        val childRel = if (rel.isEmpty) n else s"$rel/$n"
        if (n.startsWith("seg") && n.drop(3).forall(_.isDigit)) {
          if (!referenced.contains(childRel)) deleteRecursively(child)
        } else walk(child, childRel)
      }
    walk(Paths.get(root), "")
    readMemo.filterInPlace((k, _) => k.forall(rel => referenced.contains(segRoot(rel))))
  }

  private def segRoot(rel: String): String = {
    val i = rel.indexOf(s"/$B=")
    if (i >= 0) rel.substring(0, i) else rel
  }

  private def listDir(p: Path): Seq[Path] = {
    if (!Files.isDirectory(p)) return Seq.empty
    val s = Files.list(p)
    try s.iterator.asScala.toList finally s.close()
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
