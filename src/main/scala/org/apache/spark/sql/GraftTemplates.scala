package org.apache.spark.sql

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{Metadata, MetadataBuilder, StructType}

/** Compiled delta-plan templates — the per-batch Catalyst amortizer for the
  * IVM maintenance loop.
  *
  * A maintained view's refresh runs a dozen small driver actions per batch
  * (pin collects, state-merge computations). Their plan STRUCTURE is
  * batch-invariant — only the delta rows and the small-state contents
  * change — yet each action re-pays analysis, optimization, physical
  * planning and codegen lookup (~50-100 ms each), which IS the fixed
  * refresh floor at small batch sizes (README "refresh floor" profile).
  *
  * This executor caches the PHYSICAL plan per structure and re-executes it
  * with fresh data: every engine-created LocalRelation (delta collects,
  * pins, small-state reads) is tagged with a param id in its attribute
  * metadata; `collect` canonicalizes the analyzed plan with LocalRelation
  * data stripped into a cache key, and on a hit substitutes the current
  * rows into the cached plan's `LocalTableScanExec` leaves (matched by
  * param POSITION in the canonical traversal — identical structure implies
  * identical traversal) and calls `executeCollect`. Only analysis is paid
  * per batch; optimization and planning are amortized across the
  * view's lifetime. Parquet leaves stay in the template by path and file
  * listing — base snapshots are immutable under the maintenance contract
  * (a directory that gained files keys a new template), and their
  * broadcast futures are deliberately REUSED across batches (same bytes,
  * one build). Any state whose layout changes (small → bucketed) changes
  * the leaf set, hence the key, hence falls back to a fresh build.
  *
  * Templates compile in a cloned session with data-dependent optimizations
  * disabled, so a plan built from batch-1 data stays valid for any later
  * batch:
  *   - ConvertToLocalRelation / PropagateEmptyRelation (would fold or drop
  *     subtrees based on the build batch's rows),
  *   - OptimizeOneRowPlan / EliminateLimits (exploit maxRows of the build
  *     batch),
  *   - AQE (re-plans per execution — the opposite of a template) and DPP
  *     (irrelevant for unpartitioned snapshot dirs).
  * An untagged LocalRelation (a literal table) cannot be substituted, so
  * its DATA is digested into the key instead — equal key ⇒ equal rows ⇒
  * reusing the build-time rows is sound.
  *
  * Codegen policy: templates compile and run without generated code
  * (`spark.sql.codegen.factoryMode` = NO_CODEGEN: no whole-stage stages,
  * interpreted expression factories). Compiled classes live in Spark's
  * codegen cache, an LRU of 100 entries by default (`spark.sql.codegen.
  * cache.maxEntries`, a static conf only the application can set). A
  * refresh needing more distinct classes than that (the 4-band LSH pairs
  * cascade) missed the LRU and recompiled ~150 classes every batch. An
  * interpreted template measured no slower than a compiled one on every
  * shape tried on a 4-core host, scans of sf0.1 base tables included.
  *
  * 100 TB note: templates only serve the small-batch local path (the
  * caller gates on `graft.localBatchRows`); large batches take fresh
  * plans where planning cost is noise against data cost. The win scales
  * with VIEW COUNT — hundreds of maintained views × a dozen actions ×
  * ~70 ms is exactly the driver bottleneck a single-driver cluster hits.
  */
object GraftTemplates {

  /** Attribute-metadata key carrying a param id on engine-created locals. */
  val PID = "graft.pid"

  // ---- driver-inline execution ------------------------------------------
  //
  // A substituted template plan on the small-batch path is typically ONE
  // partition whose lineage is all-narrow: LocalTableScans (delta collects,
  // pins, driver-resident states) under project/filter/agg/join operators,
  // no exchanges (the template session plans local⋈local as
  // single-partition SHJ and aggregates with shuffle.partitions=1 — and a
  // SinglePartition child satisfies the agg's distribution outright, so
  // EnsureRequirements inserts nothing). Running such a plan as a Spark job
  // pays scheduler latency, task-binary serialization (which EMBEDS the
  // LocalTableScan rows — MB-scale for big pins), task launch and result
  // transfer: ~15–90 ms per action, which IS the remaining refresh floor.
  // Computing the RDD's single partition on the driver thread instead costs
  // none of that — the iterator chain reads the driver-resident rows in
  // place. A real TaskContext (with a TaskMemoryManager over the driver's
  // MemoryManager) backs Tungsten operators (hash maps, sorters, spills);
  // completion listeners run in the finally so operator memory is freed
  // exactly as at task end.
  //
  // Guarded: one root partition, no ShuffleDependency anywhere, no cached
  // RDD in the lineage (driver-side iterator() would populate the driver's
  // BlockManager). Anything else — and any compute failure — falls back to
  // the normal job path. 100 TB note: this serves ONLY small-batch actions;
  // plans that scan real data have multi-partition scans and never qualify.
  // Synthetic taskAttemptIds must never collide with BlockInfo's sentinel
  // ids (NO_WRITER = -1, NON_TASK_WRITER = -1024): registerTask/
  // releaseAllLocksForTask on a sentinel would clobber the driver
  // BlockInfoManager's own registration and NPE every later non-task
  // broadcast write. Real task ids are non-negative, so anything at or
  // below -1_000_000 is permanently collision-free.
  private val nextInlineTid =
    new java.util.concurrent.atomic.AtomicLong(-1000000L)
  private val inlineFailLogged = TrieMap.empty[String, Unit]
  val inlineRuns = new java.util.concurrent.atomic.AtomicLong(0L)

  private def allNarrowUncached(r: org.apache.spark.rdd.RDD[_]): Boolean =
    r.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE &&
      r.dependencies.forall {
        case _: org.apache.spark.ShuffleDependency[_, _, _] => false
        case d => allNarrowUncached(d.rdd)
      }

  /** Driver-inline collect of the built `rdd` (up to `cap`+1 rows when
    * `cap` >= 0); None when its shape doesn't qualify or compute fails. */
  private def driverCollect(rdd: org.apache.spark.rdd.RDD[InternalRow],
      cap: Int): Option[Array[InternalRow]] = {
    val parts = rdd.partitions
    if (parts.length != 1 || !allNarrowUncached(rdd)) return None
    val env = org.apache.spark.SparkEnv.get
    if (env == null) return None
    val tid = nextInlineTid.getAndDecrement()
    val tmm = new org.apache.spark.memory.TaskMemoryManager(
      env.memoryManager, tid)
    // the submitting thread's local properties, as a job's task would get
    // them: task-side conf reads (the codegen factory mode) see the
    // session confs propagated for this execution
    val props = Option(rdd.sparkContext.getLocalProperties)
      .getOrElse(new java.util.Properties)
    val tc = new org.apache.spark.TaskContextImpl(
      stageId = 0, stageAttemptNumber = 0, partitionId = 0,
      taskAttemptId = tid, attemptNumber = 0, numPartitions = 1,
      taskMemoryManager = tmm, localProperties = props,
      metricsSystem = env.metricsSystem,
      taskMetrics = org.apache.spark.executor.TaskMetrics.empty,
      cpus = 1, resources = Map.empty)
    // register the synthetic task with the driver's BlockInfoManager:
    // a broadcast read inside the plan (BroadcastHashJoin build side)
    // acquires per-task block read locks keyed by taskAttemptId
    env.blockManager.registerTask(tid)
    org.apache.spark.TaskContext.setTaskContext(tc)
    var failure: Option[Throwable] = None
    try {
      val it = rdd.compute(parts(0), tc)
      val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      while (it.hasNext && (cap < 0 || buf.length <= cap))
        buf += it.next().copy()
      inlineRuns.incrementAndGet()
      Some(buf.toArray)
    } catch {
      case scala.util.control.NonFatal(e) =>
        // unexpected (the guard should exclude non-driver-runnable shapes):
        // log once per failure class, fall back to the job path
        failure = Some(e)
        if (inlineFailLogged.putIfAbsent(e.getClass.getName, ()).isEmpty)
          System.err.println(
            s"graft: driver-inline exec failed (${e.getClass.getName}: " +
              s"${e.getMessage}) — falling back to job execution")
        None
    } finally {
      // a throwing TaskCompletionListener must not escape past the NonFatal
      // catch above, and unset/cleanUp must run regardless — otherwise the
      // ThreadLocal context and task memory leak on the driver thread
      try tc.markTaskCompleted(failure)
      catch {
        case scala.util.control.NonFatal(e) =>
          if (inlineFailLogged.putIfAbsent(e.getClass.getName, ()).isEmpty)
            System.err.println(
              s"graft: driver-inline completion listener failed " +
                s"(${e.getClass.getName}: ${e.getMessage})")
      }
      org.apache.spark.TaskContext.unset()
      try env.blockManager.releaseAllLocksForTask(tid)
      catch { case scala.util.control.NonFatal(_) => () }
      tmm.cleanUpAllAllocatedMemory()
    }
  }

  /** Execute a physical plan: driver-inline when it qualifies, else as a
    * normal job action. `cap` < 0 collects fully; otherwise returns at most
    * `cap`+1 rows (executeTake semantics for the capped probe). */
  private def execPlan(plan: SparkPlan, cap: Int): Array[InternalRow] = {
    def plain() =
      if (cap < 0) plan.executeCollect() else plan.executeTake(cap + 1)
    // Only plans whose every leaf is a driver-resident LocalTableScan
    // qualify: file scans (even single-partition ones over a small state
    // segment) take executor-only paths — parquet reader block locks need
    // a task registered with the BlockInfoManager, and failing there spams
    // FAILED_READ_FILE errors before the fallback. An AQE root is not a
    // LocalTableScanExec leaf and is rejected the same way.
    if (!plan.collectLeaves().forall(_.isInstanceOf[LocalTableScanExec]))
      return plain()
    val rdd =
      try plan.execute() // may schedule subquery/broadcast jobs via prepare()
      catch { case scala.util.control.NonFatal(_) => return plain() }
    // a rejected shape runs its job on the RDD already built: executing
    // the plan again would regenerate every codegen stage's source
    driverCollect(rdd, cap).getOrElse(plan match {
      case _: LocalTableScanExec => plain() // a bare local scan needs no job
      case _                     => collectRdd(rdd, cap)
    })
  }

  /** The job-path collect of a built plan RDD: every row, or the first
    * `cap`+1 in partition order (executeTake's result, in one job). */
  private def collectRdd(rdd: org.apache.spark.rdd.RDD[InternalRow],
      cap: Int): Array[InternalRow] = {
    val n = if (cap < 0) -1 else cap + 1
    val parts = rdd.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) =>
      (if (n < 0) it else it.take(n)).map(_.copy()).toArray)
    val all = parts.iterator.flatMap(_.iterator)
    (if (n < 0) all else all.take(n)).toArray
  }

  private val nextId = new AtomicLong()
  private final case class Template(plan: SparkPlan, paramIds: Seq[Long])
  private val cache = TrieMap.empty[String, Template]
  // structures seen once: compilation happens on the SECOND occurrence
  // (standard JIT heuristic) — one-shot plans (create flows, gate queries)
  // never pay the clone-session optimize + plan + soundness-gate cost,
  // which roughly doubles planning for a plan that is never reused.
  private val seenOnce = TrieMap.empty[String, Unit]
  // one conf-pinned clone per session, for template compilation
  private val tplSessions = TrieMap.empty[SparkSession, classic.SparkSession]
  // template runs that reused a compiled plan; several threads run
  // templates at once (the walk, ivm-state commits, ScalarDeco parts)
  private val hitCount = new AtomicLong()
  def hits: Long = hitCount.get()

  // set true if the template session's rule exclusions prove ineffective
  // (see the self-check in sessionFor) — templates then disable entirely
  @volatile private var selfCheckFailed = false

  /** Attribute-metadata key naming a local's refresh-loop ROLE (e.g.
    * "pin:r.0.touched", "state:v/r", "delta:orders") — the trace-replay
    * layer resolves next-batch rows for a recorded plan's leaves by it. */
  val ROLE = "graft.role"

  /** LocalRelation-backed frame whose attributes carry a fresh param id —
    * the substitution point marker. All engine-created locals (delta
    * collects, pins, small-state segments) are built through this.
    * `role`, when non-empty, names the leaf for trace replay. */
  def taggedLocal(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow], role: String = ""): DataFrame = {
    val pid = nextId.incrementAndGet()
    val attrs = DataTypeUtils.toAttributes(schema).map { a =>
      val mb = new MetadataBuilder().withMetadata(a.metadata).putLong(PID, pid)
      if (role.nonEmpty) mb.putString(ROLE, role)
      a.withMetadata(mb.build()).asInstanceOf[AttributeReference]
    }
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(attrs, rows))
  }

  /** DataFrame over an (already analyzed) logical plan — plan-level
    * construction for callers outside the sql package (trace replay). */
  def ofPlan(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Role of a tagged local's attrs, if any. */
  def roleOf(attrs: Seq[org.apache.spark.sql.catalyst.expressions.Attribute]): Option[String] =
    attrs.headOption.filter(_.metadata.contains(ROLE)).map(_.metadata.getString(ROLE))

  /** Execute an (already analyzed) logical plan through the template
    * cache — the trace-replay layer hands swapped-leaf plans straight in,
    * skipping Dataset construction. */
  def collectLogical(spark: SparkSession, plan: LogicalPlan): Array[InternalRow] = {
    lazy val df = classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)
    runCore(spark, plan,
      () => execPlan(df.queryExecution.executedPlan, -1),
      p => execPlan(p, -1))
  }

  private def pidOf(attrs: Seq[org.apache.spark.sql.catalyst.expressions.Attribute]): Option[Long] =
    attrs.headOption.filter(_.metadata.contains(PID)).map(_.metadata.getLong(PID))

  /** Structural cache key: the analyzed plan with LocalRelation data
    * stripped and attribute metadata cleared, canonicalized (normalizes
    * exprIds), plus a leaf descriptor line pinning file-source paths (the
    * canonical form does not print them) and digests of untagged local
    * data. */
  def cacheKey(analyzed: LogicalPlan): String = {
    val stripped = analyzed.transform {
      case l: LocalRelation => l.copy(data = Nil)
    }.transformAllExpressions {
      case a: AttributeReference if a.metadata != Metadata.empty =>
        a.withMetadata(Metadata.empty).asInstanceOf[AttributeReference]
    }
    val leaves = analyzed.collectLeaves().map {
      case lr: LogicalRelation => lr.relation match {
        // the listing is part of the structure: a compiled scan reads the
        // files listed when it was built, so a dir that gained or lost
        // files must not reuse it
        case fs: HadoopFsRelation =>
          val files = fs.location.inputFiles.sorted.toSeq
          "fs:" + fs.location.rootPaths.mkString(",") + ":" + files.length +
            ":" + files.hashCode
        case o                    => "rel:" + o.toString
      }
      case l: LocalRelation if pidOf(l.output).isEmpty =>
        // untagged literal table: rows are part of the structure
        "lit:" + l.output.map(a => a.dataType.sql +
          (if (a.nullable) "?" else "!")).mkString(",") + ":" +
          l.data.map(_.hashCode()).hashCode()
      case l: LocalRelation =>
        // nullability is in the key: nullability-driven rewrites (outer-join
        // elimination, null-predicate simplification) are baked into the
        // template, so plans differing only there must not share one
        "param:" + l.output.map(a => a.dataType.sql +
          (if (a.nullable) "?" else "!")).mkString(",")
      case o => "leaf:" + o.nodeName
    }.mkString("|")
    stripped.canonicalized.toString + "\n##" + leaves
  }

  /** Plans a join whose BOTH sides are driver-local subtrees as a
    * single-partition [[org.apache.spark.sql.execution.joins.ShuffledHashJoinExec]]
    * instead of a broadcast join. Every BroadcastExchange schedules its own
    * Spark job per execution (template plans are fresh copies each batch —
    * exchange reuse is off by design), which at ~10-20 ms each IS the
    * refresh floor once everything else is amortized. Both children are
    * SinglePartition (locals are coalesced to 1), which satisfies SHJ's
    * clustered distribution — EnsureRequirements inserts nothing and the
    * join runs inside the same single task. Joins touching any file source
    * fall through to the built-in strategies (the local side must
    * broadcast against a big scan, never the reverse). Null-aware anti
    * joins never match (their condition is not plain equi-keys). */
  private object LocalShuffledJoin extends org.apache.spark.sql.execution.SparkStrategy {
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
    import org.apache.spark.sql.catalyst.plans._
    private def localOnly(p: LogicalPlan): Boolean = {
      val leaves = p.collectLeaves()
      leaves.nonEmpty && leaves.forall(_.isInstanceOf[LocalRelation])
    }
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case ExtractEquiJoinKeys(joinType, leftKeys, rightKeys, nonEquiCond,
          _, left, right, _) if localOnly(left) && localOnly(right) =>
        val buildSide = joinType match {
          case Inner | Cross | LeftOuter | LeftSemi | LeftAnti |
              _: ExistenceJoin | FullOuter => Some(BuildRight)
          case RightOuter                  => Some(BuildLeft)
          case _                           => None
        }
        buildSide.toSeq.map(bs =>
          org.apache.spark.sql.execution.joins.ShuffledHashJoinExec(
            leftKeys, rightKeys, joinType, bs, nonEquiCond,
            planLater(left), planLater(right)))
      case _ => Nil
    }
  }

  /** The conf-pinned session templates compile under. */
  private def sessionFor(spark: SparkSession): classic.SparkSession =
    tplSessions.getOrElseUpdate(spark, {
      val s = spark.asInstanceOf[classic.SparkSession].cloneSession()
      s.experimental.extraStrategies =
        LocalShuffledJoin +: s.experimental.extraStrategies
      s.conf.set("spark.sql.adaptive.enabled", "false")
      s.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
      // no generated code (header). The one internal conf does both halves:
      // CollapseCodegenStages inserts no whole-stage stages under
      // NO_CODEGEN, and expression factories interpret. TemplateSpec and
      // CascadeSpec's compile count guard it across Spark upgrades.
      s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      // PruneFilters/OptimizeLimitZero are NOT data-dependent, but they
      // replace a statically-false filter (or limit 0) over a param with an
      // EMPTY LocalRelation whose attrs still carry the pid -- substitution
      // would then inject raw rows into a leaf whose filter folded away
      // (observed: isnull(col) over a non-nullable col in a NOT IN delta
      // plan computed wrong adjustments). The trivial filter executes per
      // batch instead -- noise on local-sized inputs.
      s.conf.set("spark.sql.optimizer.excludedRules", Seq(
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation",
        "org.apache.spark.sql.catalyst.optimizer.PropagateEmptyRelation",
        "org.apache.spark.sql.catalyst.optimizer.OptimizeOneRowPlan",
        "org.apache.spark.sql.catalyst.optimizer.EliminateLimits",
        "org.apache.spark.sql.catalyst.optimizer.PruneFilters",
        "org.apache.spark.sql.catalyst.optimizer.OptimizeLimitZero")
        .mkString(","))
      // small-batch actions aggregate O(touched) rows — one reducer beats
      // 32 near-empty shuffle partitions (AQE is off in this session)
      s.conf.set("spark.sql.shuffle.partitions", "1")
      // The engine's broadcast() hints exist for the DISTRIBUTED path
      // (never shuffle a base table against a delta). Here they force a
      // BroadcastExchange — an extra job per join — onto joins whose local
      // sides are already SinglePartition and would otherwise plan
      // exchange-free. Drop the hints and let size stats decide: local ⋈
      // local collapses into one stage, local ⋈ parquet still broadcasts
      // the small side by its stats.
      s.conf.set("spark.sql.optimizer.disableHints", "true")
      // an un-coalesced LocalTableScan otherwise parallelizes a few
      // thousand rows over `defaultParallelism` (= all cores) partitions —
      // 32 no-op tasks per stage is most of the small-action latency
      s.conf.set("spark.sql.leafNodeDefaultParallelism", "1")
      // CORRECTNESS: a ReusedExchange/ReusedSubquery holds a FIELD
      // reference (not a child) to another exchange instance, which
      // substitution cannot rewrite — it would replay the build batch's
      // rows. Plans must contain only real exchanges.
      s.conf.set("spark.sql.exchange.reuse", "false")
      s.conf.set("spark.sql.execution.reuseSubquery", "false")
      // SELF-CHECK: the soundness of every template rests on the optimizer
      // NOT baking param data into the plan. If a Spark version makes
      // ConvertToLocalRelation or PropagateEmptyRelation non-excludable,
      // a Filter over a param would fold its build rows into the leaf —
      // undetectable at substitution time (attrs unchanged). Probe both
      // rules once; on failure disable templates entirely (fail safe).
      val probeSchema = StructType(Seq(
        org.apache.spark.sql.types.StructField("a",
          org.apache.spark.sql.types.IntegerType)))
      val twoRows: Seq[InternalRow] = Seq(1, 2).map(i =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](i)))
      val foldProbe = s.withActive {
        classic.Dataset.ofRows(s,
          taggedLocal(s, probeSchema, twoRows)
            .where(functions.col("a") < 2).queryExecution.analyzed)
          .queryExecution.optimizedPlan
      }
      val emptyProbe = s.withActive {
        classic.Dataset.ofRows(s,
          taggedLocal(s, probeSchema, Nil)
            .join(taggedLocal(s, probeSchema, twoRows), Seq("a"))
            .queryExecution.analyzed)
          .queryExecution.optimizedPlan
      }
      // a statically-false predicate (isnull of a non-nullable col) must
      // stay a Filter, not fold to an empty LocalRelation keeping the pid
      val nnSchema = StructType(Seq(
        org.apache.spark.sql.types.StructField("a",
          org.apache.spark.sql.types.IntegerType, nullable = false)))
      val pruneProbe = s.withActive {
        classic.Dataset.ofRows(s,
          taggedLocal(s, nnSchema, twoRows)
            .where(functions.isnull(functions.col("a")))
            .queryExecution.analyzed)
          .queryExecution.optimizedPlan
      }
      if (foldProbe.isInstanceOf[LocalRelation] ||
          emptyProbe.isInstanceOf[LocalRelation] ||
          pruneProbe.isInstanceOf[LocalRelation]) {
        selfCheckFailed = true
        System.err.println("graft: plan-template rule exclusions ineffective " +
          "on this Spark version — templates disabled (fresh plans per batch)")
      }
      s
    })

  /** Params (tagged LocalRelations) in deterministic traversal order. */
  private def paramsOf(analyzed: LogicalPlan): Seq[(Long, Seq[InternalRow])] =
    analyzed.collect {
      case l: LocalRelation if pidOf(l.output).isDefined =>
        (pidOf(l.output).get, l.data)
    }

  private def substituted(tpl: Template,
      params: Seq[(Long, Seq[InternalRow])]): SparkPlan = {
    // positional mapping: build-time param i ↔ current param i
    val rowsByBuildId = tpl.paramIds.zip(params.map(_._2)).toMap
    tpl.plan.transformUp {
      case l: LocalTableScanExec =>
        pidOf(l.output).flatMap(rowsByBuildId.get) match {
          case Some(rows) => l.copy(rows = rows)
          case None       => l.copy() // untagged: key pinned identical rows
        }
    }
  }

  /** Execute `df` through the template cache; falls back to a plain
    * executeCollect when the self-check disabled templates. Returns
    * InternalRows (safe copies). */
  def collect(df: DataFrame): Array[InternalRow] =
    run(df, p => execPlan(p, -1))

  /** Template-cached executeTake: rows if at most `cap`, else None. */
  def collectCapped(df: DataFrame, cap: Int): Option[Array[InternalRow]] = {
    val rows = run(df, p => execPlan(p, cap))
    if (rows.length > cap) None else Some(rows)
  }

  /** Template-cached collect with a smallness verdict: Some(Right(rows))
    * when at most `cap`, Some(Left(rows)) when over — the caller keeps the
    * over-cap rows (as a plain pin) instead of discarding the execution
    * and re-running the plan. For plans whose over-cap execution is
    * already ~full-price (aggregates materialize everything before the
    * first row), this turns the probe-then-re-execute double into one.
    * `hard` bounds the driver-heap exposure: a plan that expands past it
    * (a mid-plan join blowup — pathological for O(touched) pins) returns
    * None so the caller can fall back to a distributed pin instead of
    * materializing an unbounded array. */
  def collectVerdict(df: DataFrame, cap: Int, hard: Int = -1)
      : Option[Either[Array[InternalRow], Array[InternalRow]]] = {
    val rows = run(df, p => execPlan(p, hard))
    if (hard >= 0 && rows.length > hard) None
    else if (rows.length > cap) Some(Left(rows))
    else Some(Right(rows))
  }

  private def run(df: DataFrame,
      exec: SparkPlan => Array[InternalRow]): Array[InternalRow] =
    runCore(df.sparkSession, df.queryExecution.analyzed,
      () => exec(df.queryExecution.executedPlan), exec)

  /** Core of [[run]] over an ALREADY-ANALYZED plan. `fallback` executes a
    * fresh plan outside the template machinery (built lazily: the hot path
    * never constructs a Dataset or re-runs the analyzer). */
  private def runCore(spark: SparkSession, analyzed: LogicalPlan,
      fallback: () => Array[InternalRow],
      exec: SparkPlan => Array[InternalRow]): Array[InternalRow] = {
    // resolved first: its self-check can disable templates on this call
    val tplSession = sessionFor(spark)
    if (selfCheckFailed) return fallback()
    // RDD-backed leaves (localCheckpoint pins on the distributed path) have
    // per-batch identities — a template could never be reused, and caching
    // one per batch would just grow the cache. Execute plainly.
    if (analyzed.collectLeaves().exists(
        _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]))
      return fallback()
    if (cache.size > 2048) clear() // runaway-key backstop; templates rebuild
    val params = paramsOf(analyzed)
    val key = cacheKey(analyzed)
    val tpl = cache.get(key) match {
      case Some(t) if t.plan == null => // untemplatable structure
        return fallback()
      case Some(t) if t.paramIds.length == params.length =>
        hitCount.incrementAndGet(); t
      case _ =>
        // first sight of this structure: record it and execute plainly —
        // compile only when it recurs (maintenance loops recur per batch;
        // one-shot plans never come back). Stored as a digest: full keys
        // are whole canonical plan dumps.
        if (seenOnce.size > 65536) seenOnce.clear() // backstop
        val keyDigest = java.security.MessageDigest.getInstance("MD5")
          .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
        if (seenOnce.putIfAbsent(keyDigest, ()).isEmpty)
          return fallback()
        val phys = tplSession.withActive {
          classic.Dataset.ofRows(tplSession, analyzed)
            .queryExecution.executedPlan
        }
        // SOUNDNESS GATE: every param must survive into the physical plan
        // as a substitutable LocalTableScanExec with its attrs intact. A
        // param can instead be swallowed whole — most commonly by the
        // shared CacheManager swapping a canonically-equal subtree for an
        // InMemoryRelation holding the BUILD batch's materialized rows
        // (e.g. the engine caches ΔV; a later action embeds the same
        // subtree) — or reshaped by a fold that bakes build data into the
        // leaf. Executing such a "template" would silently replay build
        // rows, so the key is tombstoned and this structure always
        // executes fresh.
        val physPidLeaves = phys.collect {
          case l: LocalTableScanExec if pidOf(l.output).isDefined => l
        }
        val analyzedAttrs: Map[Long, Seq[String]] = analyzed.collect {
          case l: LocalRelation if pidOf(l.output).isDefined =>
            pidOf(l.output).get -> l.output.map(a => a.name + ":" + a.dataType.sql)
        }.toMap
        // belt-and-braces for the exchange.reuse conf: a Reused* node holds
        // a field reference to another exchange/subquery instance that
        // substitution cannot rewrite — it would replay build-batch rows.
        // (This DID happen once: the conf key was misspelled and Spark
        // accepted the unknown key silently.)
        val noReuse = phys.collectWithSubqueries {
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
          case r: org.apache.spark.sql.execution.ReusedSubqueryExec => r
        }.isEmpty
        // per-pid build rows (duplicate pids are the same local referenced
        // at several plan positions, so their data is identical by
        // construction; tombstone if that ever stops holding)
        val paramRows: Map[Long, Seq[InternalRow]] = params.toMap
        val dupsConsistent = params.forall { case (pid, rows) =>
          val r = paramRows(pid); (r eq rows) || r == rows
        }
        val sound = noReuse && dupsConsistent &&
          physPidLeaves.flatMap(l => pidOf(l.output)).toSet == params.map(_._1).toSet &&
          physPidLeaves.forall { l =>
            analyzedAttrs.get(pidOf(l.output).get)
              .contains(l.output.map(a => a.name + ":" + a.dataType.sql)) &&
            // the leaf must still hold the param's VERBATIM build rows — a
            // leaf whose rows diverged (e.g. an empty relation left by a
            // fold that kept the pid attrs) is not a substitution point,
            // and substituting into it would skip the folded computation
            { val pr = paramRows(pidOf(l.output).get)
              (l.rows eq pr) || l.rows == pr }
          }
        val t = if (sound) Template(phys, params.map(_._1))
                else Template(null, Nil)
        cache.put(key, t)
        if (!sound) return fallback()
        t
    }
    // copies made during substitution capture the ACTIVE session at node
    // construction; without one (e.g. a store commit on a non-query thread)
    // the fresh nodes would carry session = null and NPE at execute.
    // The codegen factory mode is read task-side: propagate the session's
    // confs to this execution's jobs and driver-inline task.
    tplSession.withActive {
      org.apache.spark.sql.execution.SQLExecution
        .withSQLConfPropagated(tplSession)(exec(substituted(tpl, params)))
    }
  }

  /** The compiled template for `df`'s structure, if one is cached (tests). */
  def templateOf(df: DataFrame): Option[SparkPlan] =
    cache.get(cacheKey(df.queryExecution.analyzed)).flatMap(t => Option(t.plan))

  /** Drop every cached template (tests; or after a base-table swap). */
  def clear(): Unit = { cache.clear(); seenOnce.clear() }
}
