package graft.ivm

import org.apache.spark.sql.DataFrame

import scala.collection.mutable

/** Views over views — the composability the reference poster names as the
  * design goal ("IVM transforms should be composable") materialized as an
  * API: each level is a maintained view whose query may scan EARLIER
  * levels' view names as tables, and one [[refresh]] call folds a batch of
  * base-table deltas through the whole chain — every downstream level is
  * refreshed with the UPSTREAM level's own output changelog
  * ([[Ivm.changelogAsDelta]]), so each level's work is O(‖Δ‖) of its
  * input, never a rescan of the level below.
  *
  * Why a dedicated driver instead of just calling [[Ivm.refresh]] per
  * level: the delta engine's contract is that `base(t)` returns the
  * CREATE-TIME snapshot of `t` — current content is reconstructed as
  * base ⊎ delta-accumulator state (`ZDelta.currentW`). A naive resolver
  * returning `Ivm.read(upstream)` would MOVE between batches (the
  * upstream commits first) and double-count against the accumulator. The
  * cascade therefore freezes each consumed level's output INTO THE STORE
  * at create time (`<name>/_cascade_frozen` — versioned and immutable like
  * any state, durable on [[ParquetStore]]) and resolves upstream scans
  * from the frozen snapshot forever after. A small snapshot is written
  * driver-direct like any small first write, so it is driver-resident:
  * downstream delta terms that read it have only local leaves and run
  * driver-inline through the template cache.
  *
  * The whole chain refreshes inside ONE store transaction: on a
  * transactional store every level's state flips publish in a single
  * atomic manifest rename — a crash mid-chain leaves the previous batch
  * current everywhere, never a half-propagated cascade.
  *
  * At 100 TB the cascade is the fan-out saver: a shared interior view
  * (hourly rollup, cleaned-events) maintains ONCE and its changelog —
  * ‖ΔV‖ rows, typically far smaller than the base delta after
  * aggregation — feeds any number of downstream consumers.
  */
final class Cascade(
    levels: Seq[(String, IvmQuery)],
    base: String => DataFrame,
    store: IvmStore) {

  private val names = levels.map(_._1)
  require(names.distinct == names, s"duplicate level names: $names")
  levels.zipWithIndex.foreach { case ((n, q), i) =>
    val laterNames = names.drop(i + 1).toSet
    require(!q.tables.exists(laterNames),
      s"level '$n' scans a LATER level — order levels upstream-first")
  }

  /** View names consumed by a later level (only these need freezing and
    * an output changelog per batch). */
  private val consumed: Set[String] =
    levels.zipWithIndex.flatMap { case ((_, q), i) =>
      q.tables.filter(names.take(i).contains)
    }.toSet

  private def frozenPath(name: String) = s"$name/_cascade_frozen"

  /** Upstream scans resolve to the frozen create-time snapshot; everything
    * else falls through to the base-table resolver. */
  private def resolver(upstream: Set[String]): String => DataFrame =
    t => if (upstream(t)) store(frozenPath(t)) else base(t)

  /** Create every level bottom-up; freeze each consumed level's output. */
  def create(): Unit = store.transaction {
    val seen = mutable.Set.empty[String]
    levels.foreach { case (name, q) =>
      Ivm.create(name, q, resolver(seen.toSet), store)
      if (consumed(name))
        store.put(frozenPath(name), Ivm.read(name, q, store))
      seen += name
    }
  }

  /** Fold one batch of base-table deltas through the chain. Levels whose
    * output nobody consumes refresh state-only (skipping the ΔV job).
    * Returns the changelog row count each CONSUMED level fed downstream —
    * the measured ‖ΔV‖ that bounds the next level's work (post-aggregation
    * usually far below the base delta's row count). */
  def refresh(deltas: String => Option[DataFrame]): Map[String, Long] =
    store.transaction {
      val fed = mutable.Map.empty[String, DataFrame] // upstream ΔV, MULT form
      val fedRows = mutable.Map.empty[String, Long]
      val pinned = mutable.Buffer.empty[DataFrame]
      try {
        val seen = mutable.Set.empty[String]
        levels.foreach { case (name, q) =>
          val myDeltas: String => Option[DataFrame] =
            t => if (seen(t)) fed.get(t) else deltas(t)
          if (consumed(name)) {
            val dv = Ivm.refresh(name, q, resolver(seen.toSet), myDeltas, store)
            pinned += dv // refresh hands the caller the pinned ΔV
            val d0 = Ivm.changelogAsDelta(dv)
            // small changelogs (the common case after aggregation) collect
            // to a driver LocalRelation: the row count is free and the
            // downstream level's delta resolver gets a template-friendly
            // param instead of a cached plan
            val (d, n) = Ivm.collectLocal(d0, 1 << 16) match {
              case Some(local) =>
                (local, IvmCore.localLeaf(local).map(_.data.length.toLong)
                  .getOrElse(local.count()))
              case None =>
                val c = d0.cache(); pinned += c
                (c, c.count())
            }
            fedRows(name) = n
            if (n > 0) fed(name) = d // empty ΔV → no delta downstream
          } else {
            Ivm.refreshState(name, q, resolver(seen.toSet), myDeltas, store)
          }
          seen += name
        }
        fedRows.toMap
      } finally pinned.foreach(_.unpersist())
    }

  /** Read a level's current contents. */
  def read(name: String): DataFrame = {
    val q = levels.find(_._1 == name).getOrElse(
      throw new IllegalArgumentException(s"unknown cascade level: $name"))._2
    Ivm.read(name, q, store)
  }

  /** foreachBatch sink for streaming maintenance of the whole chain —
    * same replay-dedupe + crash-consistency contract as
    * `IvmStream.applyBatch`: the batch-id marker commits in the SAME
    * transaction as every level's state flips, so a re-delivered
    * micro-batch after a crash re-applies onto untouched state.
    * Wire up: `deltaStream.writeStream.foreachBatch(c.applyBatch("t") _)`. */
  def applyBatch(table: String)(batch: DataFrame, batchId: Long): Unit = {
    val marker = s"${names.head}/_cascade_last_batch/$table"
    val last = store.getTag(marker).map(_.toLong).getOrElse(-1L)
    if (batchId > last && !batch.isEmpty) store.transaction {
      refresh(t => if (t == table) Some(batch) else None)
      store.setTag(marker, batchId.toString)
    }
  }
}

object Cascade {
  /** Build a cascade straight from SQL — one `CREATE IMMV <name> AS
    * <select>` per level, upstream-first; a later statement references an
    * earlier level simply by selecting FROM its view name. The reference's
    * user surface (CREATE IMMV, SURVEY §3 EP3) composes without any AST
    * plumbing on the caller's side. */
  def fromSql(
      spark: org.apache.spark.sql.SparkSession,
      sqls: Seq[String],
      base: String => DataFrame,
      store: IvmStore): Cascade =
    new Cascade(sqls.map(SqlFrontend.createImmv(spark, _)), base, store)
}
