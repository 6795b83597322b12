package graft.ivm

import graft.SparkTestBase
import graft.ivm.AggSpec._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** The bucketed, manifest-versioned parquet store — the at-scale state
  * backend: refresh must work identically to MemStore, old versions must
  * stay readable during a refresh (snapshot isolation), merges must rewrite
  * only touched buckets, transactions must publish atomically, and pruning
  * must bound disk usage. */
class ParquetStoreSpec extends AnyFunSuite with SparkTestBase {

  private def mkStore(keep: Int = 2, buckets: Int = 16, smallBytes: Long = -1,
      maxChain: Int = 4) =
    (Files.createTempDirectory("ivm-pq").toString,
      (root: String) => new ParquetStore(spark, root, keepVersions = keep,
        buckets = buckets,
        smallStateBytes = if (smallBytes >= 0) smallBytes else 64L << 20,
        maxChain = maxChain))

  test("state reads plan from the manifest's file lists (no listing FileIndex)") {
    val (root, f) = mkStore(smallBytes = 0) // force distributed segments
    val store = f(root)
    val base: String => DataFrame = {
      case "t" => df("g STRING, v INT",
        Seq(Row("a", 1), Row("a", 2), Row("b", 10)))
    }
    val q = Aggregate(Scan("t"), Seq("g"),
      Seq(Sum(col("v"), "sum_v"), CountStar("cnt")))
    Ivm.create("mf", q, base, store)
    Ivm.refresh("mf", q, base, t => if (t == "t") Some(df(
      s"g STRING, v INT, ${IvmCore.MULT} BOOLEAN",
      Seq(Row("a", 5, true), Row("c", 2, true)))) else None, store)
    // the read's leaf relation must be the manifest-backed KnownFiles
    // index — the design property that state reads never LIST directories
    val leaves = Ivm.read("mf", q, store).queryExecution.analyzed.collectLeaves()
    val locs = leaves.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.getClass.getName
        }
    }
    assert(locs.nonEmpty, s"expected a file-source leaf, got: $leaves")
    assert(locs.forall(_.contains("GraftManifestScan")),
      s"state read did not plan from the manifest file index: $locs")
    // and a store re-opened from disk (fresh manifest parse) keeps it
    val store2 = f(root)
    val locs2 = store2("mf/r").queryExecution.analyzed.collectLeaves().collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.getClass.getName
    }
    assert(locs2.forall(_.contains("GraftManifestScan")), locs2.toString)
    assertSameRows(Ivm.read("mf", q, store2), Ivm.read("mf", q, store))
  }

  test("create + two refreshes over ParquetStore equal recompute") {
    val (root, f) = mkStore()
    val store = f(root)
    val base: String => DataFrame = {
      case "t" => df("g STRING, v INT",
        Seq(Row("a", 1), Row("a", 2), Row("b", 10)))
    }
    val q = Aggregate(Scan("t"), Seq("g"),
      Seq(Sum(col("v"), "sum_v"), CountStar("cnt")))
    Ivm.create("pv", q, base, store)

    val d1 = df(s"g STRING, v INT, ${IvmCore.MULT} BOOLEAN",
      Seq(Row("a", 5, true), Row("b", 10, false))) // b dies
    Ivm.refresh("pv", q, base, t => if (t == "t") Some(d1) else None, store)

    val d2 = df(s"g STRING, v INT, ${IvmCore.MULT} BOOLEAN",
      Seq(Row("c", 7, true), Row("a", 1, false)))
    Ivm.refresh("pv", q, base, t => if (t == "t") Some(d2) else None, store)

    val got = Ivm.read("pv", q, store).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("a", 7L, 2L), ("c", 7L, 1L)))
  }

  test("asOf: a retained manifest serves the view as of that commit") {
    val (root, f) = mkStore(keep = 3)
    val store = f(root)
    val base: String => DataFrame = {
      case "t" => df("g STRING, v INT",
        Seq(Row("a", 1), Row("a", 2), Row("b", 10)))
    }
    val q = Aggregate(Scan("t"), Seq("g"),
      Seq(Sum(col("v"), "sum_v"), CountStar("cnt")))
    Ivm.create("tv", q, base, store)
    val v0 = store.currentVersion

    val d1 = df(s"g STRING, v INT, ${IvmCore.MULT} BOOLEAN",
      Seq(Row("a", 5, true), Row("b", 10, false))) // b dies
    Ivm.refreshState("tv", q, base, t => if (t == "t") Some(d1) else None, store)
    assert(store.currentVersion > v0)
    assert(store.retainedVersions.contains(v0))

    // time travel: the snapshot still shows b alive and a's pre-delta sum
    val asOld = Ivm.read("tv", q, store.asOf(v0)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(asOld == Set(("a", 3L, 2L), ("b", 10L, 1L)))
    val asNew = Ivm.read("tv", q, store).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(asNew == Set(("a", 8L, 3L)))
    // snapshots are read-only; evicted versions are rejected loudly
    intercept[UnsupportedOperationException] {
      store.asOf(v0).put("x", df("x INT", Seq(Row(1))))
    }
    intercept[IllegalArgumentException] { store.asOf(-1L) }
  }

  test("snapshot isolation: a DataFrame resolved before put() keeps its version") {
    val (root, f) = mkStore(keep = 3)
    val store = f(root)
    store.put("s", df("x INT", Seq(Row(1))))
    val oldView = store("s") // resolves segment of manifest v1
    store.put("s", df("x INT", Seq(Row(2))))
    assert(oldView.collect().map(_.getInt(0)).toSeq == Seq(1))
    assert(store("s").collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("pruning keeps only segments referenced by retained manifests") {
    val (root, f) = mkStore(keep = 2)
    val store = f(root)
    (1 to 5).foreach(i => store.put("s", df("x INT", Seq(Row(i)))))
    val segs = new java.io.File(s"$root/s").listFiles()
      .filter(_.getName.startsWith("seg")).map(_.getName).toSeq
    assert(segs.size <= 2, s"expected <=2 retained segments, got $segs")
    assert(store("s").collect().map(_.getInt(0)).toSeq == Seq(5))
  }

  test("a fresh store instance recovers current state from the manifest") {
    val (root, f) = mkStore(smallBytes = 0) // force bucketed layout too
    val s1 = f(root)
    s1.put("s", df("x INT", Seq(Row(42))))
    s1.putKeyed("b", df("g STRING, c BIGINT",
      (0 until 20).map(i => Row(s"k$i", i.toLong))), Seq("g"))
    s1.setTag("k", "v1")
    val s2 = f(root) // new instance, same root — reads _current from disk
    assert(s2("s").collect().map(_.getInt(0)).toSeq == Seq(42))
    assert(s2.getTag("k").contains("v1"))
    // bucketed entry round-trips through the manifest, slices still prune
    assert(s2("b").count() == 20)
    val sl = s2.slice("b", df("g STRING", Seq(Row("k7"))), Seq("g")).collect()
    assert(sl.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("k7", 7L)))
    // and a merge through the recovered instance stays consistent
    s2.merge("b", df("g STRING, c BIGINT", Seq(Row("k7", 70L))), Seq("g"),
      col("c") > 0)
    assert(s2("b").where(col("g") === "k7").collect()
      .map(_.getLong(1)).toSeq == Seq(70L))
  }

  test("merge rewrites only touched buckets; untouched bucket dirs survive") {
    // smallBytes = 0 forces the bucketed layout regardless of state size
    val (root, f) = mkStore(buckets = 8, smallBytes = 0)
    val store = f(root)
    val rows = (0 until 64).map(i => Row(s"k$i", i.toLong))
    store.putKeyed("st", df("g STRING, __ivm_count BIGINT", rows), Seq("g"))

    def bucketDirs() = {
      val d = Paths.get(s"$root/st")
      Files.walk(d).filter(p => p.getFileName.toString.startsWith("__ivm_bucket="))
        .map[String](_.toString).sorted.toArray.toSeq
    }
    val before = bucketDirs()
    assert(before.nonEmpty)

    // touch exactly one key: k3 gets count 99, k1 dies
    val upd = df("g STRING, __ivm_count BIGINT", Seq(Row("k3", 99L), Row("k1", 0L)))
    store.merge("st", upd, Seq("g"), col("__ivm_count") > 0)

    val after = bucketDirs()
    val got = store("st").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got("k3") == 99L)
    assert(!got.contains("k1"))
    assert(got("k10") == 10L) // untouched key intact
    assert(got.size == 63)
    // at most 2 buckets were rewritten (k1, k3); the rest must be the
    // identical old paths
    val surviving = before.toSet.intersect(after.toSet)
    assert(surviving.size >= before.size - 2,
      s"merge rewrote too many buckets: before=$before after=$after")
  }

  test("slice prunes to touched buckets and filters null-safely") {
    val (root, f) = mkStore(buckets = 8, smallBytes = 0)
    val store = f(root)
    val rows = (0 until 32).map(i => Row(s"k$i", i.toLong)) :+ Row(null, 99L)
    store.putKeyed("st", df("g STRING, c BIGINT", rows), Seq("g"))
    val keyDf = df("g STRING", Seq(Row("k5"), Row(null)))
    val got = store.slice("st", keyDf, Seq("g")).collect()
      .map(r => (Option(r.getString(0)), r.getLong(1))).toSet
    assert(got == Set((Some("k5"), 5L), (None, 99L)))
  }

  test("transaction publishes state + tag atomically; abort publishes nothing") {
    val (root, f) = mkStore()
    val store = f(root)
    store.put("s", df("x INT", Seq(Row(1))))

    // abort: an exception inside the txn must leave everything unchanged
    intercept[RuntimeException] {
      store.transaction {
        store.put("s", df("x INT", Seq(Row(2))))
        store.setTag("batch", "7")
        throw new RuntimeException("boom")
      }
    }
    assert(store("s").collect().map(_.getInt(0)).toSeq == Seq(1))
    assert(store.getTag("batch").isEmpty)

    // commit: both visible after, and a reloaded instance agrees
    store.transaction {
      store.put("s", df("x INT", Seq(Row(3))))
      store.setTag("batch", "8")
      // read-your-writes inside the txn
      assert(store("s").collect().map(_.getInt(0)).toSeq == Seq(3))
    }
    assert(store("s").collect().map(_.getInt(0)).toSeq == Seq(3))
    assert(store.getTag("batch").contains("8"))
    val reloaded = f(root)
    assert(reloaded("s").collect().map(_.getInt(0)).toSeq == Seq(3))
    assert(reloaded.getTag("batch").contains("8"))
  }

  test("FULL OUTER view (two match-count states) refreshes on the bucketed store") {
    val (root, f) = mkStore(buckets = 4, smallBytes = 0)
    val store = f(root)
    val t = df("g STRING, v INT", Seq(Row("a", 1), Row("b", 2), Row(null, 3)))
    val u = df("g STRING, h INT", Seq(Row("a", 10), Row("c", 30)))
    val base: String => DataFrame = { case "t" => t; case "u" => u }
    val q = FullJoin(Project(Scan("t"), Seq(col("g"), col("v"))),
      Project(Scan("u"), Seq(col("g"), col("h"))), Seq("g"))
    Ivm.create("fv", q, base, store)
    // delete the only matching u row for a (left row re-enters anti) and
    // give c a t-side partner (right row leaves anti)
    val d = df(s"g STRING, h INT, ${IvmCore.MULT} BOOLEAN",
      Seq(Row("a", 10, false), Row("b", 20, true)))
    val deltas: String => Option[DataFrame] =
      nm => if (nm == "u") Some(d) else None
    Ivm.refreshState("fv", q, base, deltas, store)
    assertSameRows(Ivm.read("fv", q, store), Ivm.recompute(q, base, deltas))
  }

  test("a delta batch touching no base table of the view is a no-op") {
    val store = new MemStore
    val base: String => DataFrame = {
      case "t" => df("g STRING, v INT", Seq(Row("a", 1)))
    }
    val q = Aggregate(Scan("t"), Seq("g"), Seq(Sum(col("v"), "sum_v")))
    Ivm.create("nv", q, base, store)
    val dv = Ivm.refresh("nv", q, base, _ => None, store)
    assert(dv.isEmpty)
    assert(Ivm.read("nv", q, store).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("a", 1L)))
  }

  private def segDirs(root: String, name: String): Seq[String] =
    new java.io.File(s"$root/$name").listFiles()
      .filter(_.getName.startsWith("seg")).map(_.getName).sorted.toSeq

  test("LSM: merge appends an O(delta) overlay; tombstones kill + revive keys") {
    val (root, f) = mkStore(keep = 10, buckets = 2, smallBytes = 0, maxChain = 4)
    val store = f(root)
    val rows = (0 until 20).map(i => Row(s"k$i", i.toLong))
    store.putKeyed("st", df("g STRING, c BIGINT", rows), Seq("g"))
    assert(segDirs(root, "st").size == 1)

    // overlay 1: k3 updated, k5 dies
    store.merge("st", df("g STRING, c BIGINT", Seq(Row("k3", 100L), Row("k5", 0L))),
      Seq("g"), col("c") > 0)
    val segs = segDirs(root, "st")
    assert(segs.size == 2, s"expected overlay append, got $segs")
    // the new segment holds ONLY the two updated rows (tombstone included)
    val overlayRows = spark.read.parquet(s"$root/st/${segs.last}").count()
    assert(overlayRows == 2, s"overlay must be O(delta), held $overlayRows rows")
    val got1 = store("st").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got1("k3") == 100L && !got1.contains("k5") && got1.size == 19)

    // overlay 2: k3 updated again, k5 revives — latest segment must win
    store.merge("st", df("g STRING, c BIGINT", Seq(Row("k3", 101L), Row("k5", 55L))),
      Seq("g"), col("c") > 0)
    val got2 = store("st").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got2("k3") == 101L && got2("k5") == 55L && got2.size == 20)
    // slices resolve chains too
    val sl = store.slice("st", df("g STRING", Seq(Row("k3"), Row("k5"))), Seq("g"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(sl == Set(("k3", 101L), ("k5", 55L)))
  }

  test("LSM: chains compact at maxChain and stay correct after") {
    val (root, f) = mkStore(keep = 2, buckets = 1024, smallBytes = 0, maxChain = 3)
    val store = f(root)
    // one key → one bucket → every merge touches the same chain
    store.putKeyed("st", df("g STRING, c BIGINT", Seq(Row("a", 1L))), Seq("g"))
    val counts = (2 to 8).map { i =>
      store.merge("st", df("g STRING, c BIGINT", Seq(Row("a", i.toLong))),
        Seq("g"), col("c") > 0)
      val got = store("st").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == Seq(("a", i.toLong)), s"after merge $i: $got")
      // chain length bound: the live manifest never references more than
      // maxChain segments for the one touched bucket
      store.slice("st", df("g STRING", Seq(Row("a"))), Seq("g")).count()
    }
    assert(counts.forall(_ == 1))
    // segment files on disk stay bounded (pruning drops compacted chains)
    assert(segDirs(root, "st").size <= 3 + 2,
      s"unpruned segments: ${segDirs(root, "st")}")
  }

  test("LSM: overlay chains recover from the manifest; aux-style wider merge keys") {
    val (root, f) = mkStore(keep = 10, buckets = 2, smallBytes = 0, maxChain = 4)
    val s1 = f(root)
    // aux-state shape: merge keys (g, v), bucketed on g only
    val rows = Seq(Row("a", 1, 2L), Row("a", 5, 1L), Row("b", 7, 1L))
    s1.putKeyed("aux", df("g STRING, v INT, c BIGINT", rows), Seq("g"))
    s1.merge("aux", df("g STRING, v INT, c BIGINT",
      Seq(Row("a", 5, 0L), Row("a", 9, 3L))), Seq("g", "v"),
      col("c") > 0, bucketKeys = Seq("g"))
    val s2 = f(root) // fresh instance: chains + mergeKeys from the manifest
    val got = s2("aux").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == Set(("a", 1, 2L), ("a", 9, 3L), ("b", 7, 1L)))
    // group-sliced read across the chain (sliceKeys ⊂ mergeKeys)
    val sl = s2.slice("aux", df("g STRING", Seq(Row("a"))), Seq("g"))
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSet
    assert(sl == Set((1, 2L), (9, 3L)))
    // and the recovered instance can keep layering
    s2.merge("aux", df("g STRING, v INT, c BIGINT", Seq(Row("b", 7, 9L))),
      Seq("g", "v"), col("c") > 0, bucketKeys = Seq("g"))
    assert(s2("aux").where(col("g") === "b").collect()
      .map(_.getLong(2)).toSeq == Seq(9L))
  }

  test("LSM: minor compaction folds overlays without rewriting the base") {
    // base ≫ deltas, so when the chain hits maxChain the fold must take
    // the MINOR path: overlay tails + delta merge into one new overlay,
    // the base segments stay untouched on disk and under the manifest.
    val (root, f) = mkStore(keep = 2, buckets = 2, smallBytes = 0, maxChain = 3)
    val store = f(root)
    val rows = (0 until 20000).map(i => Row(s"k$i", i.toLong))
    store.putKeyed("st", df("g STRING, c BIGINT", rows), Seq("g"))
    val baseSegs = segDirs(root, "st")
    def mergeOne(rs: Seq[Row]): Unit =
      store.merge("st", df("g STRING, c BIGINT", rs), Seq("g"), col("c") >= 0)
    // two overlay appends fill the chain (kill k1; update k2)
    mergeOne(Seq(Row("k1", -1L), Row("k2", 222L)))
    mergeOne(Seq(Row("k3", 333L)))
    // third merge hits maxChain=3 → minor fold (re-kill check: k1 must
    // STAY dead, i.e. the folded overlay keeps its tombstone)
    mergeOne(Seq(Row("k4", 444L)))
    assert(baseSegs.forall(segDirs(root, "st").contains),
      s"minor fold rewrote/pruned a base segment: base=$baseSegs now=${segDirs(root, "st")}")
    val got = store("st").where(col("g").isin("k1", "k2", "k3", "k4"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("k2", 222L), ("k3", 333L), ("k4", 444L)))
    assert(store("st").count() == 19999) // 20000 - killed k1
    // keep cycling: overlays refill and fold again; a killed key revives
    mergeOne(Seq(Row("k1", 111L)))
    mergeOne(Seq(Row("k5", -5L)))
    mergeOne(Seq(Row("k6", 666L))) // second minor fold
    assert(baseSegs.forall(segDirs(root, "st").contains))
    val got2 = store("st").where(col("g").isin("k1", "k5", "k6"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got2 == Set(("k1", 111L), ("k6", 666L)))
    // a fresh instance recovers the layered chains from the manifest
    val s2 = f(root)
    assert(s2("st").count() == 19999) // +k1 revived, -k5 killed
  }

  test("aux sharing: same tracked expression → ONE multiset; different → own") {
    // MIN+MAX+COUNT(DISTINCT) of v share the v-multiset (owner = first
    // spec, min_v); MIN of h tracks a different expression and must get
    // its OWN state — over-sharing would corrupt both read-outs.
    val (root, f) = mkStore(smallBytes = 0)
    val store = f(root)
    val base: String => DataFrame = {
      case "t" => df("g STRING, v INT, h INT",
        Seq(Row("a", 1, 9), Row("a", 5, 2), Row("b", 3, 3)))
    }
    val q = Aggregate(Scan("t"), Seq("g"),
      Seq(Min(col("v"), "min_v"), Max(col("v"), "max_v"),
        CountDistinct(col("v"), "nd_v"), Min(col("h"), "min_h"),
        CountStar("cnt")))
    Ivm.create("shx", q, base, store)
    def walk(f: java.io.File): Seq[String] =
      if (!f.isDirectory) Seq.empty
      else f.getName +: Option(f.listFiles).toSeq.flatten.flatMap(walk)
    val auxDirs = walk(new java.io.File(root))
      .filter(n => n.contains(".aux.") && !n.startsWith("seg"))
      .distinct.sorted
    assert(auxDirs.exists(_.endsWith(".aux.min_v")) &&
      auxDirs.exists(_.endsWith(".aux.min_h")) && auxDirs.size == 2,
      s"expected exactly the two owner aux states, got: $auxDirs")
    // and the shared state serves all four read-outs through a delta
    // that kills v's min AND h's min in group a
    val d = df(s"g STRING, v INT, h INT, ${IvmCore.MULT} BOOLEAN",
      Seq(Row("a", 1, 9, false), Row("a", 5, 2, false), Row("a", 7, 8, true)))
    Ivm.refreshState("shx", q, base,
      nm => if (nm == "t") Some(d) else None, store)
    val got = Ivm.read("shx", q, store).collect().map(r =>
      (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getInt(4), r.getLong(5))).toSet
    assert(got == Set(("a", 7, 7, 1L, 8, 1L), ("b", 3, 3, 1L, 3, 1L)))
  }

  test("MIN/MAX view with aux state refreshes correctly on the bucketed store") {
    val (root, f) = mkStore(buckets = 4, smallBytes = 0)
    val store = f(root)
    val base: String => DataFrame = {
      case "t" => df("g STRING, v INT",
        Seq(Row("a", 1), Row("a", 5), Row("b", 10), Row(null, 3)))
    }
    val q = Aggregate(Scan("t"), Seq("g"),
      Seq(Min(col("v"), "min_v"), Max(col("v"), "max_v"), CountStar("cnt")))
    Ivm.create("mv", q, base, store)
    // delete the current max of a → falls back to 1; null group gains a row
    val d = df(s"g STRING, v INT, ${IvmCore.MULT} BOOLEAN",
      Seq(Row("a", 5, false), Row(null, 8, true)))
    Ivm.refreshState("mv", q, base, t => if (t == "t") Some(d) else None, store)
    val got = Ivm.read("mv", q, store).collect()
      .map(r => (Option(r.getString(0)), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    assert(got == Set(
      (Some("a"), 1, 1, 1L), (Some("b"), 10, 10, 1L), (None, 3, 8, 2L)))
  }

  test("Ivm.drop removes a view's states and tags; other views and asOf survive") {
    val (root, f) = mkStore(keep = 4, buckets = 4, smallBytes = 0)
    val store = f(root)
    val base: String => DataFrame = {
      case "t" => df("g STRING, v INT", Seq(Row("a", 1), Row("b", 2)))
    }
    val q = Aggregate(Scan("t"), Seq("g"),
      Seq(Sum(col("v"), "sv"), CountStar("cnt")))
    Ivm.create("keepme", q, base, store)
    Ivm.create("dropme", q, base, store, deltaTables = Set("t"))
    store.setTag("dropme/_last_batch/t", "7")
    val vBefore = store.currentVersion
    Ivm.drop("dropme", store)
    // gone from current: state read fails, tags cleared
    intercept[IllegalStateException] { Ivm.read("dropme", q, store).collect() }
    assert(store.getTag("dropme/_delta_tables").isEmpty)
    assert(store.getTag("dropme/_last_batch/t").isEmpty)
    // the sibling view is untouched and still refreshes
    val d = df(s"g STRING, v INT, ${IvmCore.MULT} BOOLEAN",
      Seq(Row("a", 10, true)))
    Ivm.refreshState("keepme", q, base, t => if (t == "t") Some(d) else None, store)
    val got = Ivm.read("keepme", q, store).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("a", 11L, 2L), ("b", 2L, 1L)))
    // time travel inside the retention window still serves the dropped view
    assert(Ivm.read("dropme", q, store.asOf(vBefore)).count() == 2)
  }

  /** A file-source frame: Catalyst sizes it by its bytes on disk (a
    * parallelized frame has no size estimate; a local one folds). */
  private def pqFrame(schemaDDL: String, rows: Seq[Row]): DataFrame = {
    val dir = Files.createTempDirectory("ivm-pq-src").toString
    df(schemaDDL, rows).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def hasBucketDirs(root: String, name: String): Boolean =
    Files.walk(Paths.get(s"$root/$name"))
      .anyMatch(_.getFileName.toString.startsWith("__ivm_bucket="))

  test("a small first write is driver-resident; the next merge stays on the driver") {
    val (root, f) = mkStore() // default smallStateBytes
    val store = f(root)
    val rows = (0 until 64).map(i => Row(s"k$i", i.toLong))
    store.putKeyed("st", pqFrame("g STRING, __ivm_count BIGINT", rows), Seq("g"))
    store.put("p", pqFrame("x INT", Seq(Row(1), Row(2))))
    assert(IvmCore.localLeaf(store("st")).isDefined,
      "estimated-small first putKeyed is not driver-resident")
    assert(IvmCore.localLeaf(store("p")).isDefined,
      "estimated-small first put is not driver-resident")
    assert(!hasBucketDirs(root, "st"))
    store.merge("st", df("g STRING, __ivm_count BIGINT",
      Seq(Row("k3", 99L), Row("k1", 0L))), Seq("g"), col("__ivm_count") > 0)
    assert(!hasBucketDirs(root, "st"), "merge wrote bucket dirs")
    assert(IvmCore.localLeaf(store("st")).isDefined)
    // every segment is one driver-written file, never a Spark write job's
    segDirs(root, "st").foreach { seg =>
      assert(new java.io.File(s"$root/st/$seg").list().toSeq
        .filterNot(_.startsWith(".")) == Seq("part-00000-graft.parquet"),
        s"segment $seg")
    }
    val got = store("st").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got("k3") == 99L && !got.contains("k1") && got.size == 63)
    // the driver-resident rows are the written segment's rows
    val reopened = f(root)
    assertSameRows(reopened("st"), store("st"))
    assertSameRows(reopened("p"), store("p"))
  }

  test("with smallStateBytes = 0 a first write stays bucketed") {
    val (root, f) = mkStore(smallBytes = 0)
    val store = f(root)
    val rows = (0 until 64).map(i => Row(s"k$i", i.toLong))
    store.putKeyed("st", pqFrame("g STRING, c BIGINT", rows), Seq("g"))
    store.put("p", pqFrame("x INT", Seq(Row(1), Row(2))))
    assert(hasBucketDirs(root, "st"), "first putKeyed not bucketed")
    assert(IvmCore.localLeaf(store("st")).isEmpty)
    assert(IvmCore.localLeaf(store("p")).isEmpty)
    assert(store("st").count() == 64)
  }

  test("a first write over the driver row cap lands distributed and bucketed") {
    val (root, f) = mkStore()
    val store = f(root)
    val n = 300000L // over the 2^18-row cap of the driver-direct write
    val plain = spark.range(n).toDF("v")
    val keyed = plain.select((col("v") % 977).as("g"), col("v"))
    // a known row count over the cap skips the driver collect outright
    val counted = spark.range(n).toDF()
    assert(counted.queryExecution.optimizedPlan.stats.rowCount.contains(n))
    // a parquet frame is sized by its bytes and has no row count, so it is
    // estimated small: the driver collect runs past the cap, and the
    // distributed write computes the frame again
    val src = Files.createTempDirectory("ivm-pq-big").toString
    plain.write.mode("overwrite").parquet(src)
    val pqKeyed = spark.read.parquet(src).select((col("v") % 977).as("g"), col("v"))
    val pqPlain = spark.read.parquet(src)
    Seq(keyed, plain, counted, pqKeyed, pqPlain).foreach { d =>
      assert(d.queryExecution.optimizedPlan.stats.sizeInBytes < (64L << 20),
        "frame is not estimated small by size")
    }
    assert(pqPlain.queryExecution.optimizedPlan.stats.rowCount.isEmpty)
    store.putKeyed("k", keyed, Seq("g"))
    store.put("p", plain)
    store.put("c", counted)
    store.putKeyed("qk", pqKeyed, Seq("g"))
    store.put("qp", pqPlain)
    assert(hasBucketDirs(root, "k") && hasBucketDirs(root, "qk"),
      "an over-cap keyed first write is not bucketed")
    Seq("k" -> keyed, "p" -> plain, "c" -> counted, "qk" -> keyed,
        "qp" -> plain).foreach {
      case (nm, want) =>
        assert(IvmCore.localLeaf(store(nm)).isEmpty, s"$nm is driver-resident")
        val got = store(nm)
        assert(got.count() == n)
        assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
          s"$nm does not read back exactly")
    }
  }

  test("small writes over a base dir whose files change read the current files") {
    val (root, f) = mkStore()
    val store = f(root)
    val dir = Files.createTempDirectory("ivm-pq-grow").toString
    // driver-direct writes run through the plan-template cache: a plan
    // compiled over one listing of `dir` must not serve a later listing
    (1 to 4).foreach { i =>
      df("x INT", Seq(Row(i))).write.mode("append").parquet(dir)
      val frame = spark.read.parquet(dir).groupBy().agg(sum(col("x")).as("s"))
      store.put(s"s$i", frame) // a first write
      store.put("same", frame) // a rewrite of a known-small state
      Seq(s"s$i", "same").foreach { nm =>
        assert(store(nm).collect().head.getLong(0) == (1 to i).sum,
          s"write $i of $nm read a stale file listing")
      }
    }
  }
}
