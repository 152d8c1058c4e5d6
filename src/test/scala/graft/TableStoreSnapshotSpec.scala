package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, hash, lit, pmod}
import graft.operators.{BucketSpec, IndexTier, TableStore, VersionConflictException}
import graft.streaming.CdcStream

/** Round-6 concurrency hardening (ADVICE r5): CAS anchored at READ time,
  * prune retaining one superseded version, staging-dir cleanup on write
  * failure plus age-gated sweep, and conflict-retry treating a pruned-file
  * read as the version conflict it really is. */
class TableStoreSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def oneRow(tag: String) = Seq((1, tag)).toDF("id", "payload")

  private def versionDirs(root: String, table: String): Seq[String] = {
    val dir = Paths.get(root, table)
    val s = Files.list(dir)
    try {
      val b = Seq.newBuilder[String]
      s.iterator().forEachRemaining { p =>
        val n = p.getFileName.toString
        if (n.startsWith("v") && n.drop(1).forall(_.isDigit)) b += n
      }
      b.result().sorted
    } finally s.close()
  }

  private def stagingDirs(root: String, table: String): Seq[String] = {
    val dir = Paths.get(root, table)
    if (!Files.exists(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try {
        val b = Seq.newBuilder[String]
        s.iterator().forEachRemaining { p =>
          val n = p.getFileName.toString
          if (n.startsWith(".staging-")) b += n
        }
        b.result()
      } finally s.close()
    }
  }

  test("commit landing between snapshot and write conflicts instead of last-writer-wins") {
    val root = tmpDir("snap-cas")
    val store = new TableStore(root)
    store.write(oneRow("base"), "t")

    // reader takes its snapshot…
    val (snap, readVersion) = store.snapshot(spark, "t")
    val derived = snap.withColumn("payload", org.apache.spark.sql.functions.lit("derived"))

    // …a concurrent writer commits in the read→write window…
    store.write(oneRow("interloper"), "t")

    // …so the read-modify-writer's commit MUST refuse (the old write()
    // resolved `expected` at write time and silently dropped "interloper")
    intercept[VersionConflictException] {
      store.write(derived, "t", Some(readVersion))
    }
    assert(store.read(spark, "t").collect().toSeq === Seq(Row(1, "interloper")))
  }

  test("prune retains exactly one superseded version behind the head") {
    val root = tmpDir("prune-grace")
    val store = new TableStore(root)
    store.write(oneRow("a"), "t")
    assert(versionDirs(root, "t") === Seq("v1"))
    store.write(oneRow("b"), "t")
    assert(versionDirs(root, "t") === Seq("v1", "v2")) // v1 survives one commit
    store.write(oneRow("c"), "t")
    assert(versionDirs(root, "t") === Seq("v2", "v3")) // …and only one
    // the retained version is a real readable snapshot, not debris
    val prev = spark.read.parquet(Paths.get(root, "t", "v2").toString)
    assert(prev.collect().toSeq === Seq(Row(1, "b")))
  }

  test("a failing staging write leaves no orphaned .staging-* dir") {
    val root = tmpDir("staging-clean")
    val store = new TableStore(root)
    store.write(oneRow("ok"), "t")
    val boom = spark.range(4).as[Long]
      .map(i => if (i >= 0) throw new RuntimeException("boom") else i)
      .toDF("id")
    intercept[Exception] { store.write(boom, "t") }
    assert(stagingDirs(root, "t").isEmpty,
      "failed write must clean its staging dir")
    // table untouched by the failure
    assert(store.read(spark, "t").collect().toSeq === Seq(Row(1, "ok")))
  }

  test("prune sweeps age-stale staging dirs from crashed writers") {
    val root = tmpDir("staging-sweep")
    val store = new TableStore(root)
    store.write(oneRow("a"), "t")
    // simulate a crashed writer's leftover: an old staging dir
    val stale = Paths.get(root, "t", ".staging-deadbeef")
    Files.createDirectories(stale)
    Files.write(stale.resolve("part-00000"), Array[Byte](1, 2, 3))
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - TableStore.StaleStagingMs - 60000)
    Files.setLastModifiedTime(stale, old)
    // a fresh one must NOT be swept (could be a live concurrent writer)
    val fresh = Paths.get(root, "t", ".staging-cafebabe")
    Files.createDirectories(fresh)
    store.write(oneRow("b"), "t") // commit triggers prune
    assert(!Files.exists(stale), "stale staging dir should be swept at commit")
    assert(Files.exists(fresh), "fresh staging dir must survive the sweep")
  }

  test("dead-owner lock is broken only after the grace period, atomically") {
    val root = tmpDir("lock-break")
    val store = new TableStore(root)
    store.write(oneRow("a"), "t")
    // plant a lock owned by a pid that cannot exist, aged past the grace
    val lock = Paths.get(root, "t", "_commit.lock")
    Files.write(lock, "99999999".getBytes("UTF-8"))
    Files.setLastModifiedTime(lock, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - TableStore.LockBreakGraceMs - 5000))
    // the next commit must break the stale lock and proceed
    store.write(oneRow("b"), "t")
    assert(store.read(spark, "t").collect().toSeq === Seq(Row(1, "b")))
    assert(!Files.exists(lock), "lock released after commit")
  }

  test("withConflictRetry treats a pruned-file FileNotFound as retryable") {
    var calls = 0
    val out = CdcStream.withConflictRetry(maxAttempts = 3) {
      calls += 1
      if (calls == 1)
        throw new RuntimeException("job aborted",
          new java.io.FileNotFoundException("v1/part-00000 no longer exists"))
      "recovered"
    }
    assert(out === "recovered")
    assert(calls === 2)
    // but an unrelated failure still propagates untouched
    intercept[IllegalArgumentException] {
      CdcStream.withConflictRetry(maxAttempts = 3) {
        throw new IllegalArgumentException("not a conflict")
      }
    }
  }

  test("snapshot pins the version: reads keep working after a concurrent commit") {
    val root = tmpDir("snap-pin")
    val store = new TableStore(root)
    store.write(oneRow("first"), "t")
    val (snap, v) = store.snapshot(spark, "t")
    assert(v === 1)
    store.write(oneRow("second"), "t") // v1 retained by prune grace
    // the snapshot still reads ITS version's rows, not the new head
    assert(snap.collect().toSeq === Seq(Row(1, "first")))
    assert(store.read(spark, "t").collect().toSeq === Seq(Row(1, "second")))
  }

  // ---- r11 overlay primitives: snapshotAt + rollbackTo (the recovery
  // pair CorpusProfile's manifest-pinned commits are built on)

  test("snapshotAt reads the pinned version; pruned/uncommitted versions refuse") {
    val root = tmpDir("snap-at")
    val store = new TableStore(root)
    store.write(oneRow("v1"), "t")
    store.write(oneRow("v2"), "t")
    assert(store.snapshotAt(spark, "t", 1).collect().toSeq === Seq(Row(1, "v1")))
    assert(store.snapshotAt(spark, "t", 2).collect().toSeq === Seq(Row(1, "v2")))
    intercept[IllegalStateException] { store.snapshotAt(spark, "t", 7) }
    store.write(oneRow("v3"), "t") // prune drops v1
    intercept[IllegalStateException] { store.snapshotAt(spark, "t", 1) }
  }

  test("rollbackTo discards orphan successors and the next commit reuses their slot") {
    val root = tmpDir("rollback")
    val store = new TableStore(root)
    store.write(oneRow("pinned"), "t")
    store.write(oneRow("orphan"), "t") // a crashed writer's unreferenced v2
    assert(store.currentVersion("t") === Some(2))
    store.rollbackTo("t", 1)
    assert(store.currentVersion("t") === Some(1))
    assert(store.read(spark, "t").collect().toSeq === Seq(Row(1, "pinned")))
    assert(versionDirs(root, "t") === Seq("v1"), "orphan dirs swept")
    // the refold commits v2 again, CAS-anchored at the restored head
    val v = store.write(oneRow("refolded"), "t", Some(1))
    assert(v === 2)
    assert(store.read(spark, "t").collect().toSeq === Seq(Row(1, "refolded")))
  }

  test("rollbackTo is a no-op at the current version and refuses forward/pruned targets") {
    val root = tmpDir("rollback-edges")
    val store = new TableStore(root)
    store.write(oneRow("a"), "t")
    store.rollbackTo("t", 1) // no-op
    assert(store.currentVersion("t") === Some(1))
    intercept[IllegalArgumentException] { store.rollbackTo("t", 5) } // forward
    store.write(oneRow("b"), "t")
    store.write(oneRow("c"), "t") // v1 pruned
    intercept[IllegalStateException] { store.rollbackTo("t", 1) }
  }

  // ---- appendRows: the O(batch) linked commit (r12) ----

  test("appendRows writes only the batch; stored files carry as links; CAS holds") {
    val root = tmpDir("tstore-append")
    val store = new TableStore(root)
    val v1 = store.write((1 to 100).map(i => (i, s"p$i")).toDF("id", "payload"), "t")
    val v2 = store.appendRows(
      (101 to 120).map(i => (i, s"p$i")).toDF("id", "payload"), "t", v1)
    assert(v2 === v1 + 1)
    val read = store.read(spark, "t")
    assert(read.count() === 120)
    assert(read.select("id").distinct().count() === 120,
      "linked old parts + new parts must union without duplication")
    // stale CAS anchor: a concurrent writer moved the table first
    intercept[VersionConflictException] {
      store.appendRows(oneRow("x"), "t", v1)
    }
    // an EMPTY append still commits a valid, complete next version
    val v3 = store.appendRows(
      Seq.empty[(Int, String)].toDF("id", "payload"), "t", v2)
    assert(store.read(spark, "t").count() === 120)
    assert(v3 === v2 + 1)
  }

  test("appendOrCompact folds a compacting rewrite in once file counts creep") {
    val root = tmpDir("tstore-compact")
    val store = new TableStore(root)
    var v = store.write(oneRow("seed").repartition(2), "t")
    // repeated O(batch) appends grow the part-file count monotonically...
    for (i <- 1 to 6) {
      val fresh = Seq((100 + i, s"f$i")).toDF("id", "payload").repartition(2)
      val (stored, cur) = store.snapshot(spark, "t")
      assert(cur === v)
      v = graft.operators.OverlayLock.appendOrCompact(
        store, "t", v, stored, fresh, maxFiles = 8, targetFiles = 2)
    }
    // ...until the bound trips and one append rewrites to targetFiles
    assert(store.fileCount("t") <= 8 + 2,
      s"file count must be bounded by the compaction fold, got ${store.fileCount("t")}")
    val rows = store.read(spark, "t").count()
    assert(rows === 7, "compaction must preserve every appended row exactly once")
  }

  test("a reader pinned at v1 prunes with v1's bucket layout across a rebucket") {
    // v1 holds 200 keys in 4 buckets; v2 rebuckets them to 8. A reader
    // pinned at v1 must probe and prune with v1's layout: under v2's,
    // half the keys hash to buckets v1 never wrote and vanish
    val store = new TableStore(tmpDir("spec-at"))
    val rows = (0 until 200).map(i => (i, s"p$i")).toDF("id", "payload")
    store.writeBucketed(rows, "t", BucketSpec(4, Seq("id")))
    store.writeBucketed(rows, "t", BucketSpec(8, Seq("id")))
    // point reads, batched: keys grouped by their bucket in the CURRENT layout
    val found = (0 until 8).flatMap { g =>
      val keys = rows.select(col("id")).filter(pmod(hash(col("id")), lit(8)) === g)
      IndexTier.prunedAt(spark, store, "t", 1,
        IndexTier.touchedBuckets(store, "t", 1, keys))
        .join(keys, Seq("id"), "left_semi").select(col("id")).as[Int].collect().toSeq
    }
    assert(found.sorted === (0 until 200))
  }
}
