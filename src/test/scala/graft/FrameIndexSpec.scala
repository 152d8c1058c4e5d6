package graft

import org.apache.spark.sql.functions._

import graft.operators.{CacheScope, Dedup, FrameIndex, TableStore}
import graft.streaming.AdmissionStream

/** The managed FRAME-signature store (VERDICT r15 #2): the video
  * admission loop run managed — build / append / remove / screen under
  * manifest discipline with BOTH budgets (per-frame hamming, per-video
  * containment) pinned, the exactly-once streamed admission gate, and
  * canonicity — screening from committed state must equal the ad-hoc
  * [[Dedup.videoContainmentAgainst]] over the same frames with the
  * persisted budgets. */
class FrameIndexSpec extends SparkSpec {

  /** Deterministic well-separated per-frame signatures: distinct high
    * bits per (group, frame), low bits for within-frame perturbation —
    * cross-(group, frame) hammings sit near 32, far over any budget. */
  private def sig(group: Int, frame: Int, perturb: Int = 0): Long =
    (0x9E3779B97F4A7C15L * (group * 31 + frame * 7 + 1)) & ~0x3FL |
      (perturb.toLong & 0x3FL)

  private def frameDf(rows: Seq[(Long, Int, Long)]) = {
    val s = spark; import s.implicits._
    rows.toDF("id", "frame", "sig")
  }

  /** A 4-frame video per group, id = group * 10. */
  private def video(g: Int, id: Long = -1L, perturb: Int = 0) =
    (0 until 4).map(f =>
      (if (id >= 0) id else g * 10L, f, sig(g, f, perturb)))

  private def stored(n: Int) = frameDf((0 until n).flatMap(video(_)))

  test("screen from committed state ≡ ad-hoc videoContainmentAgainst with the stored budgets") {
    val store = new TableStore(tmpDir("frame-canon"))
    FrameIndex.build(stored(20), maxHamming = 6, minContainment = 0.99,
      store, "vid")
    assert(FrameIndex.maxHamming(store, "vid") === 6)
    assert(FrameIndex.minContainment(store, "vid") === 0.99)
    // arrivals: a perturbed FULL copy of video 2 (4/4 frames within
    // budget -> contained), a 2-frame CLIP cut from video 3 (2/2 ->
    // contained), a PARTIAL overlap (2 frames of video 4 + 2 novel ->
    // 0.5, admits), and a fully novel video
    val batch = frameDf(
      video(2, id = 900L, perturb = 3) ++
        Seq((901L, 0, sig(3, 1, 1)), (901L, 1, sig(3, 2, 2))) ++
        (Seq((902L, 0, sig(4, 0, 1)), (902L, 1, sig(4, 1, 1)),
          (902L, 2, sig(70, 0)), (902L, 3, sig(70, 1)))) ++
        video(80, id = 903L))
    implicit val scope: CacheScope = new CacheScope
    try {
      val served = FrameIndex.screen(spark, batch, store, "vid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val adhoc = Dedup.videoContainmentAgainst(
          batch, FrameIndex.frames(spark, store, "vid"),
          maxHamming = 6, minContainment = 0.99)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(served === adhoc)
      assert(served === Set((900L, 20L), (901L, 30L)),
        "full copy and cut clip are contained; partial overlap and novel admit")
    } finally scope.release()
  }

  test("a manifest without band_v is refused, naming build, before any Spark job") {
    val store = new TableStore(tmpDir("frame-no-band"))
    store.commitFile("vid_manifest", "manifest.json",
      ("{\"frames_v\":1,\"max_hamming\":6,\"min_containment\":0.99," +
        "\"last_batch_id\":-1}").getBytes("UTF-8"), None)
    implicit val scope: CacheScope = new CacheScope
    val (_, jobs) = jobsRunBy("frame-no-band") {
      for (call <- Seq(
          () => FrameIndex.screen(spark, frameDf(video(1)), store, "vid"),
          () => FrameIndex.frames(spark, store, "vid"))) {
        val e = intercept[IllegalStateException](call())
        assert(e.getMessage.contains("build"), e.getMessage)
      }
    }
    scope.release()
    assert(jobs === 0)
  }

  test("append is insert-only by VIDEO id; in-batch duplicate (id, frame) folds once") {
    val store = new TableStore(tmpDir("frame-append"))
    FrameIndex.build(stored(10), maxHamming = 6, minContainment = 0.99,
      store, "vid")
    // a re-sent stored id with DIFFERENT frames must be a no-op whole;
    // a new id carrying frame 0 twice keeps the smallest sig
    FrameIndex.append(spark, frameDf(
      video(99, id = 0L) ++
        Seq((500L, 0, 7L), (500L, 0, 3L), (500L, 1, sig(60, 1)))),
      store, "vid")
    val rows = FrameIndex.frames(spark, store, "vid")
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2))).toMap
    assert(rows.count(_._1._1 == 0L) === 4, "stored video keeps its frame set")
    assert(rows((0L, 0)) === sig(0, 0), "insert-only: stored frames unchanged")
    assert(rows((500L, 0)) === 3L, "duplicate in-batch frame folds to the smallest sig")
    assert(rows.count(_._1._1 == 500L) === 2)
  }

  test("remove forgets ALL frames of an id: a clip of a removed video admits again") {
    val store = new TableStore(tmpDir("frame-remove"))
    FrameIndex.build(stored(10), maxHamming = 6, minContainment = 0.99,
      store, "vid")
    val clip = frameDf(Seq((900L, 0, sig(2, 0, 1)), (900L, 1, sig(2, 1, 1))))
    implicit val scope: CacheScope = new CacheScope
    try {
      assert(FrameIndex.screen(spark, clip, store, "vid").count() === 1,
        "clip cut from stored video 2 is caught")
      val s = spark; import s.implicits._
      assert(FrameIndex.remove(spark, Seq(20L).toDF("id"), store, "vid") === 1L)
      assert(FrameIndex.frames(spark, store, "vid")
        .filter(col("id") === 20L).count() === 0, "every frame of the id is gone")
      assert(FrameIndex.screen(spark, clip, store, "vid").count() === 0,
        "after takedown the screen's memory genuinely forgets")
    } finally scope.release()
  }

  test("admission gate: replay refused; crash mid-fold invisible; redelivery folds once") {
    val store = new CrashStore(tmpDir("frame-adm"))
    FrameIndex.build(stored(10), maxHamming = 6, minContainment = 0.99,
      store, "vid")
    val b0 = frameDf(video(50, id = 200L) ++ video(51, id = 210L))
    assert(FrameIndex.admitBatch(spark, b0, 0L, store, "vid"), "first batch folds")
    assert(!FrameIndex.admitBatch(spark, b0, 0L, store, "vid"), "replay refused")
    assert(FrameIndex.frames(spark, store, "vid").count() === 48)
    // a drain's admissions now land in the DELTA memtable (one plain
    // linked append) — inject the crash on IT and verify the manifest gate
    val b1 = frameDf(video(52, id = 220L))
    store.failTable = Some("vid_delta")
    intercept[RuntimeException] {
      FrameIndex.admitBatch(spark, b1, 1L, store, "vid")
    }
    store.failTable = None
    assert(FrameIndex.frames(spark, store, "vid").count() === 48,
      "crashed fold is invisible (manifest-pinned read ignores the orphan)")
    assert(FrameIndex.admitBatch(spark, b1, 1L, store, "vid"),
      "redelivered batch folds exactly once")
    assert(FrameIndex.frames(spark, store, "vid").count() === 52)
  }

  test("admitNovelBatch: containment screen with EVOLVING state; replay refused") {
    val store = new TableStore(tmpDir("frame-novel"))
    FrameIndex.build(stored(5), maxHamming = 6, minContainment = 0.99,
      store, "vid")
    // drain 0: a clip cut from seed video 2 (rejected) + a novel video
    assert(FrameIndex.admitNovelBatch(spark, frameDf(
      Seq((900L, 0, sig(2, 0, 1)), (900L, 1, sig(2, 1, 1))) ++
        video(60, id = 901L)), 0L, store, "vid"))
    val ids0 = FrameIndex.frames(spark, store, "vid")
      .select(col("id")).distinct().collect().map(_.getLong(0)).toSet
    assert(ids0 === (0 until 5).map(_ * 10L).toSet + 901L,
      "the seed clip is screened out; the novel video admits")
    // drain 1: a re-encode (perturbed full copy) of drain 0's admission
    // — rejected BY that admission, the evolving-state property — plus
    // a partial overlap of it (2 shared + 2 novel frames), which admits
    assert(FrameIndex.admitNovelBatch(spark, frameDf(
      video(60, id = 910L, perturb = 2) ++
        Seq((911L, 0, sig(60, 0, 3)), (911L, 1, sig(60, 1, 3)),
          (911L, 2, sig(75, 0)), (911L, 3, sig(75, 1)))), 1L, store, "vid"))
    val ids1 = FrameIndex.frames(spark, store, "vid")
      .select(col("id")).distinct().collect().map(_.getLong(0)).toSet
    assert(!ids1.contains(910L),
      "a copy of an EARLIER DRAIN's admission is rejected by that admission")
    assert(ids1.contains(911L), "partial overlap admits — new content never blocked")
    // replayed batchId: refused without touching state
    assert(!FrameIndex.admitNovelBatch(spark,
      frameDf(video(90, id = 990L)), 1L, store, "vid"))
    assert(FrameIndex.frames(spark, store, "vid")
      .select(col("id")).distinct().collect().map(_.getLong(0)).toSet === ids1)
  }

  test("streamed screen-then-admit drains ≡ the same folds as batch calls") {
    val s = spark; import s.implicits._
    val root = tmpDir("frame-stream")
    val store = new TableStore(s"$root/idx")
    FrameIndex.build(stored(5), maxHamming = 6, minContainment = 0.99,
      store, "vid")
    // three staged drains: novel / clip-of-drain-1-admission / novel
    val drains = Seq(
      frameDf(video(61, id = 300L)),
      frameDf(Seq((310L, 0, sig(61, 0, 1)), (310L, 1, sig(61, 1, 1))) ++
        video(62, id = 311L)),
      frameDf(video(63, id = 320L)))
    SparkEntry.stageDrains(root, drains)
    val stageDir = java.nio.file.Paths.get(root, "stage")
    val schema = spark.read.parquet(stageDir.toString).schema
    AdmissionStream.drain(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(stageDir.toString),
      s"$root/chk") { (b, id) =>
      FrameIndex.admitNovelBatch(b.sparkSession, b, id, store, "vid")
    }.awaitTermination()
    val got = FrameIndex.frames(spark, store, "vid")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val clean = new TableStore(tmpDir("frame-stream-clean"))
    FrameIndex.build(stored(5), maxHamming = 6, minContainment = 0.99,
      clean, "vid")
    drains.zipWithIndex.foreach { case (d, k) =>
      FrameIndex.admitNovelBatch(spark, d, k.toLong, clean, "vid") }
    val want = FrameIndex.frames(spark, clean, "vid")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got === want, "drained state ≡ the same screen-then-admit folds")
    assert(!got.exists(_._1 == 310L), "the clip of drain 1's admission was rejected")
  }

  /** A 2-frame CLIP of group g's video (frames 0–1, the cut). */
  private def clip(g: Int, id: Long, perturb: Int = 0) =
    (0 until 2).map(f => (id, f, sig(g, f, perturb)))

  test("supersede: the full cut replaces the stored clip; mutual containment keeps the incumbent; partial overlap admits without retiring") {
    val store = new TableStore(tmpDir("frame-sup"))
    // stored: CLIPS of groups 2 and 5, FULL videos of groups 3 and 4
    FrameIndex.build(frameDf(
      clip(2, id = 20L) ++ clip(5, id = 50L) ++ video(3) ++ video(4)),
      maxHamming = 6, minContainment = 0.99, store, "vid")
    assert(FrameIndex.admitSupersedeBatch(spark, frameDf(
      video(2, id = 900L) ++                    // full cut of stored clip 20
        video(3, id = 901L, perturb = 2) ++     // re-encode of stored full 30
        (Seq((902L, 0, sig(4, 0, 1)), (902L, 1, sig(4, 1, 1)),
          (902L, 2, sig(70, 0)), (902L, 3, sig(70, 1)))) ++ // partial overlap of 40
        video(80, id = 903L)),                  // novel
      0L, store, "vid"))
    val ids = FrameIndex.frames(spark, store, "vid")
      .select(col("id")).distinct().collect().map(_.getLong(0)).toSet
    assert(!ids.contains(20L), "the subsumed clip retires")
    assert(ids.contains(900L), "its full cut admits in the same swap")
    assert(ids.contains(30L) && !ids.contains(901L),
      "mutual containment (a re-encode) keeps the incumbent — the arrival rejects")
    assert(ids.contains(40L) && ids.contains(902L),
      "partial overlap admits WITHOUT retiring — shared intros are not subsumption")
    assert(ids.contains(903L), "novel admits")
    assert(ids.contains(50L), "an unmatched stored clip is untouched")
    // canonicity: a fresh clip of group 2 still screens as contained —
    // now BY the superseding full video, not the retired clip
    implicit val scope: CacheScope = new CacheScope
    try {
      val hits = FrameIndex.screen(spark,
        frameDf(Seq((990L, 0, sig(2, 0, 3)), (990L, 1, sig(2, 1, 3)))),
        store, "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits === Set((990L, 900L)),
        "the screen serves the superseding video and has forgotten the clip")
    } finally scope.release()
  }

  test("supersede: evolving state across gated drains; replay refused; a rejected arrival never retires") {
    val store = new TableStore(tmpDir("frame-sup-evolve"))
    FrameIndex.build(frameDf(clip(6, id = 60L)),
      maxHamming = 6, minContainment = 0.99, store, "vid")
    // drain 0: the full cut supersedes the seed clip
    assert(FrameIndex.admitSupersedeBatch(spark,
      frameDf(video(6, id = 600L)), 0L, store, "vid"))
    // drain 1: a clip of drain 0's ADMISSION rejects (evolved state) and
    // — though it is itself subsumed by 600 — retires nothing, because
    // rejection precedes retirement
    assert(FrameIndex.admitSupersedeBatch(spark,
      frameDf(clip(6, id = 610L, perturb = 1)), 1L, store, "vid"))
    val ids = FrameIndex.frames(spark, store, "vid")
      .select(col("id")).distinct().collect().map(_.getLong(0)).toSet
    assert(ids === Set(600L), "seed clip retired; rejected clip admitted nothing")
    // replayed batchId: refused without touching state
    assert(!FrameIndex.admitSupersedeBatch(spark,
      frameDf(video(90, id = 990L)), 1L, store, "vid"))
    assert(FrameIndex.frames(spark, store, "vid")
      .select(col("id")).distinct().count() === 1)
    // a RETIRED id can never re-enter under its own name (insert-only
    // covers the tombstone set until the fold)
    assert(FrameIndex.admitSupersedeBatch(spark,
      frameDf(video(91, id = 60L)), 2L, store, "vid"))
    assert(!FrameIndex.frames(spark, store, "vid")
      .select(col("id")).distinct().collect().map(_.getLong(0)).toSet
      .contains(60L), "re-sent retired id is a no-op")
  }

  test("supersede streamed ≡ the same gated folds as batch calls; takedown clears the tombstone pin") {
    val s = spark; import s.implicits._
    val root = tmpDir("frame-sup-stream")
    val store = new TableStore(s"$root/idx")
    FrameIndex.build(frameDf(clip(7, id = 70L) ++ clip(8, id = 80L) ++ video(9)),
      maxHamming = 6, minContainment = 0.99, store, "vid")
    val drains = Seq(
      frameDf(video(7, id = 700L)),                 // supersedes clip 70
      frameDf(video(8, id = 710L, perturb = 1) ++   // supersedes clip 80
        video(9, id = 711L, perturb = 2)),          // re-encode of full 90: rejects
      frameDf(video(85, id = 720L)))                // novel
    SparkEntry.stageDrains(root, drains)
    val stageDir = java.nio.file.Paths.get(root, "stage")
    val schema = spark.read.parquet(stageDir.toString).schema
    AdmissionStream.drain(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(stageDir.toString),
      s"$root/chk") { (b, id) =>
      FrameIndex.admitSupersedeBatch(b.sparkSession, b, id, store, "vid")
    }.awaitTermination()
    val got = FrameIndex.frames(spark, store, "vid")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val clean = new TableStore(tmpDir("frame-sup-stream-clean"))
    FrameIndex.build(frameDf(clip(7, id = 70L) ++ clip(8, id = 80L) ++ video(9)),
      maxHamming = 6, minContainment = 0.99, clean, "vid")
    drains.zipWithIndex.foreach { case (d, k) =>
      FrameIndex.admitSupersedeBatch(spark, d, k.toLong, clean, "vid") }
    val want = FrameIndex.frames(spark, clean, "vid")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got === want, "drained state ≡ the same supersede folds")
    assert(got.map(_._1) === Set(90L, 700L, 710L, 720L),
      "clips retired, re-encode rejected, novel admitted")
    // takedown over a live tombstone set: the rewrite folds retirements
    // in and clears the pin; the removed id's frames are gone
    assert(FrameIndex.remove(spark, Seq(700L).toDF("id"), store, "vid") === 1L)
    val after = FrameIndex.frames(spark, store, "vid")
      .select(col("id")).distinct().collect().map(_.getLong(0)).toSet
    assert(after === Set(90L, 710L, 720L))
  }

  test("supersede preDedupBatch: a clip and its full cut in ONE drain admit only the cut") {
    val store = new TableStore(tmpDir("frame-sup-prededup"))
    FrameIndex.build(frameDf(video(1)),
      maxHamming = 6, minContainment = 0.99, store, "vid")
    val batch = frameDf(
      video(6, id = 900L) ++                 // the full cut
        clip(6, id = 901L, perturb = 1) ++   // its clip, same drain
        video(70, id = 902L))                // disjoint novel, unaffected
    // default: micro-batch file boundaries decide — both admit, and the
    // clip can never be retired later (the documented hole)
    assert(FrameIndex.admitSupersedeBatch(spark, batch, 0L, store, "vid"))
    assert(FrameIndex.frames(spark, store, "vid")
      .select(col("id")).distinct().collect().map(_.getLong(0)).toSet
      === Set(10L, 900L, 901L, 902L))
    // opt-in: the within-batch screen kills the contained clip first
    val store2 = new TableStore(tmpDir("frame-sup-prededup2"))
    FrameIndex.build(frameDf(video(1)),
      maxHamming = 6, minContainment = 0.99, store2, "vid")
    assert(FrameIndex.admitSupersedeBatch(spark, batch, 0L, store2, "vid",
      preDedupBatch = true))
    assert(FrameIndex.frames(spark, store2, "vid")
      .select(col("id")).distinct().collect().map(_.getLong(0)).toSet
      === Set(10L, 900L, 902L),
      "the contained clip dies in-batch; disjoint items are unaffected")
  }

  // ------------------------------------------------------------------ keeper

  /** Quality-carrying frames: `video(g)` rows + a per-video score. */
  private def qframes(rows: Seq[(Long, Int, Long)], q: Double) = {
    val s = spark; import s.implicits._
    rows.map { case (id, f, sg) => (id, f, sg, q) }.toDF("id", "frame", "sig", "q")
  }

  test("keeper: a better re-encode replaces; worse/tie rejects; a better CLIP never displaces its source; evolving state + replay") {
    val store = new TableStore(tmpDir("frame-keep"))
    // stored: full videos of groups 1-4, quality 10
    FrameIndex.buildWithQuality(
      qframes((1 to 4).flatMap(video(_)), 10.0),
      maxHamming = 6, minContainment = 0.99, store, "vid")
    def ids() = FrameIndex.frames(spark, store, "vid")
      .select(col("id")).distinct().collect().map(_.getLong(0)).toSet
    // drain 0
    assert(FrameIndex.admitKeepBestBatch(spark,
      qframes(video(1, id = 900L, perturb = 1), 20.0)       // better re-encode → replace
        .unionByName(qframes(video(2, id = 901L, perturb = 2), 5.0))  // worse → reject
        .unionByName(qframes(video(3, id = 902L, perturb = 3), 10.0)) // tie → reject
        .unionByName(qframes(clip(4, id = 903L, perturb = 1), 50.0))  // better CLIP → reject
        .unionByName(qframes(video(80, id = 904L), 10.0)),  // novel → admit
      0L, store, "vid"))
    assert(ids() === Set(20L, 30L, 40L, 900L, 904L),
      "better re-encode replaced 10; worse/tie kept incumbents; the clip " +
        "never displaces its source; novel admitted")
    // replay refused
    assert(!FrameIndex.admitKeepBestBatch(spark,
      qframes(video(90, id = 990L), 10.0), 0L, store, "vid"))
    assert(ids() === Set(20L, 30L, 40L, 900L, 904L))
    // drain 1: a still-better re-encode of DRAIN-0's replacement wins
    // (evolving state), and a worse re-encode of the novel admission loses
    assert(FrameIndex.admitKeepBestBatch(spark,
      qframes(video(1, id = 910L, perturb = 4), 30.0)
        .unionByName(qframes(video(80, id = 911L, perturb = 1), 5.0)),
      1L, store, "vid"))
    assert(ids() === Set(20L, 30L, 40L, 904L, 910L),
      "the drain-1 arrival replaced drain-0's admission; the worse copy lost")
    // plain ops refuse the quality layout (and vice versa)
    val keeper = intercept[IllegalArgumentException] {
      FrameIndex.append(spark, frameDf(video(99, id = 995L)), store, "vid")
    }
    val plain = new TableStore(tmpDir("frame-keep-plain"))
    FrameIndex.build(stored(2), maxHamming = 6, minContainment = 0.99,
      plain, "vid")
    val plainErr = intercept[IllegalArgumentException] {
      FrameIndex.admitKeepBestBatch(spark,
        qframes(video(1, id = 997L), 10.0), 0L, plain, "vid")
    }
    // the message names only entry points that exist: no admit*Stream face does
    for (e <- Seq(keeper, plainErr))
      assert("""admit\w*Stream""".r.findFirstIn(e.getMessage).isEmpty, e.getMessage)
  }
}
