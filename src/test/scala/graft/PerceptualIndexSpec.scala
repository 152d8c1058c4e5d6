package graft

import org.apache.spark.sql.functions._

import graft.operators.{CacheScope, Dedup, PerceptualIndex, TableStore}
import graft.streaming.AdmissionStream

/** The managed perceptual-signature store (VERDICT r14 #2): build /
  * append / remove / screen under manifest discipline, the exactly-once
  * streamed admission gate, and canonicity — screening from committed
  * state must equal the ad-hoc [[Dedup.hammingBandedPairsAgainst]] over
  * the same signatures with the persisted budget. */
class PerceptualIndexSpec extends SparkSpec {

  /** Deterministic well-separated signatures: distinct high bits per
    * group, low bits for within-group perturbation. */
  private def sig(group: Int, perturb: Int = 0): Long =
    (0x9E3779B97F4A7C15L * (group + 1)) & ~0x3FL | (perturb.toLong & 0x3FL)

  private def sigDf(rows: Seq[(Long, Long)]) = {
    val s = spark; import s.implicits._
    rows.toDF("id", "sig")
  }

  private def stored(n: Int) = sigDf((0 until n).map(g => (g * 10L, sig(g))))

  test("screen from committed state ≡ ad-hoc hammingBandedPairsAgainst with the stored budget") {
    val store = new TableStore(tmpDir("perc-canon"))
    PerceptualIndex.build(stored(30), maxHamming = 6, store, "img")
    assert(PerceptualIndex.maxHamming(store, "img") === 6)
    // batch: near-copies of groups 0..4 (within budget), plus novel groups
    val batch = sigDf((0 until 5).map(g => (g * 10L + 1, sig(g, 3))) ++
      (100 until 105).map(g => (g * 10L, sig(g))))
    implicit val scope: CacheScope = new CacheScope
    try {
      val served = PerceptualIndex.screen(spark, batch, store, "img")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val adhoc = Dedup.hammingBandedPairsAgainst(
          batch, PerceptualIndex.signatures(spark, store, "img"), maxHamming = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(served === adhoc)
      assert(served.map(_._1) === (0 until 5).map(g => g * 10L + 1).toSet,
        "near-copies match, novel groups don't")
    } finally scope.release()
  }

  test("a manifest without band_v is refused, naming build, before any Spark job") {
    val store = new TableStore(tmpDir("perc-no-band"))
    store.commitFile("img_manifest", "manifest.json",
      "{\"sigs_v\":1,\"max_hamming\":6,\"last_batch_id\":-1}".getBytes("UTF-8"), None)
    implicit val scope: CacheScope = new CacheScope
    val (_, jobs) = jobsRunBy("perc-no-band") {
      for (call <- Seq(
          () => PerceptualIndex.screen(spark, sigDf(Seq((1L, sig(0)))), store, "img"),
          () => PerceptualIndex.signatures(spark, store, "img"))) {
        val e = intercept[IllegalStateException](call())
        assert(e.getMessage.contains("build"), e.getMessage)
      }
    }
    scope.release()
    assert(jobs === 0)
  }

  test("append is insert-only and O(batch)-linked; in-batch duplicate ids fold once") {
    val store = new TableStore(tmpDir("perc-append"))
    PerceptualIndex.build(stored(20), maxHamming = 6, store, "img")
    // batch: one already-stored id (different sig — must NOT replace),
    // one new id arriving TWICE with different sigs (smallest wins)
    PerceptualIndex.append(spark,
      sigDf(Seq((0L, sig(99)), (500L, 7L), (500L, 3L))), store, "img")
    val sigs = PerceptualIndex.signatures(spark, store, "img")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(sigs.size === 21)
    assert(sigs(0L) === sig(0), "insert-only: stored id keeps its signature")
    assert(sigs(500L) === 3L, "duplicate in-batch id folds to the smallest sig")
  }

  test("remove forgets: a copy of a removed item is admitted again") {
    val store = new TableStore(tmpDir("perc-remove"))
    PerceptualIndex.build(stored(10), maxHamming = 6, store, "img")
    val copy = sigDf(Seq((900L, sig(2, 1))))
    implicit val scope: CacheScope = new CacheScope
    try {
      assert(PerceptualIndex.screen(spark, copy, store, "img").count() === 1,
        "copy of stored group 2 is caught")
      val s = spark; import s.implicits._
      assert(PerceptualIndex.remove(spark, Seq(20L).toDF("id"), store, "img") === 1L)
      assert(PerceptualIndex.screen(spark, copy, store, "img").count() === 0,
        "after takedown the screen's memory genuinely forgets")
    } finally scope.release()
  }

  test("admission gate: replay refused; crash mid-fold invisible; redelivery folds once") {
    val store = new CrashStore(tmpDir("perc-adm"))
    PerceptualIndex.build(stored(10), maxHamming = 6, store, "img")
    val b0 = sigDf(Seq((200L, sig(50)), (210L, sig(51))))
    assert(PerceptualIndex.admitBatch(spark, b0, 0L, store, "img"), "first batch folds")
    assert(!PerceptualIndex.admitBatch(spark, b0, 0L, store, "img"), "replay refused")
    assert(PerceptualIndex.signatures(spark, store, "img").count() === 12)
    // crash between the member data commit and the manifest swap — a
    // drain's admissions now land in the DELTA memtable (one plain
    // linked append), so inject on IT and verify the manifest gate
    val b1 = sigDf(Seq((220L, sig(52))))
    store.failTable = Some("img_delta")
    intercept[RuntimeException] {
      PerceptualIndex.admitBatch(spark, b1, 1L, store, "img")
    }
    store.failTable = None
    assert(PerceptualIndex.signatures(spark, store, "img").count() === 12,
      "crashed fold is invisible (manifest-pinned read ignores the orphan)")
    assert(PerceptualIndex.admitBatch(spark, b1, 1L, store, "img"),
      "redelivered batch folds exactly once")
    assert(PerceptualIndex.signatures(spark, store, "img").count() === 13)
  }

  test("admitNovelBatch: screen-then-admit with EVOLVING state; replay refused") {
    val store = new TableStore(tmpDir("perc-novel"))
    PerceptualIndex.build(stored(5), maxHamming = 6, store, "img")
    // batch 0: a copy of seed group 2 (rejected) + two novel items
    assert(PerceptualIndex.admitNovelBatch(spark,
      sigDf(Seq((900L, sig(2, 1)), (901L, sig(60)), (902L, sig(61)))),
      0L, store, "img"))
    val ids0 = PerceptualIndex.signatures(spark, store, "img")
      .collect().map(_.getLong(0)).toSet
    assert(ids0 === (0 until 5).map(_ * 10L).toSet ++ Set(901L, 902L),
      "the seed copy is screened out; the novel items admit")
    // batch 1: a copy of 901 — rejected BY BATCH 0's admission, the
    // evolving-state property — plus one more novel
    assert(PerceptualIndex.admitNovelBatch(spark,
      sigDf(Seq((910L, sig(60, 2)), (911L, sig(62)))), 1L, store, "img"))
    val ids1 = PerceptualIndex.signatures(spark, store, "img")
      .collect().map(_.getLong(0)).toSet
    assert(!ids1.contains(910L),
      "a copy of an EARLIER DRAIN's admission is rejected by that admission")
    assert(ids1.contains(911L))
    // replayed batchId: refused without touching state
    assert(!PerceptualIndex.admitNovelBatch(spark,
      sigDf(Seq((990L, sig(90)))), 1L, store, "img"))
    assert(PerceptualIndex.signatures(spark, store, "img")
      .collect().map(_.getLong(0)).toSet === ids1)
    // in-batch near-dups of each other (not of stored): both admit —
    // the documented contract
    assert(PerceptualIndex.admitNovelBatch(spark,
      sigDf(Seq((920L, sig(70)), (921L, sig(70, 1)))), 2L, store, "img"))
    val ids2 = PerceptualIndex.signatures(spark, store, "img")
      .collect().map(_.getLong(0)).toSet
    assert(ids2.contains(920L) && ids2.contains(921L))
  }

  test("racing admitters: exactly one folds, the loser skips under the lock") {
    val store = new TableStore(tmpDir("perc-race"))
    PerceptualIndex.build(stored(10), maxHamming = 6, store, "img")
    val batch = sigDf(Seq((400L, sig(70)), (410L, sig(71))))
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val outcomes = (0 until 2).map { _ =>
      new java.util.concurrent.FutureTask[String](() => {
        gate.await()
        try {
          if (PerceptualIndex.admitBatch(spark, batch, 0L, store, "img")) "folded"
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
    assert(results === Seq("folded", "skipped"),
      s"exactly one admitter folds, the in-process loser skips, got $results")
    assert(PerceptualIndex.signatures(spark, store, "img").count() === 12,
      "the batch folded exactly once")
  }

  test("admitNovelBatch preDedupBatch: a burst collapses to its smallest id; disjoint items unaffected") {
    val store = new TableStore(tmpDir("perc-prededup"))
    PerceptualIndex.build(stored(5), maxHamming = 6, store, "img")
    // a burst of three near-copies of one NOVEL item + two disjoint novels
    val s = spark; import s.implicits._
    val burst = Seq((700L, sig(80)), (701L, sig(80, 1)), (702L, sig(80, 2)),
      (710L, sig(81)), (711L, sig(82)))
    assert(PerceptualIndex.admitNovelBatch(spark, burst.toDF("id", "sig"),
      0L, store, "img", preDedupBatch = true))
    val ids = PerceptualIndex.signatures(spark, store, "img")
      .collect().map(_.getLong(0)).toSet
    assert(ids.contains(700L) && !ids.contains(701L) && !ids.contains(702L),
      "the burst collapses to one admission — its smallest id")
    assert(ids.contains(710L) && ids.contains(711L),
      "disjoint novel items are unaffected by the in-batch screen")
    // default OFF preserves the q139 contract: both near-dups admit
    val clean = new TableStore(tmpDir("perc-prededup-off"))
    PerceptualIndex.build(stored(5), maxHamming = 6, clean, "img")
    assert(PerceptualIndex.admitNovelBatch(spark,
      Seq((720L, sig(83)), (721L, sig(83, 1))).toDF("id", "sig"),
      0L, clean, "img"))
    val defIds = PerceptualIndex.signatures(spark, clean, "img")
      .collect().map(_.getLong(0)).toSet
    assert(defIds.contains(720L) && defIds.contains(721L))
  }

  /** A quality index over groups 0..n-1: id g*10, quality 10.0. */
  private def qualStored(n: Int) = {
    val s = spark; import s.implicits._
    (0 until n).map(g => (g * 10L, sig(g), 10.0)).toDF("id", "sig", "q")
  }

  private def qdf(rows: Seq[(Long, Long, Double)]) = {
    val s = spark; import s.implicits._
    rows.toDF("id", "sig", "q")
  }

  test("admitKeepBestBatch: better copy replaces in one swap, worse/equal rejects, replay refused") {
    val store = new TableStore(tmpDir("perc-keeper"))
    PerceptualIndex.buildWithQuality(qualStored(10), maxHamming = 6, store, "img")
    // better copy of group 2, worse copy of group 3, EQUAL copy of
    // group 4 (tie keeps the incumbent), one novel
    assert(PerceptualIndex.admitKeepBestBatch(spark, qdf(Seq(
      (900L, sig(2, 1), 50.0), (901L, sig(3, 1), 5.0),
      (902L, sig(4, 1), 10.0), (903L, sig(60), 7.0))), 0L, store, "img"))
    val rows = PerceptualIndex.signatures(spark, store, "img")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rows.contains(900L) && !rows.contains(20L),
      "the better copy REPLACED its stored match in the same swap")
    assert(rows(900L) === 50.0)
    assert(!rows.contains(901L) && rows.contains(30L), "worse copy rejects")
    assert(!rows.contains(902L) && rows.contains(40L), "equal quality keeps the incumbent")
    assert(rows.contains(903L), "novel arrivals admit")
    assert(rows.size === 11)
    // replay: refused without touching state
    assert(!PerceptualIndex.admitKeepBestBatch(spark,
      qdf(Seq((990L, sig(90), 1.0))), 0L, store, "img"))
    assert(PerceptualIndex.signatures(spark, store, "img").count() === 11)
    // evolving state: a copy better than 900's quality replaces IT now
    assert(PerceptualIndex.admitKeepBestBatch(spark,
      qdf(Seq((910L, sig(2, 2), 80.0))), 1L, store, "img"))
    val rows2 = PerceptualIndex.signatures(spark, store, "img")
      .collect().map(_.getLong(0)).toSet
    assert(rows2.contains(910L) && !rows2.contains(900L),
      "replace-if-better composes across drains (evolving state)")
    // in-batch duplicate id: highest quality wins
    assert(PerceptualIndex.admitKeepBestBatch(spark,
      qdf(Seq((920L, sig(70), 3.0), (920L, sig(70, 1), 9.0))), 2L, store, "img"))
    val r920 = PerceptualIndex.signatures(spark, store, "img")
      .filter(col("id") === 920L).collect()
    assert(r920.length === 1 && r920.head.getDouble(2) === 9.0)
  }

  test("admitKeepBestBatch preDedupBatch: a burst admits only its highest-quality member; default off admits all") {
    val store = new TableStore(tmpDir("perc-keeper-prededup"))
    PerceptualIndex.buildWithQuality(qualStored(5), maxHamming = 6, store, "img")
    // a burst of three near-copies of one NOVEL item at different
    // qualities (the best is NOT the smallest id), an equal-quality tie
    // pair (smallest id keeps), and one disjoint novel
    assert(PerceptualIndex.admitKeepBestBatch(spark, qdf(Seq(
      (700L, sig(80), 3.0), (701L, sig(80, 1), 9.0), (702L, sig(80, 2), 5.0),
      (710L, sig(81), 4.0), (711L, sig(81, 1), 4.0),
      (720L, sig(82), 1.0))), 0L, store, "img", preDedupBatch = true))
    val ids = PerceptualIndex.signatures(spark, store, "img")
      .collect().map(_.getLong(0)).toSet
    assert(ids.contains(701L) && !ids.contains(700L) && !ids.contains(702L),
      "the burst admits only its highest-quality member")
    assert(ids.contains(710L) && !ids.contains(711L),
      "an equal-quality in-batch tie keeps the smallest id")
    assert(ids.contains(720L), "disjoint novel items are unaffected")
    // default OFF preserves the q142 contract: in-batch near-dups of
    // each other all admit
    val clean = new TableStore(tmpDir("perc-keeper-prededup-off"))
    PerceptualIndex.buildWithQuality(qualStored(5), maxHamming = 6, clean, "img")
    assert(PerceptualIndex.admitKeepBestBatch(spark, qdf(Seq(
      (730L, sig(83), 3.0), (731L, sig(83, 1), 9.0))), 0L, clean, "img"))
    val defIds = PerceptualIndex.signatures(spark, clean, "img")
      .collect().map(_.getLong(0)).toSet
    assert(defIds.contains(730L) && defIds.contains(731L))
    // the pre-dedup composes with the stored screen: a burst whose best
    // member is WORSE than its stored match admits nothing
    assert(PerceptualIndex.admitKeepBestBatch(spark, qdf(Seq(
      (740L, sig(2, 1), 2.0), (741L, sig(2, 2), 6.0))), 1L, store, "img",
      preDedupBatch = true))
    val ids2 = PerceptualIndex.signatures(spark, store, "img")
      .collect().map(_.getLong(0)).toSet
    assert(!ids2.contains(740L) && !ids2.contains(741L) && ids2.contains(20L),
      "the surviving burst member still loses to a better stored incumbent")
  }

  test("keeper admission is insert-only by id: re-sent existing ids are no-ops") {
    val store = new TableStore(tmpDir("perc-keeper-resend"))
    PerceptualIndex.buildWithQuality(qualStored(5), maxHamming = 6, store, "img")
    // a re-sent STORED id (even claiming higher quality) is a no-op —
    // re-crawls arrive under fresh ids; and after a replacement, the
    // RETIRED id cannot sneak back into the base under its own name
    assert(PerceptualIndex.admitKeepBestBatch(spark, qdf(Seq(
      (20L, sig(2, 1), 99.0), (900L, sig(3, 1), 50.0))), 0L, store, "img"))
    val rows = PerceptualIndex.signatures(spark, store, "img")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rows(20L) === 10.0, "re-sent stored id is a no-op")
    assert(rows.contains(900L) && !rows.contains(30L), "the fresh-id replacement folded")
    assert(!PerceptualIndex.admitKeepBestBatch(spark,
      qdf(Seq((30L, sig(3, 2), 99.0))), 0L, store, "img"), "replayed batchId refused")
    assert(PerceptualIndex.admitKeepBestBatch(spark,
      qdf(Seq((30L, sig(3, 2), 99.0))), 1L, store, "img"))
    assert(PerceptualIndex.signatures(spark, store, "img")
      .filter(col("id") === 30L).count() === 0,
      "a retired id stays retired — its base row still shadows under the tombstone")
  }

  test("layout guards: plain folds refuse a keeper index and vice versa") {
    val store = new TableStore(tmpDir("perc-guard"))
    PerceptualIndex.buildWithQuality(qualStored(5), maxHamming = 6, store, "img")
    val s = spark; import s.implicits._
    val keeper = intercept[IllegalArgumentException] {
      PerceptualIndex.append(spark, Seq((900L, sig(50))).toDF("id", "sig"),
        store, "img")
    }
    val plain = new TableStore(tmpDir("perc-guard-plain"))
    PerceptualIndex.build(stored(5), maxHamming = 6, plain, "img")
    val plainErr = intercept[IllegalArgumentException] {
      PerceptualIndex.admitKeepBestBatch(spark,
        qdf(Seq((900L, sig(50), 1.0))), 0L, plain, "img")
    }
    // the message names only entry points that exist: no admit*Stream face does
    for (e <- Seq(keeper, plainErr))
      assert("""admit\w*Stream""".r.findFirstIn(e.getMessage).isEmpty, e.getMessage)
  }

  test("streamed keeper drains ≡ the same admitKeepBestBatch folds") {
    val s = spark; import s.implicits._
    val root = tmpDir("perc-keeper-stream")
    val store = new TableStore(s"$root/idx")
    PerceptualIndex.buildWithQuality(qualStored(5), maxHamming = 6, store, "img")
    val drains = Seq(
      qdf(Seq((300L, sig(2, 1), 50.0), (301L, sig(61), 4.0))),
      qdf(Seq((310L, sig(2, 3), 20.0))), // worse than 300's 50 — rejects
      qdf(Seq((320L, sig(2, 4), 90.0)))) // better than 300 — replaces it
    SparkEntry.stageDrains(root, drains)
    val stageDir = java.nio.file.Paths.get(root, "stage")
    val schema = spark.read.parquet(stageDir.toString).schema
    AdmissionStream.drain(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(stageDir.toString),
      s"$root/chk") { (b, id) =>
      PerceptualIndex.admitKeepBestBatch(b.sparkSession, b, id, store, "img")
    }.awaitTermination()
    val got = PerceptualIndex.signatures(spark, store, "img")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val clean = new TableStore(tmpDir("perc-keeper-clean"))
    PerceptualIndex.buildWithQuality(qualStored(5), maxHamming = 6, clean, "img")
    drains.zipWithIndex.foreach { case (d, k) =>
      PerceptualIndex.admitKeepBestBatch(spark, d, k.toLong, clean, "img") }
    val want = PerceptualIndex.signatures(spark, clean, "img")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === want, "drained keeper state ≡ the same gated folds")
    assert(got.exists(_._1 == 320L) && !got.exists(_._1 == 300L) &&
      !got.exists(_._1 == 310L) && !got.exists(_._1 == 20L),
      "the chain of replacements lands on the final best copy")
  }

  test("streamed admission drains to the same committed state as one batch append") {
    val s = spark; import s.implicits._
    val root = tmpDir("perc-stream")
    val store = new TableStore(s"$root/idx")
    PerceptualIndex.build(stored(10), maxHamming = 6, store, "img")
    // stage three single-row parquet files
    SparkEntry.stageDrains(root, (0 until 3).map(k => sigDf(Seq((300L + k, sig(60 + k))))))
    val stageDir = java.nio.file.Paths.get(root, "stage")
    val schema = spark.read.parquet(stageDir.toString).schema
    AdmissionStream.drain(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(stageDir.toString),
      s"$root/chk") { (b, id) =>
      PerceptualIndex.admitBatch(b.sparkSession, b, id, store, "img")
    }.awaitTermination()
    val got = PerceptualIndex.signatures(spark, store, "img")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val clean = new TableStore(tmpDir("perc-stream-clean"))
    PerceptualIndex.build(stored(10), maxHamming = 6, clean, "img")
    PerceptualIndex.append(spark,
      sigDf((0 until 3).map(k => (300L + k, sig(60 + k)))), clean, "img")
    val want = PerceptualIndex.signatures(spark, clean, "img")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want, "drained state ≡ one clean batch append")
  }
}
