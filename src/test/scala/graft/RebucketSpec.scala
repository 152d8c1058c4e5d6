package graft

import org.apache.spark.sql.functions._

import graft.operators.{BucketSpec, CacheScope, FrameIndex, PerceptualIndex, TableStore}

/** Rebucket-at-fold ([[graft.operators.OverlayLock.grownSpec]]): the
  * constant-per-bucket-bytes rule as CODE — bucket counts are pinned at
  * build time, and without growth a genuinely growing corpus silently
  * violates the sizing invariant every pruned-read proof depends on.
  * The amortized fold (the one wholesale rewrite) must double a tier's
  * bucket count past the per-bucket byte target, record the grown
  * layout, and leave served state byte-identical; the no-growth case
  * must leave the layout untouched. */
class RebucketSpec extends SparkSpec {

  private def sig(group: Int, perturb: Int = 0): Long =
    (0x9E3779B97F4A7C15L * (group + 1)) & ~0x3FL | (perturb.toLong & 0x3FL)

  private def sigDf(rows: Seq[(Long, Long)]) = {
    val s = spark; import s.implicits._
    rows.toDF("id", "sig")
  }

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a fold doubles bucket counts past the per-bucket byte target; served state intact") {
    // tiny target + zero fold floor: every append folds, and the grown
    // corpus must force the doubling without any manual bucket sizing
    withConf("spark.graft.targetBucketBytes" -> "1024",
        "spark.graft.foldFloorBytes" -> "0") {
      val store = new TableStore(tmpDir("rebucket-grow"))
      PerceptualIndex.build(sigDf((0 until 50).map(g => (g * 10L, sig(g)))),
        maxHamming = 6, store, "img")
      val n0 = store.bucketSpec("img_sigs").get.nBuckets
      val b0 = store.bucketSpec("img_band").get.nBuckets
      // a decade of growth through the admission path (disjoint ids,
      // well-separated signatures — everything admits): the first drain
      // lands in the fresh memtable, the second rides the amortized fold
      PerceptualIndex.append(spark,
        sigDf((100 until 600).map(g => (g * 10L, sig(g)))), store, "img")
      PerceptualIndex.append(spark,
        sigDf(Seq((9000L, sig(900)))), store, "img")
      val n1 = store.bucketSpec("img_sigs").get.nBuckets
      val b1 = store.bucketSpec("img_band").get.nBuckets
      assert(n1 > n0, s"sigs tier bucket count must grow past the target: $n0 -> $n1")
      assert(b1 > b0, s"band tier bucket count must grow past the target: $b0 -> $b1")
      assert(n1 % n0 === 0 && b1 % b0 === 0, "growth is by doubling")
      // served state survives the rebucket byte-identically
      assert(PerceptualIndex.signatures(spark, store, "img").count() === 551)
      // and the screen still prunes correctly over the GROWN layout: a
      // near-copy of a stored item matches, a novel one doesn't
      implicit val scope: CacheScope = new CacheScope
      try {
        val hits = PerceptualIndex.screen(spark,
          sigDf(Seq((99990L, sig(7, 3)), (99991L, sig(777777)))),
          store, "img").collect()
        assert(hits.map(_.getLong(0)).toSet === Set(99990L),
          "the grown layout serves the same screen results")
      } finally scope.release()
    }
  }

  test("the no-growth case leaves the recorded layout unchanged") {
    // zero fold floor (every append folds) but the DEFAULT 64 MiB
    // per-bucket target: tiny tiers never earn a doubling
    withConf("spark.graft.foldFloorBytes" -> "0") {
      val store = new TableStore(tmpDir("rebucket-flat"))
      PerceptualIndex.build(sigDf((0 until 50).map(g => (g * 10L, sig(g)))),
        maxHamming = 6, store, "img")
      val n0 = store.bucketSpec("img_sigs").get.nBuckets
      val b0 = store.bucketSpec("img_band").get.nBuckets
      PerceptualIndex.append(spark,
        sigDf((100 until 200).map(g => (g * 10L, sig(g)))), store, "img")
      assert(store.bucketSpec("img_sigs").get.nBuckets === n0,
        "below the target the fold keeps the layout")
      assert(store.bucketSpec("img_band").get.nBuckets === b0)
      assert(PerceptualIndex.signatures(spark, store, "img").count() === 150)
    }
  }

  test("an APPEND-ONLY bucketed tier also grows past the per-bucket target") {
    // the docs tier of a postings index mutates only through
    // OverlayLock.appendOrCompactBucketed — it never rides an amortized
    // fold, so growth must hook the append path itself or per-bucket
    // bytes grow without bound on a pure-append corpus
    val s = spark; import s.implicits._
    withConf("spark.graft.targetBucketBytes" -> "1024") {
      def docs(r: Range) = r.map(i =>
        (i.toLong, s"alpha bravo charlie delta echo foxtrot token$i " * 4))
        .toDF("doc_id", "text")
      val store = new TableStore(tmpDir("rebucket-append"))
      graft.operators.PostingsIndex.build(docs(1 to 40), "doc_id", "text",
        store, "bm")
      val d0 = store.bucketSpec("bm_docs").get.nBuckets
      graft.operators.PostingsIndex.append(spark, docs(41 to 400),
        "doc_id", "text", store, "bm")
      graft.operators.PostingsIndex.append(spark, docs(401 to 420),
        "doc_id", "text", store, "bm")
      val d1 = store.bucketSpec("bm_docs").get.nBuckets
      assert(d1 > d0 && d1 % d0 === 0,
        s"append-only docs tier must double past the target: $d0 -> $d1")
      // served state intact over the grown layout
      assert(graft.operators.PostingsIndex
        .postings(spark, store, "bm").select("doc_id").distinct().count() >= 420)
    }
  }

  test("retiring drains serve the same state whether they fold or commit to the memtable") {
    // a zero fold floor makes the second drain of each run fold the
    // pending delta + tombstones into the tiers (the frame runs' second
    // drains retire stored videos in the fold itself); the default floor
    // never folds at this scale. Both must serve the same rows, and a
    // fold must clear both small pins.
    val s = spark; import s.implicits._
    def q(rows: Seq[(Long, Long, Double)]) = rows.toDF("id", "sig", "q")
    def fsig(g: Int, f: Int, perturb: Int = 0): Long =
      (0x9E3779B97F4A7C15L * (g * 31 + f * 7 + 1)) & ~0x3FL | (perturb.toLong & 0x3FL)
    def video(g: Int, id: Long, perturb: Int = 0, n: Int = 4) =
      (0 until n).map(f => (id, f, fsig(g, f, perturb)))
    def frames(rows: Seq[(Long, Int, Long)]) = rows.toDF("id", "frame", "sig")
    def qframes(rows: Seq[(Long, Int, Long)], qv: Double) =
      rows.map { case (id, f, sg) => (id, f, sg, qv) }.toDF("id", "frame", "sig", "q")
    // each run: (served rows as strings, per-drain (dlt, rm) pins)
    type Run = (Set[String], Seq[(Option[Int], Option[Int])])
    def percKeeper(tag: String): Run = {
      val store = new TableStore(tmpDir(s"fold-perc-$tag"))
      PerceptualIndex.buildWithQuality(
        q((0 until 5).map(g => (g * 10L, sig(g), 10.0))), maxHamming = 6, store, "img")
      val pins = Seq(
        q(Seq((300L, sig(2, 1), 50.0), (301L, sig(61), 4.0))),
        q(Seq((310L, sig(2, 3), 20.0))),
        q(Seq((320L, sig(2, 4), 90.0)))).zipWithIndex.map { case (d, k) =>
        assert(PerceptualIndex.admitKeepBestBatch(spark, d, k.toLong, store, "img"))
        val m = PerceptualIndex.readManifest(store, "img").get._1
        (m.dlt, m.rmSigs)
      }
      (PerceptualIndex.signatures(spark, store, "img").collect().map(_.toString).toSet, pins)
    }
    def frameRuns(tag: String): (Run, Run) = {
      val sup = new TableStore(tmpDir(s"fold-frame-sup-$tag"))
      FrameIndex.build(frames(video(7, 70L, n = 2) ++ video(8, 80L, n = 2) ++ video(9, 90L)),
        maxHamming = 6, minContainment = 0.99, sup, "vid")
      val supPins = Seq(
        frames(video(7, 700L)),
        frames(video(8, 710L, perturb = 1) ++ video(9, 711L, perturb = 2)),
        frames(video(85, 720L))).zipWithIndex.map { case (d, k) =>
        assert(FrameIndex.admitSupersedeBatch(spark, d, k.toLong, sup, "vid"))
        val m = FrameIndex.readManifest(sup, "vid").get._1
        (m.dlt, m.rmFrames)
      }
      val keep = new TableStore(tmpDir(s"fold-frame-keep-$tag"))
      FrameIndex.buildWithQuality(qframes((1 to 4).flatMap(g => video(g, g * 10L)), 10.0),
        maxHamming = 6, minContainment = 0.99, keep, "vid")
      val keepPins = Seq(
        qframes(video(1, 900L, perturb = 1), 20.0)
          .unionByName(qframes(video(2, 901L, perturb = 2), 5.0))
          .unionByName(qframes(video(3, 902L, perturb = 3), 10.0))
          .unionByName(qframes(video(4, 903L, perturb = 1, n = 2), 50.0))
          .unionByName(qframes(video(80, 904L), 10.0)),
        qframes(video(1, 910L, perturb = 4), 30.0)
          .unionByName(qframes(video(80, 911L, perturb = 1), 5.0))).zipWithIndex.map {
        case (d, k) =>
          assert(FrameIndex.admitKeepBestBatch(spark, d, k.toLong, keep, "vid"))
          val m = FrameIndex.readManifest(keep, "vid").get._1
          (m.dlt, m.rmFrames)
      }
      def served(st: TableStore) =
        FrameIndex.frames(spark, st, "vid").collect().map(_.toString).toSet
      ((served(sup), supPins), (served(keep), keepPins))
    }
    val (perc0, (sup0, keep0)) = withConf("spark.graft.foldFloorBytes" -> "0") {
      (percKeeper("zero"), frameRuns("zero"))
    }
    val (perc1, (sup1, keep1)) = (percKeeper("dflt"), frameRuns("dflt"))
    for (((folded, memtable), what) <- Seq(
        (perc0, perc1) -> "perceptual keeper", (sup0, sup1) -> "frame supersede",
        (keep0, keep1) -> "frame keeper")) {
      assert(folded._1 === memtable._1, s"$what: a fold serves the memtable path's rows")
      assert(folded._2(1) === ((None, None)), s"$what: the second drain folds and clears dlt/rm")
      assert(memtable._2.forall(_._1.isDefined), s"$what: the default floor never folds here")
    }
    def ids(run: Run) = run._1.map(_.split(",")(0).stripPrefix("[").toLong)
    assert(ids(perc0) === Set(0L, 10L, 30L, 40L, 301L, 320L))
    assert(ids(sup0) === Set(90L, 700L, 710L, 720L))
    assert(ids(keep0) === Set(20L, 30L, 40L, 904L, 910L))
  }

  test("rollbackTo across a rebucket restores the pinned version's layout") {
    // v1 written with 4 buckets, v2 rebucketed to 8: rolling back to v1
    // must record v1's layout, or every later pruned read of v1's files
    // hashes keys into buckets v1 never wrote
    val s = spark; import s.implicits._
    val store = new TableStore(tmpDir("rebucket-rollback"))
    val rows = (0 until 200).map(i => (i, s"p$i")).toDF("id", "payload")
    store.writeBucketed(rows, "t", BucketSpec(4, Seq("id")))
    store.writeBucketed(rows, "t", BucketSpec(8, Seq("id")))
    store.rollbackTo("t", 1)
    assert(store.bucketSpec("t").map(_.nBuckets) === Some(4))
  }
}
