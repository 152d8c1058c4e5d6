package graft

import org.apache.spark.sql.functions.col

import graft.operators.{CacheScope, SignatureIndex, TableStore}
import SignatureIndex.Params

/** Persisted MinHash signature index: build/params round-trip, admission
  * screening against stored state, refit-free append — the text-side
  * mirror of IvfIndexSpec. */
class SignatureIndexSpec extends SparkSpec {
  import spark.implicits._

  private val p = Params(shingleN = 2, numHashes = 32, bands = 16)

  private def corpus() = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "pack my box with five dozen liquor jugs for the long trip"),
    (3L, "sphinx of black quartz judge my vow said the old librarian"))
    .toDF("doc_id", "text")

  test("build persists signatures and params; both halves readable") {
    val store = new TableStore(tmpDir("sigidx"))
    SignatureIndex.build(corpus(), "doc_id", "text", p, store, "c")
    assert(SignatureIndex.params(spark, store, "c") === p)
    val sigs = SignatureIndex.signatures(spark, store, "c").collect()
    assert(sigs.length === 3)
    assert(sigs.forall(_.getSeq[Long](1).length === p.numHashes))
  }

  test("screen drops exact and near duplicates of stored docs, keeps novel and short ones") {
    implicit val scope: CacheScope = new CacheScope
    val store = new TableStore(tmpDir("sigidx"))
    SignatureIndex.build(corpus(), "doc_id", "text", p, store, "c")
    val arriving = Seq(
      (101L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup → drop
      (102L, "pack my box with five dozen liquor jugs for the long trek"), // near dup → drop
      (103L, "completely unrelated content about distributed query planning engines"), // novel → keep
      (104L, "tiny")) // too short to shingle → matches nothing → keep
      .toDF("doc_id", "text")
    val kept = SignatureIndex.screen(spark, arriving, "doc_id", "text",
        store, "c", threshold = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(103L, 104L))
    scope.release()
  }

  test("append admits new signatures under stored params; later screens see them") {
    implicit val scope: CacheScope = new CacheScope
    val store = new TableStore(tmpDir("sigidx"))
    SignatureIndex.build(corpus(), "doc_id", "text", p, store, "c")
    val admitted = Seq(
      (201L, "a brand new document that the corpus has never seen before today"))
      .toDF("doc_id", "text")
    SignatureIndex.append(spark, admitted, "doc_id", "text", store, "c")
    assert(SignatureIndex.signatures(spark, store, "c").count() === 4)

    // a near-copy of the doc admitted above is now screened out
    val nextDay = Seq(
      (301L, "a brand new document that the corpus has never seen before tonight"),
      (302L, "other material sharing nothing with anything stored anywhere"))
      .toDF("doc_id", "text")
    val kept = SignatureIndex.screen(spark, nextDay, "doc_id", "text",
        store, "c", threshold = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(302L))
    scope.release()
  }

  test("remove forgets: a near-dup of a removed doc is admitted again") {
    implicit val scope: CacheScope = new CacheScope
    val store = new TableStore(tmpDir("sigidx-rm"))
    SignatureIndex.build(corpus(), "doc_id", "text", p, store, "c")
    val probe = Seq((401L, "pack my box with five dozen liquor jugs for the long trek"))
      .toDF("doc_id", "text") // near-dup of stored doc 2
    assert(SignatureIndex.screen(spark, probe, "doc_id", "text",
      store, "c", threshold = 0.5).count() === 0L) // blocked while 2 is indexed
    assert(SignatureIndex.remove(spark, Seq(2L).toDF("doc_id"), store, "c") === 1L)
    assert(SignatureIndex.signatures(spark, store, "c").count() === 2)
    assert(SignatureIndex.params(spark, store, "c") === p) // params untouched
    assert(SignatureIndex.screen(spark, probe, "doc_id", "text",
      store, "c", threshold = 0.5).count() === 1L) // admitted after takedown
    scope.release()
  }

  test("re-screening an already-indexed id is a no-op (id-inequality guard)") {
    implicit val scope: CacheScope = new CacheScope
    val store = new TableStore(tmpDir("sigidx"))
    SignatureIndex.build(corpus(), "doc_id", "text", p, store, "c")
    // ids 1-3 ARE the index: identical signatures, but same id → kept
    val kept = SignatureIndex.screen(spark, corpus(), "doc_id", "text",
        store, "c", threshold = 0.5)
      .count()
    assert(kept === 3L)
    scope.release()
  }

  // ----------------------------------------------------------- containment

  /** Containment work sizes the signature up (±O(1/√k) noise reads
    * through a fixed threshold). */
  private val pc = Params(shingleN = 2, numHashes = 128, bands = 32)

  /** Deterministic unique-token docs: `ns` names the token namespace, so
    * docs from different namespaces share no shingles at all. */
  private def words(ns: String, from: Int, n: Int): String =
    (from until from + n).map(i => s"$ns$i").mkString(" ")

  private def docsDf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")

  test("screenContainment: an exact-substring snippet scores ~1.0 on its own side where the Jaccard screen misses it") {
    implicit val scope: CacheScope = new CacheScope
    val store = new TableStore(tmpDir("sigidx-cont"))
    val full = words("a", 0, 40)
    SignatureIndex.build(docsDf(Seq((1L, full), (2L, words("b", 0, 40)))),
      "doc_id", "text", pc, store, "c")
    // the snippet: the full doc's first 15 tokens (true J ≈ 14/39 ≈ 0.36
    // — far below any symmetric near-dup threshold)
    val snippet = full.split(" ").take(15).mkString(" ")
    val batch = docsDf(Seq((100L, snippet), (101L, words("z", 0, 30))))
    val pairs = SignatureIndex.screenContainment(spark, batch, "doc_id",
        "text", store, "c", minContainment = 0.75)
      .collect().map(r => (r.getLong(1), r.getLong(0)) -> r.getDouble(3)).toMap
    assert(pairs.keySet === Set((1L, 100L)),
      "only the (container, snippet) pair carries containment evidence")
    assert(pairs((1L, 100L)) >= 0.75, "the snippet is ~fully contained")
    // the symmetric Jaccard screen KEEPS the snippet — the case this
    // directed face exists for
    val jacKept = SignatureIndex.screen(spark, batch, "doc_id", "text",
      store, "c", threshold = 0.5).collect().map(_.getLong(0)).toSet
    assert(jacKept === Set(100L, 101L))
    scope.release()
  }

  test("supersede: the full article retires the stored snippet; near-copies reject; partial overlap admits without retiring; replay is a no-op") {
    implicit val scope: CacheScope = new CacheScope
    val store = new TableStore(tmpDir("sigidx-sup"))
    val fullA = words("a", 0, 40)
    val fullC = words("c", 0, 40)
    val snippetA = fullA.split(" ").take(15).mkString(" ")
    // stored: the SNIPPET of a (id 1), a full unrelated doc (id 3)
    SignatureIndex.build(docsDf(Seq((1L, snippetA), (3L, fullC))),
      "doc_id", "text", pc, store, "c")
    val overlap = (fullC.split(" ").take(14) ++
      words("d", 0, 26).split(" ")).mkString(" ")
    val batch = docsDf(Seq(
      (100L, fullA),            // contains stored snippet 1 → admit + retire 1
      (101L, fullC),            // exact copy of stored 3 → reject (tie keeps incumbent)
      (102L, words("e", 0, 30)), // novel → admit
      (103L, overlap)))         // partial overlap of 3 → admit, 3 stays
    val admitted = SignatureIndex.supersede(spark, batch, "doc_id", "text",
      store, "c", minContainment = 0.75).collect().map(_.getLong(0)).toSet
    assert(admitted === Set(100L, 102L, 103L))
    val ids = SignatureIndex.signatures(spark, store, "c")
      .collect().map(_.getLong(0)).toSet
    assert(ids === Set(3L, 100L, 102L, 103L),
      "snippet retired; incumbent full kept; partial overlap retired nothing")
    // evolving state: a snippet cut from THIS call's admission rejects
    val snippet2 = fullA.split(" ").slice(20, 35).mkString(" ")
    assert(SignatureIndex.supersede(spark,
      docsDf(Seq((110L, snippet2))), "doc_id", "text",
      store, "c", minContainment = 0.75).count() === 0)
    // replayed batch: every admitted id is already indexed → no-op
    assert(SignatureIndex.supersede(spark, batch, "doc_id", "text",
      store, "c", minContainment = 0.75).count() === 0)
    assert(SignatureIndex.signatures(spark, store, "c").count() === 4)
    scope.release()
  }

  /** File keys (inodes) under `root` — hard links share an inode with
    * their source, so new-inode bytes count genuinely written data
    * (the OverlaySpec measurement). */
  private def inodeKeys(root: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try w.iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(f => java.nio.file.Files.readAttributes(f,
        classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey.toString)
      .toSet
    finally w.close()
  }

  private def bytesNewInodes(before: Set[String], root: String): Long = {
    import scala.jdk.CollectionConverters._
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try w.iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .filter(f => !before.contains(java.nio.file.Files.readAttributes(f,
        classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey.toString))
      .map(java.nio.file.Files.size(_)).sum
    finally w.close()
  }

  /** `n` unique-token 40-word docs under namespace `ns`. */
  private def uniqueDocs(ns: String, n: Int) =
    (0 until n).map(g => (g.toLong,
      (0 until 40).map(i => s"$ns${g}w$i").mkString(" "))).toDF("doc_id", "text")

  /** The same docs cut to their first 20 tokens, ids offset. */
  private def snippetsOf(ns: String, n: Int, idBase: Long) =
    (0 until n).map(g => (idBase + g,
      (0 until 20).map(i => s"$ns${g}w$i").mkString(" "))).toDF("doc_id", "text")

  test("supersede drain commits O(batch) bytes: tombstones, never a tier rewrite; retired ids cannot re-enter") {
    implicit val scope: CacheScope = new CacheScope
    val small = new TableStore(tmpDir("sigsup-s"))
    val big = new TableStore(tmpDir("sigsup-b"))
    SignatureIndex.build(snippetsOf("a", 100, 0L), "doc_id", "text", pc, small, "c")
    SignatureIndex.build(snippetsOf("a", 1000, 0L), "doc_id", "text", pc, big, "c")
    // 5 full articles of stored snippets 10..14 — each admits and retires
    val batch = uniqueDocs("a", 15).filter($"doc_id" >= 10)
      .select(($"doc_id" + 100000L).as("doc_id"), $"text")
    val beforeS = inodeKeys(small.root)
    assert(SignatureIndex.supersede(spark, batch, "doc_id", "text",
      small, "c", 0.75).count() === 5)
    val bytesS = bytesNewInodes(beforeS, small.root)
    val beforeB = inodeKeys(big.root)
    assert(SignatureIndex.supersede(spark, batch, "doc_id", "text",
      big, "c", 0.75).count() === 5)
    val bytesB = bytesNewInodes(beforeB, big.root)
    assert(bytesS > 0 && bytesB > 0)
    assert(bytesB < 2L * bytesS,
      s"10x the corpus must not move the supersede drain's committed bytes: $bytesS -> $bytesB")
    // served = replaced view despite the base keeping old rows + markers
    val served = SignatureIndex.signatures(spark, big, "c")
    assert(served.count() === 1000)
    assert(served.filter(col("id") === 10L).count() === 0, "subsumed snippet retired")
    assert(served.filter(col("id") === 100010L).count() === 1, "the full article serves")
    // a retired id can never re-enter under its own name while its
    // marker is live (insert-only covers the raw id set)
    assert(SignatureIndex.supersede(spark,
      Seq((10L, (0 until 30).map(i => s"zz$i").mkString(" "))).toDF("doc_id", "text"),
      "doc_id", "text", big, "c", 0.75).count() === 0)
    assert(SignatureIndex.signatures(spark, big, "c")
      .filter(col("id") === 10L).count() === 0)
    scope.release()
  }

  test("supersede tombstones fold into the base past the policy bound; served state unmoved") {
    implicit val scope: CacheScope = new CacheScope
    val store = new TableStore(tmpDir("sigsup-fold"))
    SignatureIndex.build(snippetsOf("a", 1200, 0L), "doc_id", "text", pc, store, "c")
    def fulls(lo: Int, hi: Int) = uniqueDocs("a", hi).filter($"doc_id" >= lo)
      .select(($"doc_id" + 100000L).as("doc_id"), $"text")
    // drain 1: 600 retirements — below the 1024 tombstone floor, so they
    // land in the _rm member (base grows; served swaps); the manifest
    // counters price the policy without any corpus-sized count job
    assert(SignatureIndex.supersede(spark, fulls(0, 600), "doc_id", "text",
      store, "c", 0.75).count() === 600)
    val (m1, _) = SignatureIndex.readManifest(store, "c").get
    assert(m1.nRm === 600 && m1.rm.isDefined, "tombstones live in the _rm member")
    assert(m1.nLive === 1200)
    assert(store.read(spark, "c_rm").count() === 600)
    assert(SignatureIndex.signatures(spark, store, "c").count() === 1200)
    // drain 2: 600 more — tombstones + retired cross the bound, the drain
    // rides the amortized fold and the tombstone pin clears
    assert(SignatureIndex.supersede(spark, fulls(600, 1200), "doc_id", "text",
      store, "c", 0.75).count() === 600)
    val (m2, _) = SignatureIndex.readManifest(store, "c").get
    assert(m2.nRm === 0 && m2.rm.isEmpty, "the fold cleared the tombstones")
    assert(m2.nLive === 1200)
    val served = SignatureIndex.signatures(spark, store, "c")
    assert(served.count() === 1200)
    assert(served.filter(col("id") < 100000L).count() === 0,
      "every snippet is genuinely gone from the folded base")
    // the projection tiers folded WITH the sigs: no retired id's rows ride
    assert(store.read(spark, "c_pos").select(col("id")).distinct().count() === 1200)
    assert(store.read(spark, "c_band").select(col("id")).distinct().count() === 1200)
    scope.release()
  }

  test("supersede passes docs too short to shingle through unindexed (the screen convention)") {
    implicit val scope: CacheScope = new CacheScope
    val store = new TableStore(tmpDir("sigsup-short"))
    SignatureIndex.build(docsDf(Seq((1L, words("a", 0, 40)))),
      "doc_id", "text", pc, store, "c")
    val admitted = SignatureIndex.supersede(spark,
      docsDf(Seq((100L, "tiny"), (101L, words("z", 0, 30)))),
      "doc_id", "text", store, "c", minContainment = 0.75)
      .collect().map(_.getLong(0)).toSet
    assert(admitted === Set(100L, 101L),
      "the unshingleable doc passes through instead of being silently lost")
    // ... but it is recorded nowhere: the index never saw it
    assert(SignatureIndex.signatures(spark, store, "c")
      .collect().map(_.getLong(0)).toSet === Set(1L, 101L))
    scope.release()
  }

  test("supersede preDedupBatch: a snippet and its article in ONE drain admit only the article") {
    implicit val scope: CacheScope = new CacheScope
    val store = new TableStore(tmpDir("sigsup-prededup"))
    SignatureIndex.build(docsDf(Seq((1L, words("x", 0, 40)))),
      "doc_id", "text", pc, store, "c")
    val fullA = words("a", 0, 40)
    val snipA = fullA.split(" ").take(15).mkString(" ")
    val batch = docsDf(Seq(
      (100L, fullA), (101L, snipA),     // same-drain containment pair
      (102L, words("b", 0, 30))))       // disjoint item, unaffected
    // default: micro-batch file boundaries decide — both admit
    val plain = SignatureIndex.supersede(spark, batch, "doc_id", "text",
      store, "c", 0.75).collect().map(_.getLong(0)).toSet
    assert(plain === Set(100L, 101L, 102L))
    // opt-in: the within-batch screen kills the contained snippet first
    val store2 = new TableStore(tmpDir("sigsup-prededup2"))
    SignatureIndex.build(docsDf(Seq((1L, words("x", 0, 40)))),
      "doc_id", "text", pc, store2, "c")
    val deduped = SignatureIndex.supersede(spark, batch, "doc_id", "text",
      store2, "c", 0.75, preDedupBatch = true)
      .collect().map(_.getLong(0)).toSet
    assert(deduped === Set(100L, 102L),
      "the contained snippet dies in-batch; disjoint items are unaffected")
    assert(SignatureIndex.signatures(spark, store2, "c")
      .collect().map(_.getLong(0)).toSet === Set(1L, 100L, 102L))
    scope.release()
  }

  test("keeper: a better near-copy replaces; worse/tie rejects; evolving chain; replay refused; layout guards") {
    implicit val scope: CacheScope = new CacheScope
    val s = spark; import s.implicits._
    val store = new TableStore(tmpDir("sigidx-keep"))
    def doc(ns: String) = (0 until 40).map(i => s"$ns$i").mkString(" ")
    def near(ns: String, tag: String) = doc(ns) + " " + tag
    def qdf(rows: (Long, String, Double)*) = rows.toDF("doc_id", "text", "q")
    SignatureIndex.buildWithQuality(
      qdf((10L, doc("a"), 10.0), (20L, doc("b"), 10.0), (30L, doc("c"), 10.0)),
      "doc_id", "text", "q", pc, store, "c")
    def ids() = SignatureIndex.signatures(spark, store, "c")
      .collect().map(_.getLong(0)).toSet
    // drain 0: better copy of a replaces; worse copy of b rejects;
    // novel admits
    val d0 = qdf((101L, near("a", "x"), 20.0), (102L, near("b", "y"), 5.0),
      (103L, doc("d"), 10.0))
    val adm0 = SignatureIndex.admitKeepBestBatch(spark, d0, 0L,
      "doc_id", "text", "q", store, "c", threshold = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(adm0 === Set(101L, 103L))
    assert(ids() === Set(20L, 30L, 101L, 103L))
    // replayed batchId refused, state unmoved
    assert(SignatureIndex.admitKeepBestBatch(spark, d0, 0L,
      "doc_id", "text", "q", store, "c", threshold = 0.5).count() === 0)
    assert(ids() === Set(20L, 30L, 101L, 103L))
    // drain 1: a still-better copy of DRAIN-0's replacement wins (the
    // a → 101 → 201 chain); a tie against c keeps the incumbent
    val d1 = qdf((201L, near("a", "z"), 30.0), (202L, near("c", "w"), 10.0))
    val adm1 = SignatureIndex.admitKeepBestBatch(spark, d1, 1L,
      "doc_id", "text", "q", store, "c", threshold = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(adm1 === Set(201L))
    assert(ids() === Set(20L, 30L, 103L, 201L))
    // a retired id cannot re-enter under its own name
    assert(SignatureIndex.admitKeepBestBatch(spark,
      qdf((10L, doc("zz"), 99.0)), 2L,
      "doc_id", "text", "q", store, "c", threshold = 0.5).count() === 0)
    assert(!ids().contains(10L))
    // layout guards both ways
    val keeper = intercept[IllegalArgumentException] {
      SignatureIndex.append(spark, Seq((900L, doc("e"))).toDF("doc_id", "text"),
        "doc_id", "text", store, "c")
    }
    val plain = new TableStore(tmpDir("sigidx-keep-plain"))
    SignatureIndex.build(corpus(), "doc_id", "text", p, plain, "c")
    val plainErr = intercept[IllegalArgumentException] {
      SignatureIndex.admitKeepBestBatch(spark, qdf((901L, doc("f"), 1.0)), 0L,
        "doc_id", "text", "q", plain, "c", threshold = 0.5).count()
    }
    // the message names only entry points that exist: no admit*Stream face does
    for (e <- Seq(keeper, plainErr))
      assert("""admit\w*Stream""".r.findFirstIn(e.getMessage).isEmpty, e.getMessage)
    scope.release()
  }

  test("append keeps every tier's per-bucket file count bounded across many drains") {
    val store = new TableStore(tmpDir("sigidx-filecap"))
    SignatureIndex.build(corpus(), "doc_id", "text", p, store, "c")
    // 20 one-doc appends: without the fold-in compaction the pos tier's
    // buckets would average 20*32/64 = 10 files; the bound is 8
    (0 until 20).foreach { k =>
      SignatureIndex.append(spark,
        Seq((1000L + k, (0 until 12).map(j => s"n${k}w$j").mkString(" ")))
          .toDF("doc_id", "text"),
        "doc_id", "text", store, "c")
      Seq("c_sigs", "c_pos", "c_band").foreach { tbl =>
        val counts = store.bucketFileCounts(tbl)
        assert(counts.isEmpty || counts.values.max <= 8,
          s"drain $k left ${counts.values.max} files in a $tbl bucket")
      }
    }
    assert(SignatureIndex.signatures(spark, store, "c").count() === 23)
    // the compacted index still screens: a replay of an admitted doc drops
    implicit val scope: CacheScope = new CacheScope
    val kept = SignatureIndex.screen(spark,
      Seq((9999L, (0 until 12).map(j => s"n5w$j").mkString(" ")))
        .toDF("doc_id", "text"),
      "doc_id", "text", store, "c", threshold = 0.5).count()
    assert(kept === 0L)
    scope.release()
  }

  test("startSupersede drains ≡ the same sequential supersede folds") {
    val root = tmpDir("sigidx-sup-stream")
    val store = new TableStore(s"$root/idx")
    val fullA = words("a", 0, 40)
    val snippetA = fullA.split(" ").take(15).mkString(" ")
    SignatureIndex.build(docsDf(Seq((1L, snippetA))),
      "doc_id", "text", pc, store, "c")
    val drains = Seq(
      docsDf(Seq((100L, fullA))),                       // supersedes snippet 1
      docsDf(Seq((110L, fullA.split(" ").take(15).mkString(" ")), // clip of drain-1 admission → reject
        (111L, words("f", 0, 30)))))                    // novel → admit
    SparkEntry.stageDrains(root, drains)
    val stageDir = java.nio.file.Paths.get(root, "stage")
    val schema = spark.read.parquet(stageDir.toString).schema
    val sunk = scala.collection.mutable.Set[Long]()
    graft.streaming.AdmissionStream.startSupersede(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(stageDir.toString),
      "doc_id", "text", store, "c", minContainment = 0.75,
      s"$root/chk", adm => sunk ++= adm.collect().map(_.getLong(0)))
      .awaitTermination()
    assert(sunk.toSet === Set(100L, 111L),
      "drained sink sees exactly the admitted rows")
    assert(SignatureIndex.signatures(spark, store, "c")
      .collect().map(_.getLong(0)).toSet === Set(100L, 111L),
      "snippet superseded by drain 1; drain 2's clip rejected BY that admission")
  }
}
