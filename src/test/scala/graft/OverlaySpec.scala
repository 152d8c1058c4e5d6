package graft

import org.apache.spark.sql.functions._

import graft.operators.{CacheScope, FrameIndex, IndexTier, IvfIndex, PerceptualIndex, PostingsIndex, PqIndex, TableStore}

/** The revision overlay's cost and semantics contracts (VERDICT r14 #1):
  *
  *  - an upsert's COMMITTED BYTES are O(batch ∪ overlay), independent of
  *    corpus size — measured as the file bytes created under the store
  *    root during the upsert, at two corpus scales;
  *  - repeated revisions of the SAME id serve latest-wins through the
  *    read-time merge;
  *  - [[IvfIndex.compactOverlay]]/[[PostingsIndex.compactOverlay]] fold
  *    the overlay into the base without moving the served state, and
  *    clear the overlay pins;
  *  - insert-only append after an overlay-only insert does NOT duplicate
  *    the id; remove folds the overlay and clears it;
  *  - quantizeStored over a live float overlay leaves a complete int8
  *    base and clears the int8 overlay.
  */
class OverlaySpec extends SparkSpec {

  // ---------------------------------------------------------------- helpers

  private def vec(i: Int, bump: Double = 0.0): Array[Float] =
    Array.tabulate(8)(d => (math.sin(i * 31 + d * 7) + bump).toFloat)

  private def vdf(ids: Range, bump: Double = 0.0) = {
    val s = spark; import s.implicits._
    ids.map(i => (i.toLong, vec(i, bump))).toDF("vec_id", "embedding")
  }

  /** Bounded-vocabulary docs: term set is constant in the corpus size, so
    * the termstats merge-rewrite is corpus-size-independent and the bytes
    * assertion isolates the corpus-sized tiers. */
  private def ddf(ids: Range, suffix: String = "") = {
    val s = spark; import s.implicits._
    ids.map(i => (i.toLong,
      s"alpha${i % 13} common beta${i % 7} shared$suffix")).toDF("doc_id", "text")
  }

  /** Every regular file under `root`, path → size. */
  private def treeFiles(root: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) return Map.empty
    val w = java.nio.file.Files.walk(p)
    try w.iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(f => f.toString -> java.nio.file.Files.size(f)).toMap
    finally w.close()
  }

  /** Bytes of files that exist now but did not exist in `before` —
    * the committed bytes of whatever ran in between. */
  private def bytesCreatedSince(before: Map[String, Long], root: String): Long =
    treeFiles(root).collect { case (p, sz) if !before.contains(p) => sz }.sum

  private def buildIvf(store: TableStore, n: Int): Unit = {
    implicit val scope: CacheScope = new CacheScope
    try {
      IvfIndex.build(vdf(1 to n), "vec_id", "embedding",
        nCells = 4, iterations = 1, store, "emb")
      IvfIndex.quantizeStored(spark, store, "emb")
      PqIndex.buildStored(spark, store, "emb", m = 4, nCodes = 8, iterations = 1)
    } finally scope.release()
  }

  // ------------------------------------------------------- committed bytes

  test("IVF upsert commits O(batch) bytes — corpus-size-independent, a sliver of the base") {
    val small = new TableStore(tmpDir("ovl-bytes-s"))
    val big = new TableStore(tmpDir("ovl-bytes-b"))
    buildIvf(small, 240)
    buildIvf(big, 2400)
    val batch = vdf(10 to 17, bump = 0.5)
    val beforeS = treeFiles(small.root)
    IvfIndex.upsert(spark, batch, "vec_id", "embedding", small, "emb")
    val bytesS = bytesCreatedSince(beforeS, small.root)
    val beforeB = treeFiles(big.root)
    IvfIndex.upsert(spark, batch, "vec_id", "embedding", big, "emb")
    val bytesB = bytesCreatedSince(beforeB, big.root)
    assert(bytesS > 0 && bytesB > 0)
    assert(bytesB < 2L * bytesS,
      s"10x the corpus must not move the upsert's committed bytes: $bytesS -> $bytesB")
    val (m, _) = IvfIndex.readManifest(big, "emb").get
    val baseBytes = big.byteSizeAt("emb_vectors", m.vectors) +
      big.byteSizeAt("emb_qvectors", m.qvectors.get) +
      big.byteSizeAt("emb_pq_codes", m.pqCodes.get)
    assert(bytesB < baseBytes,
      s"a revision batch ($bytesB B) must not rewrite the base tiers ($baseBytes B)")
    assert(m.ovlVectors.isDefined && m.ovlQvectors.isDefined && m.ovlPqCodes.isDefined,
      "the batch landed in the overlay, not the base")
  }

  test("postings upsert commits O(batch) bytes — corpus-size-independent") {
    val small = new TableStore(tmpDir("ovl-bm-bytes-s"))
    val big = new TableStore(tmpDir("ovl-bm-bytes-b"))
    PostingsIndex.build(ddf(1 to 200), "doc_id", "text", small, "bm")
    PostingsIndex.build(ddf(1 to 2000), "doc_id", "text", big, "bm")
    val batch = ddf(10 to 17, "x")
    val beforeS = treeFiles(small.root)
    PostingsIndex.upsert(spark, batch, "doc_id", "text", small, "bm")
    val bytesS = bytesCreatedSince(beforeS, small.root)
    val beforeB = treeFiles(big.root)
    PostingsIndex.upsert(spark, batch, "doc_id", "text", big, "bm")
    val bytesB = bytesCreatedSince(beforeB, big.root)
    assert(bytesS > 0 && bytesB > 0)
    assert(bytesB < 2L * bytesS,
      s"10x the corpus must not move the upsert's committed bytes: $bytesS -> $bytesB")
    val (m, _) = PostingsIndex.readManifest(big, "bm").get
    val baseBytes = big.byteSizeAt("bm_postings", m.postings) +
      big.byteSizeAt("bm_docs", m.docs)
    assert(bytesB < baseBytes,
      s"a revision batch ($bytesB B) must not rewrite the base tiers ($baseBytes B)")
    assert(m.ovlPostings.isDefined && m.ovlDocs.isDefined)
  }

  /** Corpus-GROWING vocabulary (every doc contributes unique terms) — the
    * regime where the old per-drain `_termstats` merge-rewrite was
    * ∝ vocabulary (Heaps' law made it the last super-batch-sized
    * per-drain write). */
  private def uddf(ids: Range, suffix: String = "") = {
    val s = spark; import s.implicits._
    ids.map(i => (i.toLong,
      s"u${i}a$suffix u${i}b u${i}c common shared")).toDF("doc_id", "text")
  }

  test("postings upsert commits O(batch-terms) — flat under a corpus-growing vocabulary") {
    val small = new TableStore(tmpDir("ovl-bm-vocab-s"))
    val big = new TableStore(tmpDir("ovl-bm-vocab-b"))
    PostingsIndex.build(uddf(1 to 200), "doc_id", "text", small, "bm")
    PostingsIndex.build(uddf(1 to 2000), "doc_id", "text", big, "bm")
    val batch = uddf(10 to 17, "x")
    val beforeS = treeFiles(small.root)
    PostingsIndex.upsert(spark, batch, "doc_id", "text", small, "bm")
    val bytesS = bytesCreatedSince(beforeS, small.root)
    val beforeB = treeFiles(big.root)
    PostingsIndex.upsert(spark, batch, "doc_id", "text", big, "bm")
    val bytesB = bytesCreatedSince(beforeB, big.root)
    assert(bytesS > 0 && bytesB > 0)
    assert(bytesB < 2L * bytesS,
      s"10x the vocabulary must not move the upsert's committed bytes: $bytesS -> $bytesB")
    // the drain landed a termstats DELTA, not a vocabulary-sized rewrite
    val (m, _) = PostingsIndex.readManifest(big, "bm").get
    assert(m.dltTermStats.isDefined, "the df adjustment rides the delta member")
    assert(big.byteSizeAt("bm_termstats_dlt", m.dltTermStats.get) <
      big.byteSizeAt("bm_termstats", m.termStats) / 4,
      "the delta member stays a sliver of the authoritative table")
  }

  // ------------------------------------------------- keeper tombstones

  private def ksig(g: Int, perturb: Int = 0): Long =
    (0x9E3779B97F4A7C15L * (g + 1)) & ~0x3FL | (perturb.toLong & 0x3FL)

  private def kdf(gs: Range, perturb: Int = 0, idBase: Long = 0L, q: Double = 10.0) = {
    val s = spark; import s.implicits._
    gs.map(g => (idBase + g * 10L, ksig(g, perturb), q)).toDF("id", "sig", "q")
  }

  /** File keys (inodes) under `root` — hard-linked carries of old part
    * files share an inode with their source, so measuring NEW inodes
    * counts genuinely written bytes, not link-reuse of committed ones. */
  private def inodeKeys(root: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) return Set.empty
    val w = java.nio.file.Files.walk(p)
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

  test("keeper replacement drain commits O(batch) bytes — corpus-size-independent") {
    val small = new TableStore(tmpDir("rm-bytes-s"))
    val big = new TableStore(tmpDir("rm-bytes-b"))
    PerceptualIndex.buildWithQuality(kdf(0 until 200), maxHamming = 6, small, "img")
    PerceptualIndex.buildWithQuality(kdf(0 until 2000), maxHamming = 6, big, "img")
    // 8 better copies of stored groups 10..17 — every one replaces
    val batch = kdf(10 until 18, perturb = 1, idBase = 1000000L, q = 99.0)
    val beforeS = inodeKeys(small.root)
    assert(PerceptualIndex.admitKeepBestBatch(spark, batch, 0L, small, "img"))
    val bytesS = bytesNewInodes(beforeS, small.root)
    val beforeB = inodeKeys(big.root)
    assert(PerceptualIndex.admitKeepBestBatch(spark, batch, 0L, big, "img"))
    val bytesB = bytesNewInodes(beforeB, big.root)
    assert(bytesS > 0 && bytesB > 0)
    assert(bytesB < 2L * bytesS,
      s"10x the corpus must not move the keeper drain's committed bytes: $bytesS -> $bytesB")
    val (m, _) = PerceptualIndex.readManifest(big, "img").get
    assert(m.rmSigs.isDefined, "the retirements landed in the tombstone member")
    assert(bytesB < big.byteSizeAt("img_sigs", m.sigs),
      s"a replacement drain ($bytesB B) must not rewrite the sigs member")
    // served state is the replaced view despite the base keeping old rows
    val served = PerceptualIndex.signatures(spark, big, "img")
    assert(served.count() === 2000)
    assert(served.filter(col("id") === 100L).count() === 0, "replaced id retired")
    assert(served.filter(col("id") === 1000100L).count() === 1, "replacement serves")
  }

  test("keeper tombstones fold into the base past the policy bound; served state unmoved") {
    val s = spark; import s.implicits._
    val store = new TableStore(tmpDir("rm-fold"))
    // LONG incompressible string ids (the id column is type-generic —
    // think crawl URLs/content digests) so 3k retirements clear the
    // 1 MiB policy floor while the 64-bit band buckets stay cold
    def rid(g: Int, salt: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until 24).map { j =>
        f"${new java.math.BigInteger(1, md.digest(s"$salt:$g:$j".getBytes)) }%032x"
      }.mkString
    }
    def wide(n: Int, salt: String, q: Double) =
      (0 until n).map(g => (rid(g, salt), ksig(g), q)).toDF("id", "sig", "q")
    PerceptualIndex.buildWithQuality(wide(3000, "base", q = 1.0),
      maxHamming = 6, store, "img")
    // drain 0: better copies of EVERYTHING — 3k long-id retirements > 1 MiB
    assert(PerceptualIndex.admitKeepBestBatch(spark,
      wide(3000, "recrawl", q = 2.0), 0L, store, "img"))
    val (m1, _) = PerceptualIndex.readManifest(store, "img").get
    assert(m1.rmSigs.isDefined)
    assert(store.byteSizeAt("img_rm", m1.rmSigs.get) > (1L << 20),
      "fixture sized past the policy floor")
    val servedBefore = PerceptualIndex.signatures(spark, store, "img").count()
    // drain 1: the PRE-batch tombstones exceed the policy -> this batch
    // rides the amortized fold; the pin clears, the count moves by one
    assert(PerceptualIndex.admitKeepBestBatch(spark,
      Seq((rid(7, "novel"), ksig(500000), 5.0)).toDF("id", "sig", "q"),
      1L, store, "img"))
    val (m2, _) = PerceptualIndex.readManifest(store, "img").get
    assert(m2.rmSigs.isEmpty, "the policy fold clears the tombstone pin")
    assert(PerceptualIndex.signatures(spark, store, "img").count()
      === servedBefore + 1)
    assert(PerceptualIndex.signatures(spark, store, "img")
      .filter(col("q") === 1.0).count() === 0,
      "every replaced original is genuinely gone from the folded base")
  }

  // --------------------------------------------- frame supersede tombstones

  private def fsig(g: Int, f: Int): Long =
    (0x9E3779B97F4A7C15L * (g * 31 + f * 7 + 1)) & ~0x3FL

  /** 2-frame CLIPS, one per group, id = g*10. */
  private def clipDf(gs: Range) = {
    val s = spark; import s.implicits._
    gs.flatMap(g => (0 until 2).map(f => (g * 10L, f, fsig(g, f))))
      .toDF("id", "frame", "sig")
  }

  /** 6-frame FULL cuts of the same groups (frames 0–1 shared). */
  private def fullDf(gs: Range, idBase: Long) = {
    val s = spark; import s.implicits._
    gs.flatMap(g => (0 until 6).map(f => (idBase + g * 10L, f, fsig(g, f))))
      .toDF("id", "frame", "sig")
  }

  test("video supersede drain commits O(batch) bytes — corpus-size-independent") {
    val small = new TableStore(tmpDir("fr-rm-s"))
    val big = new TableStore(tmpDir("fr-rm-b"))
    FrameIndex.build(clipDf(0 until 200), maxHamming = 6,
      minContainment = 0.99, small, "vid")
    FrameIndex.build(clipDf(0 until 2000), maxHamming = 6,
      minContainment = 0.99, big, "vid")
    // 8 full cuts of stored clip groups 10..17 — each admits (2 of its 6
    // frames shared) and SUPERSEDES its clip (2/2 contained in it)
    val batch = fullDf(10 until 18, idBase = 1000000L)
    val beforeS = inodeKeys(small.root)
    assert(FrameIndex.admitSupersedeBatch(spark, batch, 0L, small, "vid"))
    val bytesS = bytesNewInodes(beforeS, small.root)
    val beforeB = inodeKeys(big.root)
    assert(FrameIndex.admitSupersedeBatch(spark, batch, 0L, big, "vid"))
    val bytesB = bytesNewInodes(beforeB, big.root)
    assert(bytesS > 0 && bytesB > 0)
    assert(bytesB < 2L * bytesS,
      s"10x the corpus must not move the supersede drain's committed bytes: $bytesS -> $bytesB")
    val (m, _) = FrameIndex.readManifest(big, "vid").get
    assert(m.rmFrames.isDefined, "the retirements landed in the tombstone member")
    assert(bytesB < big.byteSizeAt("vid_frames", m.frames),
      s"a supersede drain ($bytesB B) must not rewrite the frames member")
    // served state is the superseded view despite the base keeping old rows
    val served = FrameIndex.frames(spark, big, "vid")
    assert(served.select(col("id")).distinct().count() === 2000)
    assert(served.filter(col("id") === 100L).count() === 0, "subsumed clip retired")
    assert(served.filter(col("id") === 1000100L).count() === 6, "the full cut serves whole")
  }

  // -------------------------------------------------- overlay-of-overlay

  test("repeated revisions of the same ids serve latest-wins; compaction moves nothing") {
    val store = new TableStore(tmpDir("ovl-latest"))
    buildIvf(store, 120)
    IvfIndex.upsert(spark, vdf(1 to 5, bump = 0.3), "vec_id", "embedding", store, "emb")
    IvfIndex.upsert(spark, vdf(3 to 8, bump = 0.6), "vec_id", "embedding", store, "emb")
    def served: Map[Long, Seq[Double]] =
      IvfIndex.vectors(spark, store, "emb").collect()
        .map(r => r.getLong(0) -> (r.getSeq[Double](1): Seq[Double])).toMap
    val s1 = served
    assert(s1.size === 120, "replacement never changes cardinality")
    assert(s1(3L) === vec(3, 0.6).map(_.toDouble).toSeq,
      "id revised twice serves the LATEST revision")
    assert(s1(1L) === vec(1, 0.3).map(_.toDouble).toSeq,
      "id revised once keeps its revision")
    assert(s1(20L) === vec(20).map(_.toDouble).toSeq, "untouched id unchanged")
    IvfIndex.compactOverlay(spark, store, "emb")
    val (m, _) = IvfIndex.readManifest(store, "emb").get
    assert(m.ovlVectors.isEmpty && m.ovlQvectors.isEmpty && m.ovlPqCodes.isEmpty,
      "compaction clears every overlay pin")
    assert(served === s1, "compaction must not move the served state")
    assert(IvfIndex.quantizedVectors(spark, store, "emb").count() === 120)
    assert(PqIndex.codes(spark, store, "emb").count() === 120)
  }

  test("postings: repeated revisions serve latest-wins; compaction preserves served scores") {
    val store = new TableStore(tmpDir("ovl-bm-latest"))
    PostingsIndex.build(ddf(1 to 100), "doc_id", "text", store, "bm")
    PostingsIndex.upsert(spark, ddf(40 to 44, " reva"), "doc_id", "text", store, "bm")
    PostingsIndex.upsert(spark, ddf(42 to 46, " revb"), "doc_id", "text", store, "bm")
    implicit val scope: CacheScope = new CacheScope
    val s = spark; import s.implicits._
    def serve: Seq[(Long, Double)] =
      PostingsIndex.topK(spark,
          Seq((0L, Seq("revb", "reva", "common"))).toDF("q_id", "terms"),
          "q_id", "terms", store, "bm", k = 20)
        .select(col("doc_id"), round(col("bm25"), 9))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted
    try {
      val before = serve
      // doc 42 was revised twice: it must match 'revb', not 'reva'
      val revbDocs = PostingsIndex.postings(spark, store, "bm")
        .filter(col("term") === "revb").select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet
      assert(revbDocs === (42 to 46).map(_.toLong).toSet)
      val revaDocs = PostingsIndex.postings(spark, store, "bm")
        .filter(col("term") === "reva").select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet
      assert(revaDocs === Set(40L, 41L), "docs 42..44's reva revision was superseded")
      PostingsIndex.compactOverlay(spark, store, "bm")
      val (m, _) = PostingsIndex.readManifest(store, "bm").get
      assert(m.ovlPostings.isEmpty && m.ovlDocs.isEmpty)
      assert(serve === before, "compaction must not move served scores")
    } finally scope.release()
  }

  // ------------------------------------------------- composition contracts

  test("append after an overlay-only insert does not duplicate; remove folds the overlay") {
    val store = new TableStore(tmpDir("ovl-compose"))
    buildIvf(store, 120)
    // id 500 enters through the overlay (brand-new insert via upsert)
    IvfIndex.upsert(spark, vdf(500 to 500, bump = 0.2), "vec_id", "embedding", store, "emb")
    // an append carrying 500 again (stale copy) plus genuinely new 501
    IvfIndex.append(spark, vdf(500 to 501), "vec_id", "embedding", store, "emb")
    val served = IvfIndex.vectors(spark, store, "emb")
    assert(served.filter(col("id") === 500L).count() === 1, "no duplicate id")
    assert(served.filter(col("id") === 500L).select(col("v")).head().getSeq[Double](0)
      === vec(500, 0.2).map(_.toDouble).toSeq,
      "the overlay's revision wins over the stale re-append")
    assert(served.count() === 122)
    val s = spark; import s.implicits._
    val removed = IvfIndex.remove(spark,
      Seq(500L, 10L).toDF("vec_id"), store, "emb")
    assert(removed === 2L)
    val (m, _) = IvfIndex.readManifest(store, "emb").get
    assert(m.ovlVectors.isEmpty, "remove folds and clears the overlay")
    assert(IvfIndex.vectors(spark, store, "emb").count() === 120)
  }

  test("the automatic policy fold: an oversized overlay rides the next upsert into the base") {
    val s = spark; import s.implicits._
    // wide vectors so the overlay clears the 1 MiB floor: dim 64 doubles,
    // ~3000 rows ≈ 1.5 MB of incompressible sin() payload
    def wdf(ids: Range, bump: Double = 0.0) =
      ids.map(i => (i.toLong,
        Array.tabulate(64)(d => (math.sin(i * 31 + d * 7) + bump).toFloat)))
        .toDF("vec_id", "embedding")
    val store = new TableStore(tmpDir("ovl-autofold"))
    implicit val scope: CacheScope = new CacheScope
    try {
      IvfIndex.build(wdf(1 to 500), "vec_id", "embedding",
        nCells = 4, iterations = 1, store, "emb")
      // every sibling tier built, so the fold rewrites int8 and PQ too
      IvfIndex.quantizeStored(spark, store, "emb")
      PqIndex.buildStored(spark, store, "emb", m = 4, nCodes = 8, iterations = 1)
      // upsert #1: lands in the overlay (pre-batch overlay is empty)
      IvfIndex.upsert(spark, wdf(1000 to 4999, bump = 0.2),
        "vec_id", "embedding", store, "emb")
      val (m1, _) = IvfIndex.readManifest(store, "emb").get
      assert(m1.ovlVectors.isDefined, "first revision batch lands in the overlay")
      assert(store.byteSizeAt("emb_vectors_ovl", m1.ovlVectors.get) >
        IndexTier.OvlFloorBytes, "fixture sized past the policy floor")
      // upsert #2: the PRE-batch overlay exceeds the policy -> this batch
      // rides the amortized fold; every overlay pin clears
      IvfIndex.upsert(spark, wdf(10 to 14, bump = 0.7),
        "vec_id", "embedding", store, "emb")
      val (m2, _) = IvfIndex.readManifest(store, "emb").get
      assert(m2.ovlVectors.isEmpty && m2.ovlQvectors.isEmpty && m2.ovlPqCodes.isEmpty,
        "the policy fold clears the overlay pins")
      val served = IvfIndex.vectors(spark, store, "emb")
      // 500 base (ids 10..14 REPLACED, not added) + 4000 overlay inserts
      assert(served.count() === 4500)
      val v12 = served.filter(col("id") === 12L).select(col("v")).head().getSeq[Double](0)
      assert(v12(0) === (math.sin(12 * 31) + 0.7).toFloat.toDouble,
        "the folding batch's own revision serves")
      val v2k = served.filter(col("id") === 2000L).select(col("v")).head().getSeq[Double](0)
      assert(v2k(0) === (math.sin(2000 * 31) + 0.2).toFloat.toDouble,
        "the folded overlay's rows serve from the base")
      // the siblings folded the same batch: complete, and id 12's int8
      // scale is the folding revision's max |component| / 127
      val q = IvfIndex.quantizedVectors(spark, store, "emb")
      assert(q.count() === 4500)
      assert(PqIndex.codes(spark, store, "emb").count() === 4500)
      val scale12 = q.filter(col("id") === 12L).select(col("scale")).head().getDouble(0)
      val want12 = (0 until 64).map(d =>
        math.abs((math.sin(12 * 31 + d * 7) + 0.7).toFloat.toDouble)).max / 127.0
      assert(math.abs(scale12 - want12) < 1e-12, s"int8 scale $scale12 != $want12")
    } finally scope.release()
  }

  test("postings automatic policy fold: oversized overlay rides the next upsert into the base") {
    val s = spark; import s.implicits._
    // semi-unique long texts defeat parquet dictionary compression so the
    // postings overlay clears the 1 MiB floor
    def bigDdf(ids: Range, suffix: String = "") =
      ids.map(i => (i.toLong,
        (0 until 120).map(j => s"w${(i * 31 + j * 17) % 7919}x$i").mkString(" ") +
          s" common$suffix")).toDF("doc_id", "text")
    val store = new TableStore(tmpDir("ovl-bm-autofold"))
    PostingsIndex.build(bigDdf(1 to 300), "doc_id", "text", store, "bm")
    PostingsIndex.upsert(spark, bigDdf(1000 to 2999, "r"), "doc_id", "text", store, "bm")
    val (m1, _) = PostingsIndex.readManifest(store, "bm").get
    assert(m1.ovlPostings.isDefined)
    assert(store.byteSizeAt("bm_postings_ovl", m1.ovlPostings.get) >
      (1L << 20), "fixture sized past the policy floor")
    PostingsIndex.upsert(spark, bigDdf(5 to 9, "z"), "doc_id", "text", store, "bm")
    val (m2, _) = PostingsIndex.readManifest(store, "bm").get
    assert(m2.ovlPostings.isEmpty && m2.ovlDocs.isEmpty,
      "the policy fold clears the overlay pins")
    assert(m2.nDocs === 2300)
    // both the folded overlay's docs and the folding batch's serve
    val terms = PostingsIndex.postings(spark, store, "bm")
      .filter(col("term").isin("commonr", "commonz"))
      .groupBy(col("term")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(terms("commonr") === 2000L && terms("commonz") === 5L)
  }

  test("quantizeStored over a live float overlay: complete int8 base, overlay cleared") {
    val store = new TableStore(tmpDir("ovl-quant"))
    implicit val scope: CacheScope = new CacheScope
    try {
      IvfIndex.build(vdf(1 to 100), "vec_id", "embedding",
        nCells = 4, iterations = 1, store, "emb")
      IvfIndex.upsert(spark, vdf(5 to 9, bump = 0.4), "vec_id", "embedding", store, "emb")
      IvfIndex.quantizeStored(spark, store, "emb")
      val (m, _) = IvfIndex.readManifest(store, "emb").get
      assert(m.ovlVectors.isDefined, "float overlay still live")
      assert(m.ovlQvectors.isEmpty, "int8 overlay cleared — the base covers it")
      val q = IvfIndex.quantizedVectors(spark, store, "emb")
      assert(q.count() === 100)
      // the revised id's quantized row reflects the REVISED vector: its
      // scale is max|component|/127 of the bumped values
      val scale = q.filter(col("id") === 7L).select(col("scale")).head().getDouble(0)
      val expected = vec(7, 0.4).map(v => math.abs(v.toDouble)).max / 127.0
      assert(math.abs(scale - expected) < 1e-12,
        "int8 base quantizes the SERVED (revised) float view")
    } finally scope.release()
  }
}
