package graft

import org.apache.spark.sql.functions._

import graft.operators.{CacheScope, IvfIndex, PostingsIndex, PqIndex, TableStore}

/** Single-swap UPSERT across both persisted index families: replace-or-
  * insert must commit every tier through ONE manifest swap, so
  *
  *  - a reader landing mid-mutation sees the OLD state or the NEW state,
  *    never an id absent from both (the remove-then-append window this
  *    operator exists to close) — forced deterministically with a latch
  *    store pausing between member commits;
  *  - a crash between member commits is invisible (orphans), and the
  *    retried upsert lands bit-equal to a clean run;
  *  - the final state equals remove + append of the same rows (the
  *    two-swap path it replaces), tier by tier.
  */
class UpsertSpec extends SparkSpec {

  // ------------------------------------------------------------------ IVF

  private def vec(i: Int, bump: Double = 0.0): Array[Float] =
    Array.tabulate(8)(d => (math.sin(i * 31 + d * 7) + bump).toFloat)

  private def vdf(ids: Range, bump: Double = 0.0) = {
    val s = spark; import s.implicits._
    ids.map(i => (i.toLong, vec(i, bump))).toDF("vec_id", "embedding")
  }

  private def buildIvf(store: TableStore): Unit = {
    implicit val scope: CacheScope = new CacheScope
    try {
      IvfIndex.build(vdf(1 to 120), "vec_id", "embedding",
        nCells = 4, iterations = 1, store, "emb")
      IvfIndex.quantizeStored(spark, store, "emb")
      PqIndex.buildStored(spark, store, "emb", m = 4, nCodes = 8, iterations = 1)
    } finally scope.release()
  }

  /** Every tier's SERVED rows (overlay-merged), as comparable values. */
  private def ivfState(store: TableStore): (Seq[(Long, Int)], Long, Long) = {
    val floats = IvfIndex.vectors(spark, store, "emb")
      .orderBy(col("id")).collect().map(r => (r.getLong(0), r.getInt(2))).toSeq
    val q = IvfIndex.quantizedVectors(spark, store, "emb").count()
    val p = PqIndex.codes(spark, store, "emb").count()
    (floats, q, p)
  }

  test("IVF upsert ≡ remove + append, across float, int8 and PQ tiers") {
    val a = new TableStore(tmpDir("ups-ivf-a"))
    val b = new TableStore(tmpDir("ups-ivf-b"))
    buildIvf(a); buildIvf(b)
    // ids 50..59 change their vectors; ids 200..204 are brand new
    val batch = vdf(50 to 59, bump = 0.5).unionByName(vdf(200 to 204, bump = 0.5))
    val replaced = IvfIndex.upsert(spark, batch, "vec_id", "embedding", a, "emb")
    assert(replaced === 10L, s"10 ids existed before, got $replaced")
    val s = spark; import s.implicits._
    IvfIndex.remove(spark, (50 to 59).map(_.toLong).toDF("vec_id"), b, "emb")
    IvfIndex.append(spark, batch, "vec_id", "embedding", b, "emb")
    assert(ivfState(a)._1 === ivfState(b)._1, "float tier must match two-swap path")
    assert(ivfState(a)._2 === ivfState(b)._2, "int8 tier row count")
    assert(ivfState(a)._3 === ivfState(b)._3, "PQ tier row count")
    // the changed vectors actually serve their NEW values
    implicit val scope: CacheScope = new CacheScope
    try {
      val stored = IvfIndex.vectors(spark, a, "emb")
        .filter(col("id") === 55L).select(col("v")).collect().head
        .getSeq[Double](0)
      val expected = vec(55, bump = 0.5).map(_.toDouble).toSeq
      assert(stored === expected, "upsert must store the REPLACED vector")
    } finally scope.release()
  }

  test("IVF upsert of only-new ids ≡ append") {
    val a = new TableStore(tmpDir("ups-ivf-new-a"))
    val b = new TableStore(tmpDir("ups-ivf-new-b"))
    buildIvf(a); buildIvf(b)
    assert(IvfIndex.upsert(spark, vdf(300 to 320), "vec_id", "embedding", a, "emb") === 0L)
    IvfIndex.append(spark, vdf(300 to 320), "vec_id", "embedding", b, "emb")
    assert(ivfState(a)._1 === ivfState(b)._1)
  }

  /** Pauses the NEXT commit of one named table (latch handshake) so a
    * reader can be forced into the window between member commits. */
  private class PausingStore(root: String) extends TableStore(root) {
    @volatile var pauseTable: Option[String] = None
    val reached = new java.util.concurrent.CountDownLatch(1)
    val proceed = new java.util.concurrent.CountDownLatch(1)
    override private[graft] def commitStaged(
        name: String, expected: Option[Int], staging: java.nio.file.Path,
        spec: Option[graft.operators.BucketSpec]): Int = {
      if (pauseTable.contains(name)) {
        pauseTable = None
        reached.countDown()
        proceed.await()
      }
      super.commitStaged(name, expected, staging, spec)
    }
  }

  test("IVF reader between upsert member commits sees the OLD vector, never absence") {
    val store = new PausingStore(tmpDir("ups-ivf-window"))
    buildIvf(store)
    val oldV = IvfIndex.vectors(spark, store, "emb")
      .filter(col("id") === 60L).select(col("v")).collect().head.getSeq[Double](0)
    // pause at the int8 OVERLAY member commit: the float overlay member
    // has already committed (as an orphan) — exactly the mid-mutation
    // window
    store.pauseTable = Some("emb_qvectors_ovl")
    val task = new java.util.concurrent.FutureTask[Long](() =>
      IvfIndex.upsert(spark, vdf(60 to 60, bump = 0.9), "vec_id", "embedding",
        store, "emb"))
    new Thread(task).start()
    assert(store.reached.await(120, java.util.concurrent.TimeUnit.SECONDS),
      "upsert must reach the int8 member commit")
    // the reader resolves the manifest NOW — mid-mutation
    val midV = IvfIndex.vectors(spark, store, "emb")
      .filter(col("id") === 60L).select(col("v")).collect()
    assert(midV.length === 1, "id 60 must never be ABSENT mid-upsert")
    assert(midV.head.getSeq[Double](0) === oldV,
      "mid-mutation reader serves the OLD committed vector")
    store.proceed.countDown()
    assert(task.get() === 1L)
    val newV = IvfIndex.vectors(spark, store, "emb")
      .filter(col("id") === 60L).select(col("v")).collect().head.getSeq[Double](0)
    assert(newV !== oldV, "after the swap the NEW vector serves")
  }

  test("IVF crash mid-upsert is invisible; the retry lands bit-equal to a clean run") {
    val store = new CrashStore(tmpDir("ups-ivf-crash"))
    buildIvf(store)
    val before = ivfState(store)
    store.failTable = Some("emb_qvectors_ovl")
    intercept[RuntimeException] {
      IvfIndex.upsert(spark, vdf(70 to 74, bump = 0.5), "vec_id", "embedding",
        store, "emb")
    }
    store.failTable = None
    assert(ivfState(store) === before, "crashed upsert must be invisible")
    assert(IvfIndex.upsert(spark, vdf(70 to 74, bump = 0.5), "vec_id", "embedding",
      store, "emb") === 5L)
    val clean = new TableStore(tmpDir("ups-ivf-crash-clean"))
    buildIvf(clean)
    IvfIndex.upsert(spark, vdf(70 to 74, bump = 0.5), "vec_id", "embedding",
      clean, "emb")
    assert(ivfState(store)._1 === ivfState(clean)._1,
      "crash + retry must equal the clean upsert")
  }

  // ------------------------------------------------------------- postings

  private def ddf(ids: Range, suffix: String = "") = {
    val s = spark; import s.implicits._
    ids.map(i => (i.toLong,
      s"term${i % 7} common shared term${i % 11} tail$i$suffix")).toDF("doc_id", "text")
  }

  private def serveBm(store: TableStore): Seq[(Long, Long, Double)] = {
    implicit val scope: CacheScope = new CacheScope
    val s = spark; import s.implicits._
    try PostingsIndex.topK(spark,
        Seq((0L, Seq("common", "term3", "tail42x"))).toDF("q_id", "terms"),
        "q_id", "terms", store, "bm", k = 8)
      .select(col("probe_id"), col("doc_id"), round(col("bm25"), 9).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    finally scope.release()
  }

  test("postings upsert ≡ remove + append; revised text actually serves") {
    val a = new TableStore(tmpDir("ups-bm-a"))
    val b = new TableStore(tmpDir("ups-bm-b"))
    PostingsIndex.build(ddf(1 to 80), "doc_id", "text", a, "bm")
    PostingsIndex.build(ddf(1 to 80), "doc_id", "text", b, "bm")
    // docs 40..44 get REVISED text (the 'x' suffix); 200..202 are new
    val batch = ddf(40 to 44, "x").unionByName(ddf(200 to 202, "x"))
    assert(PostingsIndex.upsert(spark, batch, "doc_id", "text", a, "bm") === 5L)
    val s = spark; import s.implicits._
    PostingsIndex.remove(spark, (40 to 44).map(_.toLong).toDF("doc_id"), b, "bm")
    PostingsIndex.append(spark, batch, "doc_id", "text", b, "bm")
    assert(serveBm(a) === serveBm(b), "served scores must match the two-swap path")
    // manifest counters agree too (nDocs, sumDl ride the same swap)
    val (ma, _) = PostingsIndex.readManifest(store = a, name = "bm").get
    val (mb, _) = PostingsIndex.readManifest(store = b, name = "bm").get
    assert(ma.nDocs === mb.nDocs && ma.sumDl === mb.sumDl)
    // the revised doc is findable by its NEW tail term
    assert(serveBm(a).exists(_._2 === 42L),
      "doc 42's revision must serve under the new term")
  }

  test("postings upsert of only-new ids ≡ append") {
    val a = new TableStore(tmpDir("ups-bm-new-a"))
    val b = new TableStore(tmpDir("ups-bm-new-b"))
    PostingsIndex.build(ddf(1 to 60), "doc_id", "text", a, "bm")
    PostingsIndex.build(ddf(1 to 60), "doc_id", "text", b, "bm")
    assert(PostingsIndex.upsert(spark, ddf(300 to 310), "doc_id", "text", a, "bm") === 0L)
    PostingsIndex.append(spark, ddf(300 to 310), "doc_id", "text", b, "bm")
    assert(serveBm(a) === serveBm(b))
  }

  test("postings reader between upsert member commits sees the OLD revision, never absence") {
    val store = new PausingStore(tmpDir("ups-bm-window"))
    PostingsIndex.build(ddf(1 to 80), "doc_id", "text", store, "bm")
    val before = serveBm(store)
    // termstats commits first; pause at the postings OVERLAY member commit
    store.pauseTable = Some("bm_postings_ovl")
    val task = new java.util.concurrent.FutureTask[Long](() =>
      PostingsIndex.upsert(spark, ddf(42 to 42, "x"), "doc_id", "text", store, "bm"))
    new Thread(task).start()
    assert(store.reached.await(120, java.util.concurrent.TimeUnit.SECONDS),
      "upsert must reach the postings member commit")
    assert(serveBm(store) === before,
      "mid-mutation reader serves the OLD committed index — doc 42 present")
    store.proceed.countDown()
    assert(task.get() === 1L)
    assert(serveBm(store).exists(_._2 === 42L),
      "after the swap the revised doc serves under its new term")
  }

  test("postings upsert admission: replayed batchIds refused, crash invisible, gate rides the swap") {
    val store = new CrashStore(tmpDir("ups-bm-adm"))
    PostingsIndex.build(ddf(1 to 80), "doc_id", "text", store, "bm")
    assert(PostingsIndex.admitUpsertBatch(spark, ddf(40 to 44, "x"), 0L,
      "doc_id", "text", store, "bm"), "first revision batch folds")
    val after0 = serveBm(store)
    assert(!PostingsIndex.admitUpsertBatch(spark, ddf(40 to 44, "x"), 0L,
      "doc_id", "text", store, "bm"), "replayed batchId refused")
    assert(serveBm(store) === after0)
    // crash between member commits: invisible; redelivery folds once
    store.failTable = Some("bm_postings_ovl")
    intercept[RuntimeException] {
      PostingsIndex.admitUpsertBatch(spark, ddf(45 to 49, "x"), 1L,
        "doc_id", "text", store, "bm")
    }
    store.failTable = None
    assert(serveBm(store) === after0, "crashed revision admission invisible")
    assert(PostingsIndex.admitUpsertBatch(spark, ddf(45 to 49, "x"), 1L,
      "doc_id", "text", store, "bm"), "redelivered revision folds")
    val clean = new TableStore(tmpDir("ups-bm-adm-clean"))
    PostingsIndex.build(ddf(1 to 80), "doc_id", "text", clean, "bm")
    PostingsIndex.upsert(spark, ddf(40 to 49, "x"), "doc_id", "text", clean, "bm")
    assert(serveBm(store) === serveBm(clean),
      "gated revision chain ≡ one clean batch upsert")
  }

  test("insert-only admission keeps STALE text for existing ids — the gap upsert admission closes") {
    val a = new TableStore(tmpDir("ups-bm-stale-a"))
    PostingsIndex.build(ddf(1 to 60), "doc_id", "text", a, "bm")
    // the revision arrives through the INSERT-ONLY gate: doc 42 already
    // exists, so its new text is silently ignored
    assert(PostingsIndex.admitBatch(spark, ddf(42 to 42, "x"), 0L,
      "doc_id", "text", a, "bm"))
    assert(!serveBm(a).exists(_._2 === 42L),
      "insert-only admission must NOT have indexed the revised tail term")
    // the same batch through the upsert gate replaces it
    val b = new TableStore(tmpDir("ups-bm-stale-b"))
    PostingsIndex.build(ddf(1 to 60), "doc_id", "text", b, "bm")
    assert(PostingsIndex.admitUpsertBatch(spark, ddf(42 to 42, "x"), 0L,
      "doc_id", "text", b, "bm"))
    assert(serveBm(b).exists(_._2 === 42L),
      "upsert admission must serve the revision")
  }

  test("IVF upsert admission: revised vectors replace across tiers exactly once") {
    val store = new TableStore(tmpDir("ups-ivf-adm"))
    buildIvf(store)
    assert(IvfIndex.admitUpsertBatch(spark, vdf(50 to 54, bump = 0.5), 0L,
      "vec_id", "embedding", store, "emb"), "revision batch folds")
    assert(!IvfIndex.admitUpsertBatch(spark, vdf(50 to 54, bump = 0.5), 0L,
      "vec_id", "embedding", store, "emb"), "replayed batchId refused")
    val clean = new TableStore(tmpDir("ups-ivf-adm-clean"))
    buildIvf(clean)
    IvfIndex.upsert(spark, vdf(50 to 54, bump = 0.5), "vec_id", "embedding",
      clean, "emb")
    assert(ivfState(store) === ivfState(clean),
      "gated revision ≡ clean upsert across every tier")
  }

  test("postings crash mid-upsert is invisible; the retry lands bit-equal to clean") {
    val store = new CrashStore(tmpDir("ups-bm-crash"))
    PostingsIndex.build(ddf(1 to 80), "doc_id", "text", store, "bm")
    val before = serveBm(store)
    store.failTable = Some("bm_termstats_dlt")
    intercept[RuntimeException] {
      PostingsIndex.upsert(spark, ddf(42 to 44, "x"), "doc_id", "text", store, "bm")
    }
    store.failTable = None
    assert(serveBm(store) === before, "crashed upsert must be invisible")
    assert(PostingsIndex.upsert(spark, ddf(42 to 44, "x"), "doc_id", "text",
      store, "bm") === 3L)
    val clean = new TableStore(tmpDir("ups-bm-crash-clean"))
    PostingsIndex.build(ddf(1 to 80), "doc_id", "text", clean, "bm")
    PostingsIndex.upsert(spark, ddf(42 to 44, "x"), "doc_id", "text", clean, "bm")
    assert(serveBm(store) === serveBm(clean))
  }
}
