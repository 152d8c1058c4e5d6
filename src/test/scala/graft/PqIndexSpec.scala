package graft

import org.apache.spark.sql.functions._
import graft.operators.{CacheScope, IvfIndex, PqIndex, TableStore}

/** Persisted PQ tier of the IVF index: the committed codebook + codes
  * serve without retraining, the refine contract pins the float path,
  * and append/remove/rebalance keep the tier in lockstep with its
  * siblings (serving state, not a cache). */
class PqIndexSpec extends SparkSpec {

  /** Deterministic 16-dim corpus (same family as QuantizedIvfSpec):
    * m=4 subspaces of 4 dims. */
  private def corpus(n: Int, offset: Long = 0L) = {
    val s = spark; import s.implicits._
    (0 until n).map { i =>
      val id = offset + i
      val v = Array.tabulate(16) { d =>
        (math.sin(id * 31 + d * 7) * (1.0 + (id % 5)) +
          math.cos(id * 13 + d * 3) * 0.25).toFloat
      }
      (id, v)
    }.toDF("vec_id", "embedding")
  }

  private def buildPq(store: TableStore): Unit = {
    implicit val scope: CacheScope = new CacheScope
    IvfIndex.build(corpus(400), "vec_id", "embedding",
      nCells = 8, iterations = 1, store, "emb")
    PqIndex.buildStored(spark, store, "emb", m = 4, nCodes = 16, iterations = 2)
    scope.release()
  }

  test("build commits model + codes in the serving shape (m ascending-sub codes per vector)") {
    val store = new TableStore(tmpDir("pqidx"))
    buildPq(store)
    val cb = PqIndex.codebook(spark, store, "emb")
    // every subspace keeps at least one live code; slices are subDim wide
    assert(cb.select(col("sub")).distinct().count() === 4)
    assert(cb.filter(size(col("c_v")) =!= 4).count() === 0)
    assert(cb.filter(col("code") < 0 || col("code") >= 16).count() === 0)
    val codes = PqIndex.codes(spark, store, "emb")
    assert(codes.count() === 400)
    assert(codes.filter(size(col("n_codes")) =!= 4).count() === 0)
    // cells mirror the float tier's assignment row-for-row
    val mismatched = codes.select(col("id"), col("cell").as("pq_cell"))
      .join(IvfIndex.vectors(spark, store, "emb"), Seq("id"))
      .filter(col("pq_cell") =!= col("cell")).count()
    assert(mismatched === 0)
  }

  test("topKRefined with an exhaustive shortlist equals the float path exactly") {
    val store = new TableStore(tmpDir("pqidx"))
    buildPq(store)
    val batch = corpus(60, offset = 10000L)
    // shortlist >= corpus: every probed candidate reaches the exact
    // re-rank, so quantization error cannot change the answer — the
    // serving path's correctness contract independent of PQ quality
    val refined = PqIndex.topKRefined(spark, batch, "vec_id", "embedding",
      store, "emb", k = 3, nProbe = 2, shortlist = 400)
      .select(col("vec_id"), col("neighbor_id"), round(col("cosine"), 9).as("c"), col("rank"))
    val float = IvfIndex.topK(spark, batch, "vec_id", "embedding",
      store, "emb", k = 3, nProbe = 2)
      .select(col("vec_id"), col("neighbor_id"), round(col("cosine"), 9).as("c"), col("rank"))
    assert(refined.exceptAll(float).count() === 0)
    assert(float.exceptAll(refined).count() === 0)
  }

  test("a working shortlist holds high recall against the float path") {
    val store = new TableStore(tmpDir("pqidx"))
    buildPq(store)
    val batch = corpus(60, offset = 10000L)
    val exact = IvfIndex.topK(spark, batch, "vec_id", "embedding",
      store, "emb", k = 3, nProbe = 3).select(col("vec_id"), col("neighbor_id"))
    val pq = PqIndex.topKRefined(spark, batch, "vec_id", "embedding",
      store, "emb", k = 3, nProbe = 3, shortlist = 32)
      .select(col("vec_id"), col("neighbor_id"))
    val n = exact.count()
    val hit = pq.intersect(exact).count()
    info(f"refined-vs-float recall ${hit.toDouble / n}%.4f")
    assert(hit.toDouble / n >= 0.95,
      s"shortlist-32 PQ refine dropped to $hit of $n vs the float path")
  }

  test("append encodes against the committed codebook; remove reaches the codes tier") {
    val store = new TableStore(tmpDir("pqidx"))
    buildPq(store)
    val s = spark; import s.implicits._
    val cbBefore = store.currentVersion("emb_pq_codebook")
    val fresh = corpus(1, offset = 50000L)
    IvfIndex.append(spark, fresh, "vec_id", "embedding", store, "emb")
    // the model is untouched (refit-free), the codes tier grew
    assert(store.currentVersion("emb_pq_codebook") === cbBefore)
    assert(PqIndex.codes(spark, store, "emb").filter(col("id") === 50000L).count() === 1,
      "appended vector missing from the PQ codes tier")
    // an identical query must find the appended vector through PQ serving
    val probe = PqIndex.topKRefined(spark, fresh.withColumn("vec_id", lit(99999L)),
      "vec_id", "embedding", store, "emb", k = 1, nProbe = 2, shortlist = 8)
    assert(probe.head().getAs[Long]("neighbor_id") === 50000L)
    // takedown must reach the codes tier — a removed vector that still
    // matches PQ probes isn't removed at all
    val removed = IvfIndex.remove(spark, Seq(50000L).toDF("id"), store, "emb")
    assert(removed === 1)
    assert(PqIndex.codes(spark, store, "emb").filter(col("id") === 50000L).count() === 0,
      "removed vector still present in the PQ codes tier")
  }

  test("rebalance re-derives every sibling tier's cells (no stale cell ids after a refit)") {
    implicit val scope: CacheScope = new CacheScope
    val s = spark; import s.implicits._
    val store = new TableStore(tmpDir("pqidx-drift"))
    // x-cluster corpus, then a y-direction drift batch — the
    // IvfIndexSpec drift shape, with ALL THREE tiers present
    val xCorpus = (1 to 10).map(i =>
      (i.toLong, Array.tabulate(16)(d => if (d < 8) 1.0f + 0.002f * i * d else 0.001f * i)))
      .toDF("vec_id", "embedding")
    IvfIndex.build(xCorpus, "vec_id", "embedding", nCells = 2, iterations = 2, store, "emb")
    IvfIndex.quantizeStored(spark, store, "emb")
    PqIndex.buildStored(spark, store, "emb", m = 4, nCodes = 8, iterations = 1)
    val yBatch = (101 to 110).map(i =>
      (i.toLong, Array.tabulate(16)(d => if (d >= 8) 1.0f + 0.002f * i * d else 0.001f * i)))
      .toDF("vec_id", "embedding")
    IvfIndex.append(spark, yBatch, "vec_id", "embedding", store, "emb")
    assert(IvfIndex.rebalance(spark, store, "emb", bound = 1.4).isDefined)
    // after the refit every tier must agree with the float tier's cells —
    // a stale cell id would equi-join two unrelated cell spaces
    val floatCells = IvfIndex.vectors(spark, store, "emb").select(col("id"), col("cell"))
    val qStale = IvfIndex.quantizedVectors(spark, store, "emb")
      .select(col("id"), col("cell").as("t_cell"))
      .join(floatCells, Seq("id")).filter(col("t_cell") =!= col("cell")).count()
    assert(qStale === 0, "int8 tier carries stale cells after rebalance")
    val pqStale = PqIndex.codes(spark, store, "emb")
      .select(col("id"), col("cell").as("t_cell"))
      .join(floatCells, Seq("id")).filter(col("t_cell") =!= col("cell")).count()
    assert(pqStale === 0, "PQ tier carries stale cells after rebalance")
    // and PQ serving still answers through the rebuilt cells
    val queries = corpus(2, offset = 90000L)
    assert(PqIndex.topKRefined(spark, queries, "vec_id", "embedding",
      store, "emb", k = 1, nProbe = 2, shortlist = 20).count() === 2)
    scope.release()
  }

  test("a crashed multi-tier append is invisible; retry folds it exactly once") {
    val store = new CrashStore(tmpDir("pqidx-crash"))
    buildPq(store)
    IvfIndex.quantizeStored(spark, store, "emb") // int8 sibling present too
    val fresh = corpus(3, offset = 60000L)
    // crash between the float member commit and the int8 sibling commit:
    // under the family manifest NOTHING is published — the float rows are
    // invisible orphans until the (never-reached) manifest swap
    store.failTable = Some("emb_qvectors")
    intercept[RuntimeException] {
      IvfIndex.append(spark, fresh, "vec_id", "embedding", store, "emb")
    }
    store.failTable = None
    def tierCount(read: => org.apache.spark.sql.DataFrame): Long =
      read.filter(col("id") >= 60000L).count()
    assert(tierCount(IvfIndex.vectors(spark, store, "emb")) === 0,
      "a crashed append must be invisible in EVERY tier — the float rows are orphans")
    assert(tierCount(IvfIndex.quantizedVectors(spark, store, "emb")) === 0)
    assert(tierCount(PqIndex.codes(spark, store, "emb")) === 0)
    // RETRY is the repair: the refold rolls the float orphan back to its
    // pin, re-derives every tier, and ONE swap publishes them together
    IvfIndex.append(spark, fresh, "vec_id", "embedding", store, "emb")
    assert(tierCount(IvfIndex.vectors(spark, store, "emb")) === 3,
      "retry must land the batch exactly once in the float tier")
    assert(tierCount(IvfIndex.quantizedVectors(spark, store, "emb")) === 3,
      "retry must land the batch in the int8 sibling")
    assert(tierCount(PqIndex.codes(spark, store, "emb")) === 3,
      "retry must land the batch in the PQ codes tier")
    // serving agrees: a probe for an appended vector finds it exactly once
    val probe = PqIndex.topKRefined(spark,
      corpus(1, offset = 60000L).withColumn("vec_id", lit(99998L)),
      "vec_id", "embedding", store, "emb", k = 2, nProbe = 2, shortlist = 8)
    assert(probe.head().getAs[Long]("neighbor_id") === 60000L)
  }

  test("a crashed rebalance leaves the OLD family serving coherently; retry converges") {
    implicit val scope: CacheScope = new CacheScope
    val s = spark; import s.implicits._
    val store = new CrashStore(tmpDir("pqidx-rbcrash"))
    // the drift fixture from the rebalance test: x-cluster corpus + a
    // y-direction batch pushes the 2-cell model past the skew bound
    val xCorpus = (1 to 10).map(i =>
      (i.toLong, Array.tabulate(16)(d => if (d < 8) 1.0f + 0.002f * i * d else 0.001f * i)))
      .toDF("vec_id", "embedding")
    IvfIndex.build(xCorpus, "vec_id", "embedding", nCells = 2, iterations = 2, store, "emb")
    IvfIndex.quantizeStored(spark, store, "emb")
    PqIndex.buildStored(spark, store, "emb", m = 4, nCodes = 8, iterations = 1)
    val yBatch = (101 to 110).map(i =>
      (i.toLong, Array.tabulate(16)(d => if (d >= 8) 1.0f + 0.002f * i * d else 0.001f * i)))
      .toDF("vec_id", "embedding")
    IvfIndex.append(spark, yBatch, "vec_id", "embedding", store, "emb")
    val skewBefore = IvfIndex.balance(spark, store, "emb").skewRatio
    // crash AFTER the refit's float/model member commits, BEFORE the int8
    // re-derivation: the manifest never swaps, so readers stay on the
    // OLD family — coherent (stale), never a cell-space mix. This was the
    // round-11 wrong-not-stale window the per-tier commit layout had.
    store.failTable = Some("emb_qvectors")
    intercept[RuntimeException] {
      IvfIndex.rebalance(spark, store, "emb", bound = 1.4)
    }
    store.failTable = None
    def staleCells(tier: org.apache.spark.sql.DataFrame): Long =
      tier.select(col("id"), col("cell").as("t_cell"))
        .join(IvfIndex.vectors(spark, store, "emb").select(col("id"), col("cell")),
          Seq("id"))
        .filter(col("t_cell") =!= col("cell")).count()
    assert(staleCells(IvfIndex.quantizedVectors(spark, store, "emb")) === 0,
      "after a crashed rebalance every served tier must still agree — old coherent family")
    assert(staleCells(PqIndex.codes(spark, store, "emb")) === 0)
    assert(IvfIndex.balance(spark, store, "emb").skewRatio === skewBefore,
      "the crashed refit must not be partially visible in the balance metric")
    // RETRY is the repair: the skew is still over the bound (nothing was
    // published), so rebalance refits and ONE swap publishes the whole
    // re-derived family
    assert(IvfIndex.rebalance(spark, store, "emb", bound = 1.4).isDefined,
      "retrying the rebalance must still see the skew and refit")
    assert(staleCells(IvfIndex.quantizedVectors(spark, store, "emb")) === 0)
    assert(staleCells(PqIndex.codes(spark, store, "emb")) === 0)
    assert(IvfIndex.balance(spark, store, "emb").skewRatio <= 1.4)
    // repairTiers stays a convergent maintenance no-op on a healthy family
    IvfIndex.repairTiers(spark, store, "emb")
    assert(staleCells(IvfIndex.quantizedVectors(spark, store, "emb")) === 0)
    assert(staleCells(PqIndex.codes(spark, store, "emb")) === 0)
    scope.release()
  }

  test("a reader pinned across a concurrent mutation never observes mixed tiers") {
    // the read-side contract the manifest buys: resolve ONCE, then every
    // tier read (float, int8, PQ) comes from that coherent pin even if a
    // rebalance swaps the family mid-read. Forced deterministically: read
    // the manifest, run the full rebalance, then serve from the OLD pin.
    implicit val scope: CacheScope = new CacheScope
    val s = spark; import s.implicits._
    val store = new TableStore(tmpDir("pqidx-pin"))
    val xCorpus = (1 to 10).map(i =>
      (i.toLong, Array.tabulate(16)(d => if (d < 8) 1.0f + 0.002f * i * d else 0.001f * i)))
      .toDF("vec_id", "embedding")
    IvfIndex.build(xCorpus, "vec_id", "embedding", nCells = 2, iterations = 2, store, "emb")
    IvfIndex.quantizeStored(spark, store, "emb")
    PqIndex.buildStored(spark, store, "emb", m = 4, nCodes = 8, iterations = 1)
    val yBatch = (101 to 110).map(i =>
      (i.toLong, Array.tabulate(16)(d => if (d >= 8) 1.0f + 0.002f * i * d else 0.001f * i)))
      .toDF("vec_id", "embedding")
    IvfIndex.append(spark, yBatch, "vec_id", "embedding", store, "emb")
    // the reader resolves its pin BEFORE the mutation...
    val (pinned, _) = graft.operators.IvfIndex.readManifest(store, "emb").get
    // ...a full rebalance swaps the family under it (new cell space)...
    assert(IvfIndex.rebalance(spark, store, "emb", bound = 1.4).isDefined)
    // ...and the pinned read still serves the complete OLD family: both
    // sibling tiers agree with the pinned float tier's cell space.
    // (prune retains the immediate predecessor version, so a pin taken
    // one swap ago is always readable — the documented retention rule)
    val oldFloat = store.snapshotAt(spark, "emb_vectors", pinned.vectors)
      .select(col("id"), col("cell"))
    val oldQ = store.snapshotAt(spark, "emb_qvectors", pinned.qvectors.get)
      .select(col("id"), col("cell").as("t_cell"))
    val oldPq = store.snapshotAt(spark, "emb_pq_codes", pinned.pqCodes.get)
      .select(col("id"), col("cell").as("t_cell"))
    assert(oldQ.join(oldFloat, Seq("id"))
      .filter(col("t_cell") =!= col("cell")).count() === 0,
      "pinned int8 tier must agree with the pinned float tier")
    assert(oldPq.join(oldFloat, Seq("id"))
      .filter(col("t_cell") =!= col("cell")).count() === 0,
      "pinned PQ tier must agree with the pinned float tier")
    scope.release()
  }
}
