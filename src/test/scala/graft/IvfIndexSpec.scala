package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.operators.{CacheScope, IvfIndex, KMeans, TableStore}

/** Persisted IVF index: build/load round-trip, refit-free incremental
  * append, and full-probe equivalence with exact batch-vs-corpus search. */
class IvfIndexSpec extends SparkSpec {

  // Two well-separated direction clusters plus a held-out batch near each.
  private def corpus() = {
    val s = spark; import s.implicits._
    Seq(
      (1L, Array(1.0f, 0.0f, 0.1f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.1f)),
      (4L, Array(0.1f, 0.9f, 0.0f)),
      (5L, Array(0.95f, 0.05f, 0.05f)),
      (6L, Array(0.05f, 0.95f, 0.05f)))
      .toDF("vec_id", "embedding")
  }

  private def batch() = {
    val s = spark; import s.implicits._
    Seq(
      (101L, Array(1.0f, 0.05f, 0.0f)),
      (102L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
  }

  test("build persists both halves; loaded centroids equal the fitted ones") {
    implicit val scope: CacheScope = new CacheScope
    val store = new TableStore(tmpDir("ivfidx"))
    val fitted = IvfIndex.build(corpus(), "vec_id", "embedding",
      nCells = 2, iterations = 2, store, "emb")
    val loaded = IvfIndex.centroids(spark, store, "emb")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val direct = KMeans.centroidVectors(fitted)
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(loaded === direct)
    // the stored vectors table covers the corpus, one cell per vector
    val vecs = IvfIndex.vectors(spark, store, "emb")
    assert(vecs.count() === 6)
    assert(vecs.select("id").distinct().count() === 6)
    scope.release()
  }

  test("append assigns new vectors against the stored model without refit") {
    implicit val scope: CacheScope = new CacheScope
    val store = new TableStore(tmpDir("ivfidx"))
    IvfIndex.build(corpus(), "vec_id", "embedding", 2, 2, store, "emb")
    val centroidVersion = store.currentVersion("emb_centroids")
    IvfIndex.append(spark, batch(), "vec_id", "embedding", store, "emb")
    // model untouched, vectors advanced
    assert(store.currentVersion("emb_centroids") === centroidVersion)
    val vecs = IvfIndex.vectors(spark, store, "emb")
    assert(vecs.count() === 8)
    // appended rows landed in the cluster-consistent cells: 101 with the
    // x-direction corpus ids, 102 with the y-direction ones
    val cellOf = vecs.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(cellOf(101L) === cellOf(1L))
    assert(cellOf(102L) === cellOf(3L))
    scope.release()
  }

  test("topK with full probe equals exact batch-vs-corpus search") {
    implicit val scope: CacheScope = new CacheScope
    val store = new TableStore(tmpDir("ivfidx"))
    IvfIndex.build(corpus(), "vec_id", "embedding", 2, 2, store, "emb")
    val got = IvfIndex.topK(spark, batch(), "vec_id", "embedding",
        store, "emb", k = 3, nProbe = 2) // nProbe = nCells → every cell probed
      .select(col("vec_id"), col("neighbor_id"), round(col("cosine"), 9).as("c"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val want = exactTopK(batch(), corpus(), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got === want)
    scope.release()
  }

  test("probeCells ranks cells by cosine desc then cell asc, drops zero norms, cuts at nProbe") {
    val s = spark; import s.implicits._
    // cells 1 and 2 are identical; cell 3 has no direction
    val cents = Seq(
      0 -> Array(1.0, 0.0, 0.0), 1 -> Array(0.0, 1.0, 0.0), 2 -> Array(0.0, 1.0, 0.0),
      3 -> Array(0.0, 0.0, 0.0), 4 -> Array(1.0, 1.0, 0.0)).toDF("cell", "c_v")
    // 10 ties on cells 1/2; 11 has no direction; 12 is orthogonal to every cell
    val queries = Seq(10L -> Array(0.0f, 1.0f, 0.0f), 11L -> Array(0.0f, 0.0f, 0.0f),
      12L -> Array(0.0f, 0.0f, 1.0f)).toDF("vec_id", "embedding")
    def probed(nProbe: Int): Map[Long, Set[(Int, String)]] = {
      val q = IvfIndex.probeQueries(queries, "vec_id", "embedding")
        .withColumn("tag", lit("x"))
      IvfIndex.probeCells(q, IvfIndex.probeModelOf(cents), nProbe)
        .select(col("q_id"), col("cell"), col("tag")).as[(Long, Int, String)].collect()
        .groupBy(_._1).map { case (id, rows) => id -> rows.map(r => r._2 -> r._3).toSet }
    }
    def cells(nProbe: Int): Map[Long, Set[Int]] = probed(nProbe).map { case (id, r) => id -> r.map(_._1) }
    assert(cells(1) === Map(10L -> Set(1), 12L -> Set(0)))
    assert(cells(2) === Map(10L -> Set(1, 2), 12L -> Set(0, 1)))
    assert(cells(3) === Map(10L -> Set(1, 2, 4), 12L -> Set(0, 1, 2)))
    // nProbe ≥ nCells: every live cell, the zero-norm one never
    assert(cells(5) === Map(10L -> Set(0, 1, 2, 4), 12L -> Set(0, 1, 2, 4)))
    assert(cells(50) === cells(5))
    // extra query columns pass through
    assert(probed(1)(10L) === Set(1 -> "x"))
    // rows repeating a query id each rank their own cells
    val twice = Seq((10L, Array(0.0f, 1.0f, 0.0f)), (10L, Array(1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    assert(IvfIndex.probeCells(IvfIndex.probeQueries(twice, "vec_id", "embedding"),
      IvfIndex.probeModelOf(cents), 1).select(col("cell")).as[Int].collect().sorted === Array(0, 1))
  }

  test("a warm topK on a bucketed index runs at most 4 Spark jobs") {
    implicit val scope: CacheScope = new CacheScope
    val store = new TableStore(tmpDir("ivfidx"))
    IvfIndex.build(corpus(), "vec_id", "embedding", 2, 2, store, "emb")
    def serve() = IvfIndex.topK(spark, batch(), "vec_id", "embedding",
      store, "emb", k = 3, nProbe = 1).collect()
    val cold = serve()
    val (warm, jobs) = jobsRunBy("ivf-warm-topk")(serve())
    assert(warm.toSet === cold.toSet)
    info(s"a warm topK ran $jobs Spark jobs")
    assert(jobs <= 4, s"a warm topK ran $jobs Spark jobs")
    scope.release()
  }

  test("topK under partial probe returns only probed-cell neighbours, ranked") {
    implicit val scope: CacheScope = new CacheScope
    val store = new TableStore(tmpDir("ivfidx"))
    IvfIndex.build(corpus(), "vec_id", "embedding", 2, 2, store, "emb")
    val rows = IvfIndex.topK(spark, batch(), "vec_id", "embedding",
        store, "emb", k = 10, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // query 101 probes only the x-cluster cell → neighbours ⊆ {1,2,5}
    assert(rows.filter(_._1 == 101L).map(_._2).toSet.subsetOf(Set(1L, 2L, 5L)))
    assert(rows.filter(_._1 == 102L).map(_._2).toSet.subsetOf(Set(3L, 4L, 6L)))
    scope.release()
  }

  test("drift: appends skew occupancy, cellStats flags it, rebalance restores balance and recall") {
    implicit val scope: CacheScope = new CacheScope
    val s = spark; import s.implicits._
    val store = new TableStore(tmpDir("ivfidx-drift"))
    // initial corpus: 10 vectors tightly around the x direction — both
    // fitted cells land inside this cluster
    val xCorpus = (1 to 10).map(i => (i.toLong, Array(1.0f, 0.002f * i, 0.001f * i)))
      .toDF("vec_id", "embedding")
    IvfIndex.build(xCorpus, "vec_id", "embedding", nCells = 2, iterations = 2, store, "emb")

    // distribution drift: 10 new vectors around the y direction — assigned
    // refit-free, they all pile into whichever stale cell is nearest
    val yBatch = (101 to 110).map(i => (i.toLong, Array(0.002f * (i - 100), 1.0f, 0.001f * i)))
      .toDF("vec_id", "embedding")
    IvfIndex.append(spark, yBatch, "vec_id", "embedding", store, "emb")

    val drifted = IvfIndex.balance(spark, store, "emb")
    assert(drifted.nCellsModel === 2)
    assert(drifted.meanOccupancy === 10.0)
    // all 10 y-vectors share one cell with whatever x-split it had → the
    // hot cell holds ≥ 15 of 20, ratio ≥ 1.5
    assert(drifted.skewRatio >= 1.5)

    // below the bound → no-op; above it → refit on the stored corpus
    assert(IvfIndex.rebalance(spark, store, "emb", bound = drifted.skewRatio + 1).isEmpty)
    val centroidVersionBefore = store.currentVersion("emb_centroids")
    assert(IvfIndex.rebalance(spark, store, "emb", bound = 1.4).isDefined)
    assert(store.currentVersion("emb_centroids") !== centroidVersionBefore)

    // rebuilt cells split x-corpus vs y-drift → balance restored…
    val rebalanced = IvfIndex.balance(spark, store, "emb")
    assert(rebalanced.skewRatio <= 1.4)
    assert(rebalanced.nCellsLive === 2)
    // …and the refit is a real index over the FULL stored corpus: probing
    // one cell per query finds the drifted neighbours (pre-rebalance the
    // y-mass shared a cell with x-vectors, diluting every probe), and a
    // full probe is exact
    val allStored = xCorpus.unionByName(yBatch)
    // query ids disjoint from stored ids (topK excludes self-matches by id)
    val queries = Seq(
      (201L, Array(1.0f, 0.05f, 0.0f)),
      (202L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = IvfIndex.topK(spark, queries, "vec_id", "embedding",
        store, "emb", k = 3, nProbe = 2)
      .select(col("vec_id"), col("neighbor_id"), round(col("cosine"), 9).as("c"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val want = exactTopK(queries, allStored, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got === want)
    scope.release()
  }

  test("remove takes ids out of the stored corpus without touching the model") {
    implicit val scope: CacheScope = new CacheScope
    val s = spark; import s.implicits._
    val store = new TableStore(tmpDir("ivfidx-rm"))
    IvfIndex.build(corpus(), "vec_id", "embedding", nCells = 2, iterations = 2, store, "emb")
    val modelVersion = store.currentVersion("emb_centroids")
    val removed = IvfIndex.remove(spark, Seq(1L, 5L).toDF("vec_id"), store, "emb")
    assert(removed === 2L)
    assert(store.currentVersion("emb_centroids") === modelVersion) // model untouched
    assert(IvfIndex.vectors(spark, store, "emb").count() === 4)
    // removed ids never surface as neighbours again; the rest still do
    val neighbors = IvfIndex.topK(spark, batch(), "vec_id", "embedding",
        store, "emb", k = 10, nProbe = 2)
      .collect().map(_.getLong(1)).toSet
    assert(!neighbors.contains(1L) && !neighbors.contains(5L))
    assert(neighbors.contains(2L))
    // removing an absent id is a no-op
    assert(IvfIndex.remove(spark, Seq(999L).toDF("vec_id"), store, "emb") === 0L)
    scope.release()
  }

  test("dedupAgainstIndex drops near-stored batch rows, keeps novel and zero-norm ones") {
    implicit val scope: CacheScope = new CacheScope
    val s = spark; import s.implicits._
    val store = new TableStore(tmpDir("ivfidx-screen"))
    IvfIndex.build(corpus(), "vec_id", "embedding", nCells = 2, iterations = 2, store, "emb")
    val arriving = Seq(
      (201L, Array(1.0f, 0.02f, 0.05f)), // ~duplicate of the x cluster → drop
      (202L, Array(0.05f, 0.98f, 0.02f)), // ~duplicate of the y cluster → drop
      (203L, Array(0.0f, 0.0f, 1.0f)), // orthogonal to everything stored → keep
      (204L, Array(0.0f, 0.0f, 0.0f))) // zero-norm: matches nothing → keep
      .toDF("vec_id", "embedding")
    val kept = IvfIndex.dedupAgainstIndex(spark, arriving, "vec_id", "embedding",
        store, "emb", threshold = 0.9, nProbe = 2)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(kept === Set(203L, 204L))
    // a threshold above every achievable cosine screens nothing out
    val keptAll = IvfIndex.dedupAgainstIndex(spark, arriving, "vec_id", "embedding",
        store, "emb", threshold = 1.1, nProbe = 2)
      .count()
    assert(keptAll === 4L)
    scope.release()
  }

  test("admitNovelBatch: evolving state, replay refusal, one-swap fold") {
    implicit val scope: CacheScope = new CacheScope
    val s = spark; import s.implicits._
    val store = new TableStore(tmpDir("ivfidx-admit"))
    IvfIndex.build(corpus(), "vec_id", "embedding", nCells = 2, iterations = 2, store, "emb")
    def ids() = IvfIndex.vectors(spark, store, "emb")
      .select("id").collect().map(_.getLong(0)).toSet
    // drain 0: a near-copy of stored rejects, a novel direction admits
    val d0 = Seq(
      (201L, Array(1.0f, 0.02f, 0.05f)), // ~stored x cluster → reject
      (203L, Array(0.0f, 0.0f, 1.0f)))   // novel → admit
      .toDF("vec_id", "embedding")
    assert(IvfIndex.admitNovelBatch(spark, d0, 0L, "vec_id", "embedding",
      store, "emb", threshold = 0.9, nProbe = 2), "first drain folds")
    assert(ids() === Set(1L, 2L, 3L, 4L, 5L, 6L, 203L))
    // replayed batchId: refused, state unmoved
    assert(!IvfIndex.admitNovelBatch(spark, d0, 0L, "vec_id", "embedding",
      store, "emb", threshold = 0.9, nProbe = 2), "replay refused")
    assert(ids() === Set(1L, 2L, 3L, 4L, 5L, 6L, 203L))
    // drain 1: a near-copy of DRAIN-0's admission rejects (evolving
    // state); another novel direction admits alongside it
    val d1 = Seq(
      (301L, Array(0.0f, 0.05f, 1.0f)),   // ~203 (admitted drain 0) → reject
      (302L, Array(-1.0f, 0.0f, 0.0f)))   // novel → admit
      .toDF("vec_id", "embedding")
    assert(IvfIndex.admitNovelBatch(spark, d1, 1L, "vec_id", "embedding",
      store, "emb", threshold = 0.9, nProbe = 2))
    assert(ids() === Set(1L, 2L, 3L, 4L, 5L, 6L, 203L, 302L),
      "the copy of an earlier admission is rejected BY that admission")
    scope.release()
  }

  /** Exact cosine top-k of each batch vector against the whole corpus —
    * the oracle the full-probe path must match. */
  private def exactTopK(q: DataFrame, c: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qq = q.select(col("vec_id").as("q_id"),
      VectorFunctions.toDouble(col("embedding")).as("q_v"))
    val cc = c.select(col("vec_id").as("c_id"),
      VectorFunctions.toDouble(col("embedding")).as("c_v"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id").asc)
    qq.crossJoin(cc)
      .withColumn("cosine",
        VectorFunctions.dot(col("q_v"), col("c_v")) /
          (VectorFunctions.l2Norm(col("q_v")) * VectorFunctions.l2Norm(col("c_v"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id").as("vec_id"), col("c_id").as("neighbor_id"),
        round(col("cosine"), 9).as("c"), col("rank"))
  }
}
