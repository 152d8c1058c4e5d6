package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.{CacheScope, IvfIndex, PqIndex, TableStore}
import graft.streaming.AdmissionStream

/** Exactly-once streaming admission into the persisted IVF index family
  * (q110): the batchId gate rides in the family manifest, so replayed
  * micro-batches are refused, a crash mid-fold is invisible until the
  * redelivery lands the batch exactly once, and ANY batch split of the
  * streamed rows converges to the batch-append state. */
/** Top-level so Spark can derive its encoder without an outer scope. */
case class IvfAdmissionVec(vec_id: Long, embedding: Array[Float])

class IvfAdmissionSpec extends SparkSpec {

  type Vec = IvfAdmissionVec
  private val Vec = IvfAdmissionVec

  private def rows(ids: Range): Seq[Vec] =
    ids.map { i =>
      Vec(i.toLong, Array.tabulate(16) { d =>
        (math.sin(i * 31 + d * 7) * (1.0 + (i % 5)) +
          math.cos(i * 13 + d * 3) * 0.25).toFloat
      })
    }

  private def df(ids: Range) = {
    val s = spark; import s.implicits._
    rows(ids).toDF("vec_id", "embedding")
  }

  private def buildSeed(store: TableStore): Unit = {
    implicit val scope: CacheScope = new CacheScope
    try IvfIndex.build(df(1 to 200), "vec_id", "embedding",
      nCells = 4, iterations = 1, store, "emb")
    finally scope.release()
  }

  private def served(store: TableStore) =
    IvfIndex.vectors(spark, store, "emb").orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSeq

  test("admitBatch gate: replayed and out-of-order batchIds are refused") {
    val store = new TableStore(tmpDir("ivfadm"))
    buildSeed(store)
    assert(IvfIndex.admitBatch(spark, df(201 to 230), 0L,
      "vec_id", "embedding", store, "emb"), "first batch folds")
    assert(IvfIndex.admitBatch(spark, df(231 to 260), 1L,
      "vec_id", "embedding", store, "emb"), "second batch folds")
    val before = served(store)
    assert(!IvfIndex.admitBatch(spark, df(231 to 260), 1L,
      "vec_id", "embedding", store, "emb"), "replayed batchId refused")
    assert(!IvfIndex.admitBatch(spark, df(261 to 290), 0L,
      "vec_id", "embedding", store, "emb"), "older batchId refused")
    assert(served(store) === before, "refused batches leave state untouched")
    assert(IvfIndex.admitBatch(spark, df(261 to 290), 2L,
      "vec_id", "embedding", store, "emb"), "the next real batch still lands")
    assert(served(store).length === 290)
  }

  /** A store that fails the NEXT commit of one named table — the crash
    * window between the family's member commits. */
  private class TierCrashStore(root: String) extends TableStore(root) {
    @volatile var failTable: Option[String] = None
    private def check(name: String): Unit =
      if (failTable.contains(name))
        throw new RuntimeException(s"injected crash on $name commit")
    override def write(df: org.apache.spark.sql.DataFrame, name: String,
        expected: Option[Int]): Int = {
      check(name); super.write(df, name, expected)
    }
    override def appendRows(rows: org.apache.spark.sql.DataFrame,
        name: String, expected: Int): Int = {
      check(name); super.appendRows(rows, name, expected)
    }
  }

  test("crash mid-admission is invisible; the redelivered batch folds exactly once") {
    val store = new TierCrashStore(tmpDir("ivfadm-crash"))
    buildSeed(store)
    IvfIndex.quantizeStored(spark, store, "emb")
    assert(IvfIndex.admitBatch(spark, df(201 to 230), 0L,
      "vec_id", "embedding", store, "emb"))
    val before = served(store)
    // crash between the float member commit and the int8 sibling commit
    store.failTable = Some("emb_qvectors")
    intercept[RuntimeException] {
      IvfIndex.admitBatch(spark, df(231 to 260), 1L,
        "vec_id", "embedding", store, "emb")
    }
    store.failTable = None
    assert(served(store) === before,
      "a crashed admission must be invisible — the gate and tiers move together")
    // Structured Streaming redelivers the in-flight batch: it must fold
    // exactly once now, and a second redelivery must be refused
    assert(IvfIndex.admitBatch(spark, df(231 to 260), 1L,
      "vec_id", "embedding", store, "emb"), "redelivered batch folds")
    assert(!IvfIndex.admitBatch(spark, df(231 to 260), 1L,
      "vec_id", "embedding", store, "emb"), "second redelivery refused")
    // bit-equal to a clean admission chain, across BOTH tiers
    val clean = new TableStore(tmpDir("ivfadm-clean"))
    buildSeed(clean)
    IvfIndex.quantizeStored(spark, clean, "emb")
    IvfIndex.admitBatch(spark, df(201 to 230), 0L, "vec_id", "embedding", clean, "emb")
    IvfIndex.admitBatch(spark, df(231 to 260), 1L, "vec_id", "embedding", clean, "emb")
    assert(served(store) === served(clean))
    def q8(st: TableStore) = IvfIndex.quantizedVectors(spark, st, "emb")
      .orderBy(col("id")).collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(q8(store) === q8(clean), "the int8 tier converges too")
  }

  test("streamed admission over any micro-batch split equals batch appends") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val store = new TableStore(tmpDir("ivfadm-stream"))
    buildSeed(store)
    val input = MemoryStream[Vec]
    val chk = tmpDir("ivfadm-chk")
    def drain(): Unit =
      AdmissionStream.drain(input.toDF(), chk) { (b, id) =>
        IvfIndex.admitBatch(b.sparkSession, b, id, "vec_id", "embedding", store, "emb")
      }.awaitTermination()
    // two AvailableNow cycles over one checkpoint — separate query
    // lifecycles, batchIds continue
    input.addData(rows(201 to 230): _*)
    input.addData(rows(231 to 260): _*)
    drain()
    input.addData(rows(261 to 290): _*)
    drain()
    val batch = new TableStore(tmpDir("ivfadm-batch"))
    buildSeed(batch)
    IvfIndex.append(spark, df(201 to 290), "vec_id", "embedding", batch, "emb")
    assert(served(store) === served(batch),
      "set-canonicity: any drain split must converge to the batch-append state")
    // serving works: a probe finds a streamed vector
    val probe = IvfIndex.topK(spark, df(250 to 250).withColumn("vec_id", lit(99999L)),
      "vec_id", "embedding", store, "emb", k = 1, nProbe = 2)
    assert(probe.head().getAs[Long]("neighbor_id") === 250L)
  }

  test("a rebuild preserves the admission gate (admitted batchIds stay admitted)") {
    implicit val scope: CacheScope = new CacheScope
    val store = new TableStore(tmpDir("ivfadm-rebuild"))
    buildSeed(store)
    assert(IvfIndex.admitBatch(spark, df(201 to 230), 0L,
      "vec_id", "embedding", store, "emb"))
    // refit over the stored corpus (the rebalance path's build)
    IvfIndex.build(IvfIndex.vectors(spark, store, "emb").select(col("id"), col("v")),
      "id", "v", nCells = 4, iterations = 1, store, "emb")
    assert(!IvfIndex.admitBatch(spark, df(201 to 230), 0L,
      "vec_id", "embedding", store, "emb"),
      "a replay arriving after the rebuild must still be refused")
    assert(IvfIndex.admitBatch(spark, df(231 to 260), 1L,
      "vec_id", "embedding", store, "emb"), "the stream resumes cleanly")
    scope.release()
  }

  test("the PQ tier rides the admission swap when present") {
    implicit val scope: CacheScope = new CacheScope
    val store = new TableStore(tmpDir("ivfadm-pq"))
    buildSeed(store)
    PqIndex.buildStored(spark, store, "emb", m = 4, nCodes = 8, iterations = 1)
    assert(IvfIndex.admitBatch(spark, df(201 to 230), 0L,
      "vec_id", "embedding", store, "emb"))
    assert(PqIndex.codes(spark, store, "emb")
      .filter(col("id") >= 201L).count() === 30,
      "admitted vectors must reach the PQ codes tier in the same swap")
    scope.release()
  }
}
