package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.{CacheScope, PostingsIndex, Retrieval, TableStore}
import graft.streaming.AdmissionStream

/** Top-level so Spark can derive its encoder without an outer scope. */
case class PostingsDoc(doc_id: Long, text: String)

/** Persisted BM25 postings index: exact mergeability (build+append ≡
  * from-scratch, remove ∘ append ≡ identity), serving equivalence with
  * the ad-hoc batch BM25, and the exactly-once admission gate. */
class PostingsIndexSpec extends SparkSpec {

  private val words = Seq("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")

  private def docRows(ids: Range): Seq[PostingsDoc] =
    ids.map { i =>
      val n = 3 + (i % 7)
      val text = (0 until n).map(j => words((i * 13 + j * 5) % words.length))
        .mkString(" ")
      PostingsDoc(i.toLong, text)
    }

  private def docs(ids: Range) = {
    val s = spark; import s.implicits._
    docRows(ids).toDF("doc_id", "text")
  }

  private def probes(ids: Range) = {
    val s = spark; import s.implicits._
    ids.map(i => (i.toLong + 10000L,
        Array(words(i % words.length), words((i + 3) % words.length))))
      .toDF("probe_id", "pterms")
  }

  private def serve(store: TableStore, name: String = "bm") = {
    implicit val scope: CacheScope = new CacheScope
    try PostingsIndex.topK(spark, probes(1 to 10), "probe_id", "pterms",
        store, name, k = 5)
      .orderBy(col("probe_id"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSeq
    finally scope.release()
  }

  test("build + append equals a from-scratch build over the full corpus") {
    val inc = new TableStore(tmpDir("pidx"))
    PostingsIndex.build(docs(1 to 90), "doc_id", "text", inc, "bm")
    PostingsIndex.append(spark, docs(91 to 120), "doc_id", "text", inc, "bm")
    val full = new TableStore(tmpDir("pidx-full"))
    PostingsIndex.build(docs(1 to 120), "doc_id", "text", full, "bm")
    assert(serve(inc) === serve(full),
      "postings/docs/df state is exactly mergeable — serving must be bit-equal")
  }

  test("serving from state equals the ad-hoc batch BM25 on the same corpus") {
    val store = new TableStore(tmpDir("pidx-eq"))
    PostingsIndex.build(docs(1 to 120), "doc_id", "text", store, "bm")
    val fromState = serve(store)
    implicit val scope: CacheScope = new CacheScope
    val adHoc =
      try Retrieval.bm25Against(docs(1 to 120), "doc_id", "text",
          probes(1 to 10), "probe_id", "pterms", k = 5)
        .orderBy(col("probe_id"), col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toSeq
      finally scope.release()
    assert(fromState === adHoc,
      "the persisted index must serve the identical scores, down to the FP sum order")
  }

  test("remove is exact: append then remove restores serving bit-for-bit") {
    val s = spark; import s.implicits._
    val store = new TableStore(tmpDir("pidx-rm"))
    PostingsIndex.build(docs(1 to 100), "doc_id", "text", store, "bm")
    val before = serve(store)
    PostingsIndex.append(spark, docs(101 to 130), "doc_id", "text", store, "bm")
    assert(serve(store) !== before, "fixture sanity: the append must change some score")
    val removed = PostingsIndex.remove(spark,
      (101 to 130).map(_.toLong).toDF("doc_id"), store, "bm")
    assert(removed === 30)
    assert(serve(store) === before,
      "df subtraction + row anti-joins must restore the exact pre-append state")
    // removing an absent id is a no-op
    assert(PostingsIndex.remove(spark, Seq(99999L).toDF("doc_id"), store, "bm") === 0L)
  }

  test("append is insert-only by doc id (re-sent ids are no-ops)") {
    val store = new TableStore(tmpDir("pidx-ins"))
    PostingsIndex.build(docs(1 to 100), "doc_id", "text", store, "bm")
    val before = serve(store)
    // same ids, different text: must NOT re-enter
    val s = spark; import s.implicits._
    val mutated = (1 to 100).map(i => (i.toLong, "totally different words"))
      .toDF("doc_id", "text")
    PostingsIndex.append(spark, mutated, "doc_id", "text", store, "bm")
    assert(serve(store) === before,
      "re-appending existing ids must be a no-op; upsert = remove + append")
  }

  test("an intra-batch duplicate doc id indexes exactly once (N/df/scores uninflated)") {
    val s = spark; import s.implicits._
    val store = new TableStore(tmpDir("pidx-dup"))
    PostingsIndex.build(docs(1 to 90), "doc_id", "text", store, "bm")
    // the batch carries doc 95 twice (at-least-once upstream delivery);
    // the stored-ids anti-join alone cannot catch this — the within-batch
    // dedupe must
    val once = docRows(91 to 100)
    val doubled = (once ++ once.filter(_.doc_id == 95L)).toDF("doc_id", "text")
    PostingsIndex.append(spark, doubled, "doc_id", "text", store, "bm")
    val clean = new TableStore(tmpDir("pidx-dup-clean"))
    PostingsIndex.build(docs(1 to 90), "doc_id", "text", clean, "bm")
    PostingsIndex.append(spark, once.toDF("doc_id", "text"), "doc_id", "text", clean, "bm")
    assert(serve(store) === serve(clean),
      "a doubled row must not inflate N, df, or any served score")
    assert(graft.operators.PostingsIndex.postings(spark, store, "bm")
      .filter(col("doc_id") === 95L).count() ===
      graft.operators.PostingsIndex.postings(spark, clean, "bm")
        .filter(col("doc_id") === 95L).count())
  }

  test("conflicting duplicate texts resolve to the md5-smallest token stream, deterministically") {
    val s = spark; import s.implicits._
    def md5hex(x: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(x.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val (a, b) = ("alpha beta gamma", "delta epsilon zeta")
    val winner = if (md5hex(a) <= md5hex(b)) a else b
    // the batch carries doc 200 twice with DIFFERENT texts (a re-crawl
    // delivering two revisions in one trigger); the index must pick the
    // md5-smallest stream — the documented canonical winner — so the
    // committed state is a pure function of the row SET, not of
    // partitioning or arrival order
    val conflicted = Seq((200L, a), (200L, b)).toDF("doc_id", "text")
    val store = new TableStore(tmpDir("pidx-conf"))
    PostingsIndex.build(docs(1 to 50), "doc_id", "text", store, "bm")
    PostingsIndex.append(spark, conflicted, "doc_id", "text", store, "bm")
    val clean = new TableStore(tmpDir("pidx-conf-clean"))
    PostingsIndex.build(docs(1 to 50), "doc_id", "text", clean, "bm")
    PostingsIndex.append(spark, Seq((200L, winner)).toDF("doc_id", "text"),
      "doc_id", "text", clean, "bm")
    assert(serve(store) === serve(clean),
      s"the canonical winner must be the md5-smallest stream ('$winner')")
    // and the reversed arrival order converges to the same state
    val rev = new TableStore(tmpDir("pidx-conf-rev"))
    PostingsIndex.build(docs(1 to 50), "doc_id", "text", rev, "bm")
    PostingsIndex.append(spark, Seq((200L, b), (200L, a)).toDF("doc_id", "text"),
      "doc_id", "text", rev, "bm")
    assert(serve(rev) === serve(clean), "winner selection must be order-independent")
  }

  test("admitBatch gate: replays refused; crash mid-fold invisible, redelivery folds once") {
    val store = new CrashStore(tmpDir("pidx-adm"))
    PostingsIndex.build(docs(1 to 90), "doc_id", "text", store, "bm")
    assert(PostingsIndex.admitBatch(spark, docs(91 to 110), 0L,
      "doc_id", "text", store, "bm"))
    val after0 = serve(store)
    assert(!PostingsIndex.admitBatch(spark, docs(91 to 110), 0L,
      "doc_id", "text", store, "bm"), "replayed batchId refused")
    assert(serve(store) === after0)
    // crash between the docs member commit and the postings commit
    store.failTable = Some("bm_postings")
    intercept[RuntimeException] {
      PostingsIndex.admitBatch(spark, docs(111 to 130), 1L,
        "doc_id", "text", store, "bm")
    }
    store.failTable = None
    assert(serve(store) === after0,
      "a crashed admission must be invisible — members are orphans until the swap")
    assert(PostingsIndex.admitBatch(spark, docs(111 to 130), 1L,
      "doc_id", "text", store, "bm"), "redelivered batch folds")
    val clean = new TableStore(tmpDir("pidx-adm-clean"))
    PostingsIndex.build(docs(1 to 90), "doc_id", "text", clean, "bm")
    PostingsIndex.append(spark, docs(91 to 130), "doc_id", "text", clean, "bm")
    assert(serve(store) === serve(clean),
      "crash + redelivery must be bit-equal to a clean admission chain")
  }

  test("streamed admission over any micro-batch split equals batch appends") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val store = new TableStore(tmpDir("pidx-stream"))
    PostingsIndex.build(docs(1 to 90), "doc_id", "text", store, "bm")
    val input = MemoryStream[PostingsDoc]
    val chk = tmpDir("pidx-chk")
    def drain(): Unit =
      AdmissionStream.drain(input.toDF(), chk) { (b, id) =>
        PostingsIndex.admitBatch(b.sparkSession, b, id, "doc_id", "text", store, "bm")
      }.awaitTermination()
    input.addData(docRows(91 to 105): _*)
    input.addData(docRows(106 to 120): _*)
    drain()
    input.addData(docRows(121 to 130): _*)
    drain()
    val batch = new TableStore(tmpDir("pidx-batch"))
    PostingsIndex.build(docs(1 to 90), "doc_id", "text", batch, "bm")
    PostingsIndex.append(spark, docs(91 to 130), "doc_id", "text", batch, "bm")
    assert(serve(store) === serve(batch),
      "set-canonicity: any drain split must converge to the batch-append state")
  }
}
