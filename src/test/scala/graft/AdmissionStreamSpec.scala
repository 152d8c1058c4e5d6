package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.{SignatureIndex, TableStore}
import graft.streaming.AdmissionStream

/** Streaming corpus admission against the PERSISTED signature index:
  * cross-micro-batch durable dedup state — what watermark-bounded
  * in-stream dedup cannot give. */
class AdmissionStreamSpec extends SparkSpec {

  case class Doc(doc_id: Long, text: String)

  private val p = SignatureIndex.Params(shingleN = 2, numHashes = 32, bands = 16)

  test("drain runs every fold at the drain width and leaves the caller's conf alone") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val callerWidth = spark.conf.get("spark.sql.shuffle.partitions")
    // a drain width that differs from the default of 8
    spark.conf.set("spark.graft.drainShufflePartitions", "3")
    try {
      val seen = scala.collection.mutable.ArrayBuffer[(Long, String, String)]()
      val input = MemoryStream[Doc]
      val chk = tmpDir("drain-chk")
      // two AvailableNow cycles over one checkpoint: batchIds 0 then 1
      Seq(Doc(1L, "first"), Doc(2L, "second")).foreach { d =>
        input.addData(d)
        AdmissionStream.drain(input.toDF(), chk) { (b, id) =>
          val conf = b.sparkSession.conf
          seen.synchronized {
            seen += ((id, conf.get("spark.sql.shuffle.partitions"),
              conf.get("spark.sql.adaptive.enabled")))
          }
        }.awaitTermination()
      }
      assert(seen.toSeq === Seq((0L, "3", "false"), (1L, "3", "false")))
      assert(spark.conf.get("spark.sql.shuffle.partitions") === callerWidth)
    } finally spark.conf.unset("spark.graft.drainShufflePartitions")
  }

  test("admission: per-batch screen + append makes later batches see earlier admissions") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val store = new TableStore(tmpDir("admission"))
    SignatureIndex.build(
      Seq((1L, "the quick brown fox jumps over the lazy dog tonight"))
        .toDF("doc_id", "text"),
      "doc_id", "text", p, store, "corpus")

    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val input = MemoryStream[Doc]
    val chk = tmpDir("admission-chk") // ONE checkpoint: cycles resume offsets
    def runCycle(): Unit = {
      // AvailableNow drains what's queued then stops — each cycle is its
      // own streaming query over the same durable checkpoint + index
      val q = AdmissionStream.start(input.toDF(), "doc_id", "text",
        store, "corpus", threshold = 0.5,
        checkpointDir = chk,
        sink = df => admitted.synchronized {
          admitted ++= df.collect().map(_.getAs[Long]("doc_id"))
        })
      q.awaitTermination()
    }

    // batch 1: a near-dup of the SEED corpus is screened out; a novel doc
    // and one of two mutual in-batch near-dups are admitted
    input.addData(
      Doc(10L, "the quick brown fox jumps over the lazy dog today"), // ~seed → drop
      Doc(11L, "an entirely new arrival about distributed engines and state"), // admit
      Doc(12L, "pack my box with five dozen liquor jugs now"), // admit (min of 12/13 pair)
      Doc(13L, "pack my box with five dozen liquor jugs later")) // in-batch near-dup of 12 → drop
    runCycle()
    assert(admitted.sorted === Seq(11L, 12L))
    assert(SignatureIndex.signatures(spark, store, "corpus").count() === 3) // seed + 11 + 12

    // batch 2, a separate query lifecycle: a near-dup of doc 11 — admitted
    // in a PREVIOUS batch — is screened by the durable index state
    admitted.clear()
    input.addData(
      Doc(20L, "an entirely new arrival about distributed engines and staves"), // ~11 → drop
      Doc(21L, "completely fresh material nothing has ever resembled before"))
    runCycle()
    assert(admitted.sorted === Seq(21L))
    assert(SignatureIndex.signatures(spark, store, "corpus").count() === 4)
  }

  test("auto-compaction bounds per-bucket file counts across many micro-batches, data intact") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val store = new TableStore(tmpDir("admission-compact"))
    SignatureIndex.build(
      (1L to 8L).map(i =>
        (i, (0 until 8).map(j => s"seed${i}v$j").mkString("base ", " ", " fin")))
        .toDF("doc_id", "text"),
      "doc_id", "text", p, store, "corpus")

    // distinct vocabulary per doc → everything is admitted, every batch
    // link-appends into each tier's touched buckets; the fold-in bucket
    // compaction (OverlayLock.appendOrCompactBucketed) must keep the
    // per-bucket file counts flat — 20 one-pair drains would otherwise
    // average 20*32/64 = 10 files per pos-tier bucket vs the bound of 8
    def novelDoc(i: Long) = Doc(100L + i,
      (0 until 8).map(j => s"w${i}x$j").mkString("token ", " ", " end"))

    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val input = MemoryStream[Doc]
    val chk = tmpDir("admission-compact-chk")
    (0 until 10).foreach { cycle =>
      input.addData(novelDoc(cycle * 2), novelDoc(cycle * 2 + 1))
      val q = AdmissionStream.start(input.toDF(), "doc_id", "text",
        store, "corpus", threshold = 0.5, checkpointDir = chk,
        sink = df => admitted.synchronized {
          admitted ++= df.collect().map(_.getAs[Long]("doc_id"))
        })
      q.awaitTermination()
      // invariant HOLDS CONTINUOUSLY, not just at the end: compaction ran
      // whenever a drain pushed a touched bucket to the bound
      Seq("corpus_sigs", "corpus_pos", "corpus_band").foreach { tbl =>
        val counts = store.bucketFileCounts(tbl)
        assert(counts.isEmpty || counts.values.max <= 8,
          s"cycle $cycle left ${counts.values.max} files in a $tbl bucket")
      }
    }
    // every admitted doc's signature survived the compaction rewrites
    assert(admitted.size === 20)
    val ids = SignatureIndex.signatures(spark, store, "corpus")
      .select("id").as[Long].collect().sorted
    assert(ids === ((1L to 8L) ++ (0 until 20).map(100L + _)).sorted)
    // and the compacted index still screens: an exact replay of an
    // admitted doc is dropped
    admitted.clear()
    input.addData(Doc(999L, novelDoc(0L).text))
    val q = AdmissionStream.start(input.toDF(), "doc_id", "text",
      store, "corpus", threshold = 0.5, checkpointDir = chk,
      sink = df => admitted.synchronized {
        admitted ++= df.collect().map(_.getAs[Long]("doc_id"))
      })
    q.awaitTermination()
    assert(admitted.isEmpty, "replayed content must still be screened after compaction")
  }
}
