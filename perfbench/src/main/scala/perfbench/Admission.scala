package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.operators.{CacheScope, Dedup, SignatureIndex, TableStore}
import graft.perfbench.DrainConfAccess
import graft.streaming.AdmissionStream

/** The streaming dedup-admission loop: a persisted MinHash signature index
  * over a document corpus screens each arriving batch. Each operation
  * writes one batch file into the stream's source directory and runs one
  * `AdmissionStream.start(..., availableNow = true)` drain to termination.
  *
  * A batch mixes novel documents with planted near-copies: of stored
  * documents, of documents admitted by an earlier drain, and of novel
  * documents in the same batch. Every novel document must be admitted and
  * every copy rejected.
  *
  * Documents are 80–119 words drawn uniformly from a 30,000-word
  * vocabulary, so two unrelated documents share no word 3-gram in
  * practice. A copy substitutes one word, which changes at most 3 of its
  * ≥ 78 shingles: Jaccard ≥ 75/81 ≈ 0.926. Under the index's parameters
  * (3-word shingles, 64 hashes in 16 bands of 4) the LSH candidate test
  * misses such a pair with probability (1 − 0.926^4)^16 ≈ 6e-10, and the
  * 64-hash estimate falls below the 0.6 threshold with probability below
  * 1e-20 (ten standard deviations): detection is certain to about 1 in
  * 10^9 per copy. */
object Admission extends Workload {
  val name = "admission"
  val Params: SignatureIndex.Params = SignatureIndex.Params(shingleN = 3, numHashes = 64, bands = 16)
  val Threshold = 0.6
  val IndexName = "corpus"
  private val VocabSize = 30000

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Vocabulary word `i`: distinct lowercase tokens (the tokenizer
    * lower-cases and splits on spaces). */
  def word(i: Int): String = "w" + Integer.toString(i, 36)

  def novelDoc(rng: SplittableRandom): Array[String] =
    Array.fill(80 + rng.nextInt(40))(word(rng.nextInt(VocabSize)))

  /** A near-copy: one word substituted at a random position. */
  def nearCopy(doc: Array[String], rng: SplittableRandom): Array[String] = {
    val c = doc.clone()
    c(rng.nextInt(c.length)) = word(VocabSize + rng.nextInt(VocabSize)) // never in the vocabulary
    c
  }

  private def jsonLine(id: Long, words: Array[String]): String =
    s"""{"doc_id":$id,"text":"${words.mkString(" ")}"}"""

  /** Write a JSON-lines file under a temp name, then move it into place so
    * the stream never lists a half-written file. */
  def writeDocs(file: Path, docs: Seq[(Long, Array[String])]): Unit = {
    val tmp = file.resolveSibling("." + file.getFileName + ".tmp")
    Files.write(tmp, docs.map { case (id, w) => jsonLine(id, w) }.mkString("\n")
      .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE)
  }

  def setup(spark: SparkSession, dir: Path, seed: Long, scale: Double): Instance =
    new AdmissionInstance(spark, dir, seed, scale)

  final class AdmissionInstance(spark: SparkSession, dir: Path, seed: Long, scale: Double)
      extends Instance {
    private val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 2)
    private val store = new TableStore(dir.resolve("store").toString)
    val storeRoot: Path = dir.resolve("store")
    private val sourceDir = Files.createDirectories(dir.resolve("source"))
    private val sideDir = Files.createDirectories(dir.resolve("traced"))
    private val checkpoint = dir.resolve("checkpoint").toString
    private val batchSize = math.max(20, math.round(150 * scale).toInt)
    private val stored = mutable.ArrayBuffer.empty[Array[String]]
    private val admittedEarlier = mutable.ArrayBuffer.empty[Array[String]]
    private var nextId = 0L

    // the initial corpus, built into the index
    locally {
      val n = math.max(100, math.round(5000 * scale).toInt)
      val docs = (0 until n).map { _ => val d = novelDoc(rng); stored += d; nextId += 1; (nextId, d) }
      val file = Files.createDirectories(dir.resolve("corpus")).resolve("part-0.json")
      writeDocs(file, docs)
      SignatureIndex.build(spark.read.schema(docSchema).json(file.toString),
        "doc_id", "text", Params, store, IndexName)
    }

    /** One batch: 60% novel, 15% copies of stored documents, 10% copies of
      * documents admitted earlier (stored ones before any were), 15%
      * copies of novel documents earlier in the same batch. Copies always
      * carry larger ids than their in-batch originals, so within-batch
      * dedup keeps the original. Returns (documents, novel ids). */
    private def batch(): (Seq[(Long, Array[String])], Set[Long]) = {
      def id(): Long = { nextId += 1; nextId }
      val nNovel = (batchSize * 0.60).toInt
      val nStoredCopies = (batchSize * 0.15).toInt
      val nEarlierCopies = (batchSize * 0.10).toInt
      val nInBatch = batchSize - nNovel - nStoredCopies - nEarlierCopies
      val novel = (0 until nNovel).map(_ => id() -> novelDoc(rng))
      def pick(from: collection.IndexedSeq[Array[String]]) = from(rng.nextInt(from.size))
      val copies =
        (0 until nStoredCopies).map(_ => id() -> nearCopy(pick(stored), rng)) ++
          (0 until nEarlierCopies).map(_ =>
            id() -> nearCopy(pick(if (admittedEarlier.isEmpty) stored else admittedEarlier), rng)) ++
          (0 until nInBatch).map(_ => id() -> nearCopy(novel(rng.nextInt(novel.size))._2, rng))
      (novel ++ copies, novel.map(_._1).toSet)
    }

    def op(i: Int, tracer: Option[Tracer]): OpOutcome = {
      val (docs, expected) = batch()
      val file = (if (tracer.isEmpty) sourceDir else sideDir).resolve(f"batch-$i%06d.json")
      writeDocs(file, docs)
      val admitted = mutable.ArrayBuffer.empty[Long]
      var sinkCalls = 0 // one per non-empty micro-batch
      val sink: DataFrame => Unit = df => admitted.synchronized {
        sinkCalls += 1
        admitted ++= df.select("doc_id").collect().map(_.getLong(0))
      }
      val (result, secs, w0, w1) = Workload.timed(tracer, i.toLong, "admission.drain") {
        try {
          tracer match {
            case None =>
              val stream = spark.readStream.schema(docSchema).json(sourceDir.toString)
              AdmissionStream.start(stream, "doc_id", "text", store, IndexName, Threshold,
                checkpoint, sink, availableNow = true).awaitTermination()
              Right(Map.empty[String, Double])
            case Some(t) => Right(tracedDrain(t, spark.read.schema(docSchema).json(file.toString), sink))
          }
        } catch { case scala.util.control.NonFatal(e) => Left(Workload.describe(e)) }
      }
      val got = admitted.toSet
      val error = result.left.toOption.orElse {
        val missed = expected -- got
        val leaked = got -- expected
        if (missed.isEmpty && leaked.isEmpty && got.size == admitted.size) None
        else Some(s"drain $i: ${missed.size} novel documents rejected, " +
          s"${leaked.size} copies admitted, ${admitted.size - got.size} admitted twice")
      }
      val byId = docs.toMap
      admittedEarlier ++= got.toSeq.sorted.flatMap(byId.get)
      OpOutcome("op", secs, w0, w1, docs.size.toLong, error,
        if (error.isEmpty) 1.0 else 0.0,
        result.toOption.getOrElse(Map.empty) ++ Map(
          "operators.sigindex.admitted_frac" -> got.size.toDouble / docs.size,
          "streaming.batches" -> sinkCalls.toDouble))
    }

    /** The composition `AdmissionStream.start` runs per micro-batch,
      * called directly on the batch file, each call in a span:
      * within-batch `Dedup.nearDedupApprox` under the index's own
      * parameters → `SignatureIndex.screen` → `SignatureIndex.append` →
      * the sink, under graft's own drain settings (`DrainConf`). The
      * screened rows are persisted, as the stream pins them, and counted
      * inside the screen span so that span carries the screen's work
      * rather than the append that would otherwise force it. */
    private def tracedDrain(t: Tracer, batch: DataFrame, sink: DataFrame => Unit)
        : Map[String, Double] = DrainConfAccess.withDrainConf(spark) {
      implicit val scope: CacheScope = new CacheScope
      try {
        val nIn = t.span("streaming.batch_read", "streaming")(batch.count())
        val p = SignatureIndex.params(spark, store, IndexName)
        val internal = t.span("operators.dedup", "operators.dedup") {
          val d = Dedup.nearDedupApprox(batch, "doc_id", "text", p.shingleN, Threshold,
            p.numHashes, p.bands).persist(StorageLevel.MEMORY_AND_DISK)
          (d, d.count())
        }
        val admitted = t.span("operators.sigindex.screen", "operators.sigindex") {
          val a = SignatureIndex.screen(spark, internal._1, "doc_id", "text", store, IndexName,
            Threshold).persist(StorageLevel.MEMORY_AND_DISK)
          a.count()
          a
        }
        try {
          t.span("operators.sigindex.append", "operators.sigindex")(
            SignatureIndex.append(spark, admitted, "doc_id", "text", store, IndexName))
          t.span("streaming.sink", "streaming")(sink(admitted))
        } finally { admitted.unpersist(); internal._1.unpersist() }
        Map("operators.dedup.rows_out_frac" -> internal._2.toDouble / math.max(1L, nIn))
      } finally scope.release()
    }
  }
}
