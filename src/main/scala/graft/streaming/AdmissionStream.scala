package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.{CacheScope, Dedup, DrainConf, SignatureIndex, TableStore}

/** Continuous corpus admission with DURABLE cross-batch dedup state — the
  * streaming composition of [[SignatureIndex]]:
  *
  * per micro-batch: within-batch near-dedup (a batch can carry mutual
  * near-dups of itself) → screen against the PERSISTED signature index →
  * append the admitted docs' signatures → hand the admitted rows to the
  * sink callback.
  *
  * This is what [[CorpusIngest.prepare]]'s watermark-bounded
  * `dropDuplicatesWithinWatermark` cannot give: that state dies with the
  * watermark (and the query); the signature index is a versioned table,
  * so a re-crawl arriving DAYS later — or after a restart — is still
  * screened against everything ever admitted. State size is
  * ~numHashes longs per admitted doc, not raw text.
  *
  * Failure semantics: the index append is CAS-protected and idempotent by
  * id, and a replayed micro-batch re-screens to the same decisions (an
  * admitted id re-screens as a no-op — id-inequality guard), so the
  * at-least-once `foreachBatch` contract composes to exactly-once index
  * state. A concurrent writer on the index loses no data: the CAS retry
  * re-reads and re-appends.
  *
  * Small-file accumulation is bounded INSIDE the append path: every tier
  * of the index is hash-bucketed, and [[graft.operators.OverlayLock
  * .appendOrCompactBucketed]] folds a bucket-granular compaction into any
  * drain whose touched buckets have crept past the per-bucket bound — no
  * separate maintenance call in the loop.
  */
object AdmissionStream {

  /** The one admission drain: run `fold(batch, batchId)` for every
    * micro-batch of `stream` — the single `foreachBatch` every overlay
    * family's admission loop goes through, with the family's gated
    * `admit*Batch` as the fold. Each fold runs at the drain shuffle width
    * ([[graft.operators.DrainConf.withDrainConf]]: its jobs are pure batch
    * queries, and a fixed small width beats per-stage AQE re-plans here).
    * `availableNow = true` (default) drains what is queued and stops — a
    * bounded stage; `false` leaves the query running continuously against
    * a live feed.
    *
    * {{{
    * AdmissionStream.drain(stream, checkpoint) { (b, id) =>
    *   IvfIndex.admitBatch(b.sparkSession, b, id, "id", "vec", store, "idx")
    * }.awaitTermination()
    * }}}
    */
  def drain(stream: DataFrame, checkpoint: String, availableNow: Boolean = true)(
      fold: (DataFrame, Long) => Any): StreamingQuery = {
    val writer = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        DrainConf.withDrainConf(batch.sparkSession)(fold(batch, batchId))
        ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  def start(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      store: TableStore,
      indexName: String,
      threshold: Double,
      checkpointDir: String,
      sink: DataFrame => Unit,
      availableNow: Boolean = true): StreamingQuery =
    drain(stream, checkpointDir, availableNow) { (batch, _) =>
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        implicit val scope: CacheScope = new CacheScope
        try {
          val p = SignatureIndex.params(spark, store, indexName)
          // within-batch near-dedup under the INDEX's own parameters:
          // mutual near-dups arriving together collapse to the min id
          // before the index sees either
          val internal = Dedup.nearDedupApprox(batch, idCol, textCol,
            p.shingleN, threshold, p.numHashes, p.bands)
          // admitted rows feed the index append AND the sink — pin once
          val admitted = scope.pin(SignatureIndex.screen(spark, internal,
            idCol, textCol, store, indexName, threshold))
          SignatureIndex.append(spark, admitted, idCol, textCol, store, indexName)
          sink(admitted)
        } finally scope.release()
      }
    }

  /** [[SignatureIndex.supersede]] as a live sink — the TEXT keeper loop:
    * per micro-batch, one containment screen-then-supersede fold (the
    * arriving full article retires the stored snippet it subsumes,
    * contained arrivals reject, one CAS commit); admitted rows feed the
    * sink. Same failure semantics as [[start]]: the fold is idempotent
    * by id, so at-least-once redelivery composes to exactly-once stored
    * state. `preDedupBatch` opts into [[SignatureIndex.supersede]]'s
    * within-batch containment screen (default off: in-batch containment
    * between arrivals is not screened, and a snippet+article pair in one
    * drain admits both). */
  def startSupersede(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      store: TableStore,
      indexName: String,
      minContainment: Double,
      checkpointDir: String,
      sink: DataFrame => Unit,
      availableNow: Boolean = true,
      preDedupBatch: Boolean = false): StreamingQuery =
    drain(stream, checkpointDir, availableNow) { (batch, _) =>
      if (!batch.isEmpty) {
        implicit val scope: CacheScope = new CacheScope
        try {
          val admitted = scope.pin(SignatureIndex.supersede(batch.sparkSession,
            batch, idCol, textCol, store, indexName, minContainment,
            preDedupBatch = preDedupBatch))
          sink(admitted)
        } finally scope.release()
      }
    }
}
