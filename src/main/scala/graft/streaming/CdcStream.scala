package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.operators.{ChangeApplier, OverlayLock, TableStore}

/** Structured-Streaming realization of the reference's polling micro-batch
  * CDC pipeline (SURVEY §2.9): the cron-scheduled root task + watermark
  * bookkeeping collapse into Spark's file-source + checkpoint — the file
  * source's own log replaces `last_incremental_file`, `Trigger.AvailableNow`
  * replaces the cron, and `foreachBatch` applies the same
  * [[ChangeApplier]] merge the batch path uses.
  *
  * This is the managed-equivalent alternative to
  * [[graft.operators.IncrementalMerge]]; both share the change-application
  * semantics, so the fold-oracle tests cover them jointly.
  */
object CdcStream {

  /** Stream of raw change rows from a table's stage dir (change files only,
    * `2*.csv` per sql:301). Carries the same schema-drift guard as the
    * batch reader ([[graft.sources.CsvStageReader]]): a staged row WIDER
    * than (op + target) aborts the stream naming the file instead of
    * silently mis-binding trailing columns. A streaming source's schema is
    * fixed at start, so `widen_on_drift` is a batch-path feature — on a
    * drift failure here, widen via the batch merge (or
    * [[TableStore.widenSchema]] directly) and restart the stream with the
    * widened target schema. */
  def changeStream(
      spark: SparkSession,
      tableDir: String,
      target: StructType): DataFrame = {
    import graft.sources.CsvStageReader
    val width = target.fields.length + 1
    val raw = spark.readStream
      .schema(CsvStageReader.probeSchema(width))
      .options(CsvStageReader.csvOptions)
      .option("pathGlobFilter", "2*.csv")
      .option("maxFilesPerTrigger", "32")
      .csv(tableDir)
      .withColumn("_file_name", col("_metadata.file_name"))
    // single-split contract, streaming form: the per-micro-batch row
    // numbers below assume each file is ONE split (the batch reader
    // enforces this with a driver-side require; files here are discovered
    // continuously, so the guard rides the scan instead). A multi-split
    // file would interleave partitions and could silently let an older
    // update win latest-per-PK. The bound is openCostInBytes, NOT
    // maxPartitionBytes: Spark's effective split size is
    // min(maxPartitionBytes, max(openCostInBytes, totalBytes/parallelism))
    // and the micro-batch's totalBytes isn't known when this plan is
    // built, so only the openCost floor is guaranteed. Conservative by
    // design — DMS change files are MB-scale; a stage that legitimately
    // ships bigger files raises spark.sql.files.openCostInBytes.
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.openCostInBytes", "4194304b"))
    val sizeMsg = concat(
      lit("staged file "), col("_file_name"),
      lit(s" exceeds spark.sql.files.openCostInBytes=$maxSplit — the " +
        "guaranteed single-split floor for a streaming scan; raise that " +
        "conf so each DMS file stays a single split (row-number contract)"))
    val sized = raw.filter(
      when(col("_metadata.file_size") > maxSplit,
        raise_error(sizeMsg).cast("boolean")).otherwise(lit(true)))
    // shared parsing contract: drift guard + op + positional casts
    CsvStageReader.parseStaged(sized, target, withOp = true)
  }

  /** Run the stream, merging each micro-batch into the versioned table.
    * Within a batch, latest (file, row) wins per PK — same W1 dedup; the
    * per-file row number is synthesized per micro-batch. */
  def start(
      spark: SparkSession,
      tableDir: String,
      tableName: String,
      target: StructType,
      pks: Seq[String],
      store: TableStore,
      checkpointDir: String,
      availableNow: Boolean = true): StreamingQuery = {
    val stream = changeStream(spark, tableDir, target)
    val writer = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val withRow = batch.withColumn("_row_in_file",
            row_number().over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("_file_name"))
              .orderBy(monotonically_increasing_id())))
          val latest = ChangeApplier.latestPerKey(withRow, pks)
          // shared with the batch merge — bucketed targets rewrite only
          // the buckets this micro-batch touches. A concurrent writer
          // (e.g. a batch Orchestrator on the same table) makes the
          // commit's CAS throw; applyBatch re-reads the table's current
          // state on entry, so the retry merges against the winner's
          // version — the micro-batch is latest-per-PK, hence idempotent.
          OverlayLock.retryOnConflict {
            graft.operators.IncrementalMerge.applyBatch(spark, store, tableName, latest, pks)
          }
        }
        ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }
}
