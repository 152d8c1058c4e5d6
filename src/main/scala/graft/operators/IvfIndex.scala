package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Persisted IVF index over an embedding corpus — the embedding-side
  * analogue of the reference's incremental state maintenance (watermarks,
  * control_migration_schema_script.sql:244, 412–416) and of
  * [[Dedup.dedupAgainst]]'s batch-vs-corpus discipline: fit once, persist,
  * then serve arriving batches against the stored state WITHOUT refitting.
  *
  * Storage: versioned [[TableStore]] member tables plus ONE pinned
  * manifest — the same atomicity pattern as [[CorpusProfile]]:
  *
  *  - `<name>_centroids` — [[KMeans.fit]] output in long form
  *    `(cell, pos, centroid, n_assigned)`: kilobytes, the model;
  *  - `<name>_vectors` — the indexed corpus `(id, v, cell)`: each vector
  *    stored with its nearest-cell assignment, so a probe reads only the
  *    probed cells' rows;
  *  - `<name>_qvectors` (optional int8 tier), `<name>_pq_codebook` /
  *    `<name>_pq_codes` (optional PQ tier — [[PqIndex]]);
  *  - `<name>_manifest` — a 1-row file table pinning EVERY member's
  *    version. Every mutation (build/append/remove/rebalance/quantize/
  *    PQ-build) commits its member versions first — invisible orphans —
  *    and then swaps the manifest ONCE. Readers resolve all tiers from a
  *    single manifest read, so no interleaving of a read with any
  *    mutation can observe a mixed tier set (the round-11 residual:
  *    per-tier commits let a reader pair a new float tier with an old
  *    PQ tier, or — after a crashed rebalance — serve sibling tiers on a
  *    dead cell space). A writer crash before the swap leaves only
  *    orphans; the next mutation rolls the members back to their pins
  *    and re-derives.
  *
  * Scale shape (unchanged from [[Similarity.ivfTopKWithCentroids]]):
  * centroids BROADCAST everywhere they appear; assignment is one narrow
  * pass over the batch (argmax as a partial-combining max_by aggregate —
  * the exchange ships one row per vector, never batch × nCells);
  * [[append]] commits ONLY the batch's narrow `(id, v, cell)` rows — the
  * stored version's files carry into the next version as hard links
  * ([[TableStore.appendRows]]), O(batch) not O(corpus), with a
  * compacting rewrite folded in when file counts creep
  * ([[OverlayLock.appendOrCompact]]); [[topK]]'s candidate join is an
  * equi-join on `cell`, and each
  * (query, stored-vector) candidate arises at most once because a stored
  * vector lives in exactly ONE cell — no dedup exchange at all, strictly
  * cheaper than the self-join IVF path. The manifest adds one driver-side
  * file read per logical operation and one file-commit per mutation —
  * zero extra Spark jobs.
  */
object IvfIndex {

  private def centroidsTable(name: String) = s"${name}_centroids"
  private[operators] def vectorsTableName(name: String) = s"${name}_vectors"
  private def vectorsTable(name: String) = vectorsTableName(name)
  private def qVectorsTable(name: String) = s"${name}_qvectors"
  // revision-overlay members (one per data tier): the REPLACEMENT rows a
  // [[upsert]] admits, shadowing their base-tier ids at read time — the
  // LSM overlay that makes a revision batch O(batch) committed bytes
  // instead of a rewrite of every corpus-sized tier
  private def ovlVectorsTable(name: String) = s"${name}_vectors_ovl"
  private def ovlQVectorsTable(name: String) = s"${name}_qvectors_ovl"
  private[operators] def ovlPqCodesTable(name: String) = s"${name}_pq_codes_ovl"
  private[operators] def manifestTable(name: String) = s"${name}_manifest"

  /** Overlay-compaction policy: fold the overlay into the base tiers when
    * it exceeds `OvlFrac` of the base float tier's bytes AND the
    * `OvlFloorBytes` floor (the floor keeps parquet's fixed per-file
    * overhead from forcing tiny corpora to compact every batch). At the
    * 1/8 ratio a fold costs ≤ 9/8 base-tier writes amortized over ≥ 1/8
    * base-tier bytes of admitted revisions — bounded write amplification,
    * the classic LSM trade. Both probes are file-metadata reads. */
  private[graft] val OvlFloorBytes: Long = 1L << 20
  private[graft] val OvlFrac: Double = 0.125

  /** Default STARTING cell-hash bucket count for the FLOAT tier — the
    * bucket-pruned-read discipline applied to the vector family: every
    * probe only ever scores the probed cells' rows, so a cell-bucketed
    * layout lets the serve/screen read open only the probed cells'
    * buckets at the directory level instead of scanning the corpus
    * (`vectorsForCells`). Small start + [[OverlayLock.grownSpec]]
    * doubling at every wholesale rewrite — the standard sizing rule. */
  val VecBuckets: Int = 8

  // ---------------------------------------------------------------- manifest

  /** Pinned member-table versions for the whole index family plus the
    * streaming-admission gate. `None` = the optional tier has not been
    * built; `lastBatchId` = the newest [[admitBatch]] batchId folded in
    * (-1 before any admission) — riding in the manifest makes the index
    * advance and the gate record one atomic pointer swap, exactly the
    * [[CorpusProfile.admitBatch]] discipline. The `ovl*` pins are the
    * revision overlay: rows whose ids SHADOW the base tier at read time
    * (`None` = empty overlay), committed by [[upsert]] and folded into
    * the base by compaction — always through the same single swap. */
  private[graft] final case class IvfManifest(
      centroids: Int,
      vectors: Int,
      qvectors: Option[Int],
      pqCodebook: Option[Int],
      pqCodes: Option[Int],
      lastBatchId: Long = -1L,
      ovlVectors: Option[Int] = None,
      ovlQvectors: Option[Int] = None,
      ovlPqCodes: Option[Int] = None) extends IndexTier.Manifest {
    def fields: Seq[(String, Any)] = Seq("centroids_v" -> centroids,
      "vectors_v" -> vectors, "qvectors_v" -> qvectors.getOrElse(-1),
      "pq_codebook_v" -> pqCodebook.getOrElse(-1), "pq_codes_v" -> pqCodes.getOrElse(-1),
      "ovl_vectors_v" -> ovlVectors.getOrElse(-1),
      "ovl_qvectors_v" -> ovlQvectors.getOrElse(-1),
      "ovl_pq_codes_v" -> ovlPqCodes.getOrElse(-1), "last_batch_id" -> lastBatchId)
    def tiers(name: String): Seq[(String, Option[Int])] = Seq(
      centroidsTable(name) -> Some(centroids), vectorsTable(name) -> Some(vectors),
      qVectorsTable(name) -> qvectors, PqIndex.codebookTableName(name) -> pqCodebook,
      PqIndex.codesTableName(name) -> pqCodes, ovlVectorsTable(name) -> ovlVectors,
      ovlQVectorsTable(name) -> ovlQvectors, ovlPqCodesTable(name) -> ovlPqCodes)
  }

  /** The manifest and the manifest TABLE's version (the CAS anchor a
    * later manifest commit must carry). Absent overlay pins = a
    * pre-overlay manifest (an index persisted by an earlier build, e.g. a
    * tmpfs fixture surviving the upgrade): empty overlay, not an error. */
  private[graft] def readManifest(
      store: TableStore, name: String): Option[(IvfManifest, Int)] =
    IndexTier.readManifest(store, manifestTable(name), "index manifest") { f =>
      IvfManifest(f.int("centroids_v"), f.int("vectors_v"), f.pin("qvectors_v"),
        f.pin("pq_codebook_v"), f.pin("pq_codes_v"), f.long("last_batch_id"),
        f.pin("ovl_vectors_v"), f.pin("ovl_qvectors_v"), f.pin("ovl_pq_codes_v"))
    }

  private[operators] def requireManifest(
      store: TableStore, name: String): (IvfManifest, Int) =
    readManifest(store, name).getOrElse(throw new IllegalStateException(
      s"index $name has no manifest — build it first"))

  private def withIndexLock[A](store: TableStore, name: String)(body: => A): A =
    OverlayLock.withLock(store, "ivf", name)(body)

  // ------------------------------------------------------------------ build

  /** Fit spherical k-means on `df` and persist the index. When the index
    * already exists, this is the REBUILD path (a new model over a new
    * corpus — [[rebalance]] calls it with the stored corpus): every
    * sibling tier present in the manifest is RE-DERIVED from the new
    * float tier inside the same commit family — int8 re-quantizes, PQ
    * codes re-encode against the committed codebook — and ONE manifest
    * swap publishes model + corpus + siblings together. A reader never
    * observes the new cell space paired with old sibling rows (the
    * crashed-rebalance wrong-cell hazard the per-tier commit layout had);
    * a crash anywhere before the swap leaves the old coherent family
    * serving. Returns the fitted centroids (long form, as stored). */
  def build(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int,
      iterations: Int,
      store: TableStore,
      name: String,
      vecBuckets: Int = VecBuckets)(implicit caches: CacheScope): DataFrame =
    withIndexLock(store, name) {
      OverlayLock.retryOnConflict() {
        val spark = df.sparkSession
        val prev = readManifest(store, name)
        prev.foreach { case (m, _) => IndexTier.rollbackAll(store, m.tiers(name)) }
        val fitted = KMeans.fit(df, idCol, vecCol, nCells, iterations)
        val cv = store.write(fitted, centroidsTable(name))
        // float tier CELL-bucketed so probes read only the probed cells'
        // buckets ([[vectorsForCells]])
        val vv = store.writeBucketed(
          assign(df, idCol, vecCol, centroidVectorsOf(fitted)), vectorsTable(name),
          IndexTier.keyed(vecBuckets, "cell"),
          store.currentVersion(vectorsTable(name)))
        // sibling tiers re-derive from the COMMITTED new float rows (a
        // parquet read — the assignment pass is never recomputed per tier)
        val storedNew = store.snapshotAt(spark, vectorsTable(name), vv)
        val qv = prev.flatMap(_._1.qvectors).map { _ =>
          val (scale, qvc) = quantizeCols(col("v"))
          store.write(storedNew.select(col("id"), col("cell"),
            scale.as("scale"), qvc.as("qv")), qVectorsTable(name))
        }
        val (cbPin, pcV) = prev.map(_._1) match {
          case Some(m) if m.pqCodebook.isDefined && m.pqCodes.isDefined =>
            val cbRows = store.snapshotAt(spark,
              PqIndex.codebookTableName(name), m.pqCodebook.get)
            (m.pqCodebook, Some(store.write(
              PqIndex.encodeAssigned(spark, storedNew, cbRows),
              PqIndex.codesTableName(name))))
          case _ => (None, None)
        }
        // the admission gate survives a rebuild: already-admitted batch
        // ids stay admitted, so a live admitStream resumes cleanly
        // against the refitted family
        IndexTier.commitManifest(store, manifestTable(name), IvfManifest(cv, vv, qv, cbPin, pcV,
          prev.map(_._1.lastBatchId).getOrElse(-1L)), prev.map(_._2))
        fitted
      }
    }

  /** The stored model re-assembled as `(cell, c_v)` vectors
    * (manifest-pinned read). */
  def centroids(spark: SparkSession, store: TableStore, name: String): DataFrame = {
    val (m, _) = requireManifest(store, name)
    centroidsAt(spark, store, name, m)
  }

  private[operators] def centroidsAt(
      spark: SparkSession, store: TableStore, name: String, m: IvfManifest): DataFrame =
    centroidVectorsOf(store.snapshotAt(spark, centroidsTable(name), m.centroids))

  /** The indexed corpus `(id, v, cell)` as served (manifest-pinned read,
    * overlay-merged: revision rows shadow their base ids). */
  def vectors(spark: SparkSession, store: TableStore, name: String): DataFrame = {
    val (m, _) = requireManifest(store, name)
    vectorsAt(spark, store, name, m)
  }

  /** The served float tier: base ∖ overlay-ids ∪ overlay. */
  private[operators] def vectorsAt(
      spark: SparkSession, store: TableStore, name: String, m: IvfManifest): DataFrame =
    IndexTier.mergedWithOverlay(spark, store, baseVectorsAt(spark, store, name, m),
      ovlVectorsTable(name), m.ovlVectors, "id")

  /** The base float tier ONLY — the linked-append target; serving always
    * goes through [[vectorsAt]]. */
  private def baseVectorsAt(
      spark: SparkSession, store: TableStore, name: String, m: IvfManifest): DataFrame =
    store.snapshotAt(spark, vectorsTable(name), m.vectors)

  /** The SERVED float tier PRUNED to the buckets the probed cells hash
    * into: ONE narrow bounded collect over the (batch-bounded) probe
    * cell rows, then a directory-level `_bucket isin(...)` read of the
    * base — bytes read ∝ the probed cells' buckets, never the corpus —
    * with the compaction-bounded revision overlay merged in unpruned
    * (rows outside the probed cells are dropped by the cell equi-join,
    * so results are exact). A legacy plain layout serves the full read. */
  private def vectorsForCells(
      spark: SparkSession, store: TableStore, name: String, m: IvfManifest,
      probeCellRows: DataFrame): DataFrame =
    IndexTier.mergedWithOverlay(spark, store,
      IndexTier.prunedAt(spark, store, vectorsTable(name), m.vectors,
        IndexTier.touchedBuckets(store, vectorsTable(name), m.vectors, probeCellRows)),
      ovlVectorsTable(name), m.ovlVectors, "id")

  private def centroidVectorsOf(fittedLongForm: DataFrame): DataFrame =
    KMeans.centroidVectors(fittedLongForm)

  /** Refit-free nearest-cell assignment: each batch row → `(id, v, cell)`
    * under the SAME rule as the trainer (cosine desc, cell asc; zero-norm
    * cells dropped). One narrow pass — centroids broadcast, argmax via
    * map-side-combining max_by. Zero-norm batch vectors are dropped (they
    * have no direction; same guard as [[KMeans.fit]]). */
  def assign(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      centroidVectors: DataFrame): DataFrame = {
    val base = batch
      .select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
      .withColumn("nrm", l2Norm(col("v")))
      .filter(col("nrm") > 0)
    val cents = centroidVectors
      .select(col("cell"), col("c_v"))
      .withColumn("c_nrm", l2Norm(col("c_v")))
      .filter(col("c_nrm") > 0)
    base.crossJoin(broadcast(cents))
      .withColumn("sim", dot(col("v"), col("c_v")) / (col("nrm") * col("c_nrm")))
      .groupBy(col("id"))
      .agg(max_by(struct(col("cell"), col("v")),
        struct(col("sim"), -col("cell"))).as("_best"))
      .select(col("id"), col("_best.v").as("v"), col("_best.cell").as("cell"))
  }

  /** Incremental maintenance: assign an arriving batch to the PERSISTED
    * centroids (no refit) and commit corpus ∪ batch across EVERY tier —
    * float, int8 and PQ rows all land as member versions, then one
    * manifest swap publishes them together. The model version is
    * untouched. A crash before the swap leaves the old family serving
    * (orphans roll back on the next mutation); a reader can never see a
    * batch in one tier but not another.
    *
    * INSERT-ONLY by id: each tier anti-joins the batch against its own
    * stored ids, so re-appending an existing id — including one whose
    * vector CHANGED — is a no-op for that id, never a duplicate row.
    * Callers that mean to upsert a changed vector must [[remove]] the id
    * first and then append it. */
  def append(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      store: TableStore,
      name: String): Unit =
    withIndexLock(store, name) {
      OverlayLock.retryOnConflict() {
        appendStamped(spark, batch, idCol, vecCol, store, name, None)
      }
      ()
    }

  /** One gated fold attempt: derive from the manifest pins, commit every
    * tier's member version, swap the manifest once (recording `stamp`
    * when given). Returns false iff `stamp` was already admitted —
    * checked against the SAME manifest read the swap CASes on, so the
    * exactly-once argument is [[CorpusProfile.appendStamped]]'s
    * verbatim. */
  private def appendStamped(
      spark: SparkSession, batch: DataFrame, idCol: String, vecCol: String,
      store: TableStore, name: String, stamp: Option[Long]): Boolean = {
    val (m, mv) = requireManifest(store, name)
    if (stamp.exists(_ <= m.lastBatchId)) return false
    IndexTier.rollbackAll(store, m.tiers(name))
    // pinned: three tier commits below each consume the assignment —
    // unpinned, every tier would re-run the batch × broadcast(centroids)
    // argmax chain end-to-end (the PostingsIndex.appendStamped hygiene)
    val assigned = assign(batch, idCol, vecCol, centroidsAt(spark, store, name, m))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // insert-only means absent from the SERVED view: base ids AND the
      // revision overlay's ids both screen the batch (an id living only
      // in the overlay must not re-enter the base, or the overlay's
      // shadow would hide the newer row behind the stale re-append)
      val ovlIds = m.ovlVectors.map(pin => broadcast(
        store.snapshotAt(spark, ovlVectorsTable(name), pin)
          .select(col("id")).distinct()))
      def screenOvl(df: DataFrame): DataFrame =
        ovlIds.map(ids => df.join(ids, Seq("id"), "left_anti")).getOrElse(df)
      val stored = baseVectorsAt(spark, store, name, m)
      // O(batch) member commits: only the fresh rows are written; the
      // pinned version's files carry forward as links (appendOrCompact
      // folds a compacting rewrite in when file counts creep)
      val fresh = screenOvl(
        assigned.join(stored.select(col("id")), Seq("id"), "left_anti"))
        .select(col("id"), col("v"), col("cell")) // stored column order
      // materialize the pinned assignment once, then commit the three
      // independent tiers concurrently (different tables, no shared CAS —
      // the [[OverlayLock.inParallel]] rationale: serializing them stacks
      // three fixed job latencies onto every micro-batch drain)
      assigned.count()
      val results = OverlayLock.inParallel(Seq(
        // bucket layout preserved across appends (legacy plain tiers keep
        // the linked-append path until a full rewrite)
        () => if (store.bucketSpec(vectorsTable(name)).isDefined)
          OverlayLock.appendOrCompactBucketed(spark, store,
            vectorsTable(name), m.vectors, fresh)
        else OverlayLock.appendOrCompact(store, vectorsTable(name),
          m.vectors, stored, fresh)) ++
        // the int8 sibling is SERVING state — it must see the same append,
        // or quantized probes silently miss everything admitted since the
        // last quantizeStored
        m.qvectors.map(qPin => () => {
          val (scale, qvc) = quantizeCols(col("v"))
          val qStored = store.snapshotAt(spark, qVectorsTable(name), qPin)
          val qFresh = screenOvl(
            assigned.join(qStored.select(col("id")), Seq("id"), "left_anti"))
            .select(col("id"), col("cell"), scale.as("scale"), qvc.as("qv"))
          OverlayLock.appendOrCompact(store, qVectorsTable(name), qPin, qStored, qFresh)
        }).toSeq ++
        // the PQ tier too — encoded against the COMMITTED codebook
        // (refit-free, like the int8 re-quantization)
        m.pqCodes.map(pin =>
          () => PqIndex.appendEncodedAt(spark, assigned, store, name, m, pin)).toSeq)
      val vv = results.head.asInstanceOf[Int]
      val qv = m.qvectors.map(_ => results(1).asInstanceOf[Int])
      val pcV = m.pqCodes.map(_ => results.last.asInstanceOf[Int])
      IndexTier.commitManifest(store, manifestTable(name),
        m.copy(vectors = vv, qvectors = qv, pqCodes = pcV,
          lastBatchId = stamp.getOrElse(m.lastBatchId)), Some(mv))
      true
    } finally assigned.unpersist()
  }

  /** Exactly-once micro-batch admission into the index family — the gate
    * a `foreachBatch` sink needs, because Structured Streaming redelivers
    * the in-flight batch after a failure and a replayed [[append]] of a
    * batch whose ids already landed is only harmless thanks to the
    * insert-only anti-joins; a batch REASSIGNED after a concurrent
    * rebalance would still re-enter. The gate rides IN the family
    * manifest: tier advances and the `batchId` record are ONE atomic
    * pointer swap, so a crash anywhere before the swap leaves only
    * orphan member versions — the redelivered batch sees the old
    * `last_batch_id`, rolls the members back, and folds exactly once; a
    * crash after the swap leaves the batch recorded and redelivery is
    * skipped. Racing admitters serialize in-process on the index lock
    * and resolve cross-process via the conflict-retry re-read, exactly
    * like [[CorpusProfile.admitBatch]].
    *
    * The index must be BUILT (a seed corpus fitted) before streaming —
    * k-means needs data; this is the seed-then-stream deployment shape.
    * Returns true when the batch folded, false when skipped as replay. */
  def admitBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      vecCol: String,
      store: TableStore,
      name: String): Boolean =
    withIndexLock(store, name) {
      OverlayLock.retryOnConflict() {
        appendStamped(spark, batch, idCol, vecCol, store, name, Some(batchId))
      }
    }

  /** Streaming admission: every micro-batch of `stream` folds into the
    * persisted index family through the [[admitBatch]] gate — the index
    * as a live sink (the seventh streaming face, beside the profile's
    * [[CorpusProfile.admitStream]]). `availableNow = true` (default)
    * drains what is queued and stops — a bounded stage; `false` leaves
    * the query running continuously against a live feed. */
  def admitStream(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      store: TableStore,
      name: String,
      checkpoint: String,
      availableNow: Boolean = true): org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        DrainConf.withDrainConf(batch.sparkSession) {
          admitBatch(batch.sparkSession, batch, batchId, idCol, vecCol, store, name)
        }
        ()
      }
    (if (availableNow)
      writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    else writer).start()
  }

  /** The SEMANTIC screen-then-admit loop as ONE exactly-once fold — the
    * embedding-side [[PerceptualIndex.admitNovelBatch]], closing the gap
    * where every other modality had a managed novelty gate but the vector
    * family had only the ad-hoc [[dedupAgainstIndex]]: SCREEN the arriving
    * batch against the pinned stored state (probe `nProbe` cells, reject
    * every row whose best stored neighbour reaches `threshold` cosine —
    * q61's SemDeDup rule at the gate), admit the rest across every tier,
    * record the batchId — all derived from one manifest read and
    * published by one swap, so the stored set EVOLVES between drains
    * exactly once per delivered batch: a near-copy of a vector admitted
    * two drains ago is rejected BY that admission. Zero-norm arrivals
    * have no direction, match nothing, and admit. The screening policy
    * (threshold, nProbe) travels with the sink call, not the manifest —
    * the IVF family serves many thresholds for different purposes
    * ([[dedupAgainstIndex]]'s contract), unlike the single-budget
    * signature families. In-batch near-dups of EACH OTHER both admit
    * (the screen is against stored state — the [[PerceptualIndex
    * .admitNovelBatch]] contract). Returns true when folded, false on
    * replay. */
  def admitNovelBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      vecCol: String,
      store: TableStore,
      name: String,
      threshold: Double,
      nProbe: Int): Boolean =
    withIndexLock(store, name) {
      OverlayLock.retryOnConflict() {
        val (m, _) = requireManifest(store, name)
        if (batchId <= m.lastBatchId) false
        else {
          // the screen reads manifest-PINNED member versions, so orphan
          // successors from a prior crash cannot leak in; pinned because
          // appendStamped's tier commits would otherwise re-run the
          // probe join per tier
          val novel = dedupAgainstIndex(spark, batch, idCol, vecCol,
              store, name, threshold, nProbe)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            novel.count()
            appendStamped(spark, novel, idCol, vecCol, store, name, Some(batchId))
          } finally novel.unpersist()
        }
      }
    }

  /** [[admitNovelBatch]] as a live sink — the semantic admission loop
    * ([[admitStream]] with the SemDeDup screen in front). */
  def admitNovelStream(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      store: TableStore,
      name: String,
      checkpoint: String,
      threshold: Double,
      nProbe: Int,
      availableNow: Boolean = true): org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        DrainConf.withDrainConf(batch.sparkSession) {
          admitNovelBatch(batch.sparkSession, batch, batchId, idCol, vecCol,
            store, name, threshold, nProbe)
        }
        ()
      }
    (if (availableNow)
      writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    else writer).start()
  }

  /** UPSERT: replace-or-insert the batch's ids across every tier in ONE
    * manifest swap. [[remove]]-then-[[append]] has two commit points,
    * which is two defects a changed vector cannot afford: a reader
    * landing between the swaps sees the id ABSENT (it exists upstream
    * and was never taken down), and a crash between them loses the
    * vector until redelivery. Here the batch's rows land in the REVISION
    * OVERLAY — one small member per tier whose ids shadow the base at
    * read time (`base ∖ overlay-ids ∪ overlay`) — and the single swap
    * publishes all of them: a concurrent reader serves the old vector or
    * the new one, never neither. Ids not previously present insert
    * exactly as [[append]] would (an overlay id absent from the base
    * shadows nothing).
    *
    * Cost shape: committed bytes are O(batch ∪ overlay), NEVER
    * O(corpus) — the corpus-sized tiers are untouched, so a live
    * revision stream ([[admitUpsertStream]]) writes only what it admits.
    * When the overlay outgrows the [[OvlFrac]]/[[OvlFloorBytes]] policy
    * it folds into the base tiers (the one amortized corpus rewrite,
    * still a single swap). Returns how many ids were replaced (present
    * before the upsert) — a corpus semi-join scan paid only by this
    * manual path, never by the gated admission. */
  def upsert(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      store: TableStore,
      name: String): Long =
    withIndexLock(store, name) {
      OverlayLock.retryOnConflict() {
        upsertStamped(spark, batch, idCol, vecCol, store, name, None)._2
      }
    }

  /** The gated fold behind [[upsert]] and [[admitUpsertBatch]]:
    * single-swap replace-or-insert into the revision overlay, optionally
    * recording `stamp` as the admitted batchId in the SAME swap.
    * @return (folded, idsReplaced) — folded false iff `stamp` was
    *         already admitted; idsReplaced computed only when
    *         `stamp` is None (the gated path skips the corpus scan) */
  private def upsertStamped(
      spark: SparkSession, batch: DataFrame, idCol: String, vecCol: String,
      store: TableStore, name: String, stamp: Option[Long]): (Boolean, Long) = {
    val (m, mv) = requireManifest(store, name)
    if (stamp.exists(_ <= m.lastBatchId)) return (false, 0L)
    IndexTier.rollbackAll(store, m.tiers(name))
    val assigned = assign(batch, idCol, vecCol, centroidsAt(spark, store, name, m))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val batchIds = broadcast(assigned.select(col("id")).distinct())
      val replaced =
        if (stamp.isDefined) 0L
        else vectorsAt(spark, store, name, m)
          .join(batchIds, Seq("id"), "left_semi").count()
      // fold-vs-overlay decided on the PRE-batch overlay size (two file-
      // metadata reads): past the policy bound this batch rides the
      // amortized fold into the base; below it, only overlay bytes commit
      val overlayFull = m.ovlVectors.exists(pin => IndexTier.foldDue(
        store.byteSizeAt(ovlVectorsTable(name), pin),
        store.byteSizeAt(vectorsTable(name), m.vectors)))
      val next =
        if (overlayFull) foldTiers(spark, store, name, m, Some((assigned, batchIds)))
        else {
          // overlay rewrite: old overlay minus the batch's ids plus the
          // batch ([[IndexTier.overlayWrite]])
          def ovlWrite(table: String, pin: Option[Int], rows: DataFrame): Int =
            IndexTier.overlayWrite(spark, store, table, pin, batchIds, "id", rows)
          // materialize the pinned assignment once, then rewrite the
          // three independent overlay members concurrently (different
          // tables, no shared CAS — the [[OverlayLock.inParallel]]
          // rationale on the revision path)
          assigned.count()
          val results = OverlayLock.inParallel(Seq(
            () => ovlWrite(ovlVectorsTable(name), m.ovlVectors,
              assigned.select(col("id"), col("v"), col("cell")))) ++
            m.qvectors.map(_ => () => {
              val (scale, qvc) = quantizeCols(col("v"))
              ovlWrite(ovlQVectorsTable(name), m.ovlQvectors,
                assigned.select(col("id"), col("cell"),
                  scale.as("scale"), qvc.as("qv")))
            }).toSeq ++
            m.pqCodes.map(_ => () => {
              val cbRows = store.snapshotAt(spark, PqIndex.codebookTableName(name),
                m.pqCodebook.getOrElse(throw new IllegalStateException(
                  s"index $name has PQ codes but no codebook pin")))
              ovlWrite(ovlPqCodesTable(name), m.ovlPqCodes,
                PqIndex.encodeAssigned(spark, assigned, cbRows)
                  .select(col("id"), col("cell"), col("n_codes")))
            }).toSeq)
          val oqv = m.qvectors.map(_ => results(1).asInstanceOf[Int])
          val opc = m.pqCodes.map(_ => results.last.asInstanceOf[Int])
          m.copy(ovlVectors = Some(results.head.asInstanceOf[Int]),
            ovlQvectors = oqv, ovlPqCodes = opc)
        }
      IndexTier.commitManifest(store, manifestTable(name),
        next.copy(lastBatchId = stamp.getOrElse(m.lastBatchId)), Some(mv))
      (true, replaced)
    } finally assigned.unpersist()
  }

  /** Fold the revision overlay (plus, optionally, one more assigned
    * batch) into the base tiers: each tier commits its SERVED view —
    * `base ∖ (overlay ∪ batch) ids ∪ overlay ∪ batch` — as one member
    * version, and the returned manifest clears every overlay pin. The
    * caller publishes it in its single swap. This is the one amortized
    * corpus-sized rewrite the overlay design pays. */
  private def foldTiers(
      spark: SparkSession, store: TableStore, name: String, m: IvfManifest,
      extra: Option[(DataFrame, DataFrame)]): IvfManifest = {
    def foldOne(mergedBase: DataFrame, rows: DataFrame => DataFrame): DataFrame =
      extra match {
        case Some((assigned, batchIds)) =>
          mergedBase.join(batchIds, Seq("id"), "left_anti")
            .unionByName(rows(assigned))
        case None => mergedBase
      }
    // the amortized fold is the one wholesale rewrite — rebucket the
    // float tier's cell layout past the per-bucket byte target here
    // (a legacy plain tier upgrades to the bucketed layout too)
    val vv = store.writeBucketed(
      foldOne(vectorsAt(spark, store, name, m),
        _.select(col("id"), col("v"), col("cell"))),
      vectorsTable(name),
      OverlayLock.grownSpec(spark,
        IndexTier.layout(store, vectorsTable(name), VecBuckets, "cell"),
        store.byteSizeAt(vectorsTable(name), m.vectors) +
          m.ovlVectors.map(store.byteSizeAt(ovlVectorsTable(name), _))
            .getOrElse(0L)),
      Some(m.vectors))
    val qv = m.qvectors.map { qPin =>
      val (scale, qvc) = quantizeCols(col("v"))
      store.write(
        foldOne(qVectorsAt(spark, store, name, m),
          _.select(col("id"), col("cell"), scale.as("scale"), qvc.as("qv"))),
        qVectorsTable(name), Some(qPin))
    }
    val pcV = m.pqCodes.map { pin =>
      val encode = (assigned: DataFrame) => {
        val cbRows = store.snapshotAt(spark, PqIndex.codebookTableName(name),
          m.pqCodebook.getOrElse(throw new IllegalStateException(
            s"index $name has PQ codes but no codebook pin")))
        PqIndex.encodeAssigned(spark, assigned, cbRows)
          .select(col("id"), col("cell"), col("n_codes"))
      }
      store.write(foldOne(pqCodesAt(spark, store, name, m), encode),
        PqIndex.codesTableName(name), Some(pin))
    }
    m.copy(vectors = vv, qvectors = qv, pqCodes = pcV,
      ovlVectors = None, ovlQvectors = None, ovlPqCodes = None)
  }

  /** Maintenance operator: fold the revision overlay into the base tiers
    * now (one corpus-sized rewrite + one swap), regardless of the
    * automatic policy — e.g. before a planned probe-latency-sensitive
    * window. No-op when the overlay is empty. */
  def compactOverlay(spark: SparkSession, store: TableStore, name: String): Unit =
    withIndexLock(store, name) {
      OverlayLock.retryOnConflict() {
        val (m, mv) = requireManifest(store, name)
        if (m.ovlVectors.isDefined || m.ovlQvectors.isDefined ||
            m.ovlPqCodes.isDefined) {
          IndexTier.rollbackAll(store, m.tiers(name))
          IndexTier.commitManifest(store, manifestTable(name),
            foldTiers(spark, store, name, m, None), Some(mv))
        }
      }
    }

  /** Exactly-once micro-batch UPSERT admission — [[admitBatch]]'s gate
    * with [[upsert]]'s fold: a stream of vector REVISIONS (re-embedded
    * documents after a model refresh, corrected rows) replaces each
    * arriving id across every tier atomically; the batchId gate rides
    * in the same swap, so a redelivered revision folds exactly once
    * rather than being silently ignored by the insert-only anti-join
    * (which would keep the STALE vector). Returns true when folded. */
  def admitUpsertBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      vecCol: String,
      store: TableStore,
      name: String): Boolean =
    withIndexLock(store, name) {
      OverlayLock.retryOnConflict() {
        upsertStamped(spark, batch, idCol, vecCol, store, name, Some(batchId))._1
      }
    }

  /** [[admitStream]] with upsert folds — the live-revision sink for the
    * vector index family. */
  def admitUpsertStream(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      store: TableStore,
      name: String,
      checkpoint: String,
      availableNow: Boolean = true): org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        DrainConf.withDrainConf(batch.sparkSession) {
          admitUpsertBatch(batch.sparkSession, batch, batchId, idCol, vecCol, store, name)
        }
        ()
      }
    (if (availableNow)
      writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    else writer).start()
  }

  /** Takedown: commit a next version of every tier WITHOUT the given ids
    * — the removal path an index must have at scale (a handful of
    * right-to-be-forgotten ids cannot cost a corpus re-fit; the model is
    * untouched and probe behaviour for every other vector is unchanged).
    * `ids` is broadcast into anti-joins — callers pass the takedown
    * list, which is small by nature. One manifest swap publishes the
    * removal across all tiers at once. Returns how many vectors were
    * actually removed. */
  def remove(
      spark: SparkSession,
      ids: DataFrame,
      store: TableStore,
      name: String): Long =
    withIndexLock(store, name) {
      OverlayLock.retryOnConflict() {
        val (m, mv) = requireManifest(store, name)
        IndexTier.rollbackAll(store, m.tiers(name))
        val drop = broadcast(ids.select(col(ids.columns.head).as("_rm_id")).distinct())
        // a takedown rewrites every corpus-sized tier anyway, so the
        // revision overlay folds in for free: each tier commits its
        // SERVED view minus the dropped ids, and the swap clears the
        // overlay pins
        val stored = vectorsAt(spark, store, name, m)
        val kept = stored.join(drop, stored("id") === col("_rm_id"), "left_anti")
        val before = stored.count()
        val keptN = kept.count()
        val vv = store.writeBucketed(kept, vectorsTable(name),
          IndexTier.layout(store, vectorsTable(name), VecBuckets, "cell"),
          Some(m.vectors))
        val qv = m.qvectors.map { qPin =>
          val qStored = qVectorsAt(spark, store, name, m)
          store.write(qStored.join(drop, qStored("id") === col("_rm_id"), "left_anti"),
            qVectorsTable(name), Some(qPin))
        }
        val pcV = m.pqCodes.map { pin =>
          val codes = pqCodesAt(spark, store, name, m)
          store.write(codes.join(drop, codes("id") === col("_rm_id"), "left_anti"),
            PqIndex.codesTableName(name), Some(pin))
        }
        IndexTier.commitManifest(store, manifestTable(name),
          m.copy(vectors = vv, qvectors = qv, pqCodes = pcV,
            ovlVectors = None, ovlQvectors = None, ovlPqCodes = None), Some(mv))
        before - keptN
      }
    }

  /** Per-cell occupancy of the stored corpus — the index's health metric,
    * one partial-combined aggregate over the narrow `(id, v, cell)` table
    * (the `v` column is pruned at the scan). Cells the model declares but
    * no vector occupies are absent here; [[balance]] accounts for them. */
  def cellStats(spark: SparkSession, store: TableStore, name: String): DataFrame =
    vectors(spark, store, name).groupBy(col("cell")).agg(count(lit(1)).as("n"))

  /** Occupancy balance summary. `skewRatio` = max/mean occupancy where the
    * mean is taken over the MODEL's cells, not just the live ones — a cell
    * drained to zero is precisely the drift evidence the ratio must see.
    * A freshly trained index sits near 1; probe recall decays as the ratio
    * grows (hot cells make nProbe cells cover less of the corpus). */
  final case class CellBalance(
      nCellsModel: Int, nCellsLive: Int, maxOccupancy: Long, meanOccupancy: Double) {
    def skewRatio: Double =
      if (meanOccupancy == 0.0) 0.0 else maxOccupancy / meanOccupancy
  }

  /** Compute [[CellBalance]] — two tiny aggregates (≤ nCells rows ever
    * reach the driver), both tiers resolved from ONE manifest read.
    * Cheap enough to run after every [[append]]. */
  def balance(spark: SparkSession, store: TableStore, name: String): CellBalance = {
    val (m, _) = requireManifest(store, name)
    val nModel = store.snapshotAt(spark, centroidsTable(name), m.centroids)
      .select(col("cell")).distinct().count().toInt
    val occ = vectorsAt(spark, store, name, m)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .collect().map(_.getLong(1))
    CellBalance(
      nCellsModel = nModel,
      nCellsLive = occ.length,
      maxOccupancy = if (occ.isEmpty) 0L else occ.max,
      meanOccupancy = if (nModel == 0) 0.0 else occ.sum.toDouble / nModel)
  }

  /** Incremental SEMANTIC screening against the persisted index — the
    * embedding-side [[Dedup.dedupAgainst]]: drop every batch row whose
    * best stored neighbour (within the probed cells) reaches `threshold`
    * cosine, keep the rest. The daily SemDeDup admission check for
    * arriving data: the corpus is NEVER re-paired — screening is one
    * cell-bounded equi-join of the batch against stored state
    * ([[topK]] with k=1), and the drop list that comes back is ≤ batch
    * rows, broadcast into a narrow anti-join. Zero-norm batch rows have
    * no direction, match nothing, and are kept. Batch columns pass
    * through untouched. */
  def dedupAgainstIndex(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      store: TableStore,
      name: String,
      threshold: Double,
      nProbe: Int): DataFrame = {
    val dups = topK(spark, batch, idCol, vecCol, store, name, k = 1, nProbe)
      .filter(col("cosine") >= threshold)
      .select(col("vec_id").as("_dup_id"))
    batch.join(broadcast(dups), batch(idCol) === col("_dup_id"), "left_anti")
  }

  /** The refit trigger [[append]]-forever needs: when occupancy skew
    * exceeds `bound`, refit the model ON THE STORED CORPUS via [[build]]
    * (same cell count) — which re-derives every sibling tier from the
    * new float rows and publishes model + corpus + siblings in ONE
    * manifest swap. Readers swap atomically between coherent families; a
    * crash mid-refit leaves the old family serving (no wrong-cell
    * window). Below the bound this is a metadata-cost no-op returning
    * None.
    *
    * Policy, not mechanism: a production pipeline calls this after its
    * append cadence (e.g. daily) with a bound around 2–4; the refit costs
    * one k-means fit over the corpus — the same cost profile as the
    * original build, amortized over every probe that stops paying the
    * drift tax. */
  def rebalance(
      spark: SparkSession,
      store: TableStore,
      name: String,
      bound: Double,
      iterations: Int = 2)(implicit caches: CacheScope): Option[DataFrame] = {
    require(bound >= 1.0, s"bound is a max/mean ratio, must be >= 1, got $bound")
    val b = balance(spark, store, name)
    if (b.skewRatio <= bound) None
    else Some(build(vectors(spark, store, name).select(col("id"), col("v")),
      "id", "v", b.nCellsModel, iterations, store, name))
  }

  /** Re-derive every SIBLING tier from the manifest-pinned float tier and
    * publish them in one manifest swap — a maintenance operator, now that
    * the manifest already guarantees readers a coherent family: [[build]]
    * and [[rebalance]] re-derive siblings inside their own swap, so this
    * op exists for states that arise OUTSIDE the commit protocol (e.g. a
    * family restored from per-table backups). Idempotent and cheap (one
    * narrow pass per sibling: int8 re-quantizes, PQ re-encodes against
    * the committed codebook); converges from any tier state. */
  def repairTiers(spark: SparkSession, store: TableStore, name: String): Unit =
    withIndexLock(store, name) {
      OverlayLock.retryOnConflict() {
        val (m, mv) = requireManifest(store, name)
        IndexTier.rollbackAll(store, m.tiers(name))
        // siblings re-derive from the SERVED float view (base ∪ overlay),
        // so each rebuilt sibling is complete and its own overlay clears;
        // the float overlay itself is untouched — it keeps shadowing the
        // float base, and the rebuilt siblings already contain its rows
        val stored = vectorsAt(spark, store, name, m)
        val qv = m.qvectors.map { _ =>
          val (scale, qvc) = quantizeCols(col("v"))
          store.write(stored.select(col("id"), col("cell"),
            scale.as("scale"), qvc.as("qv")), qVectorsTable(name))
        }
        val pcV = (m.pqCodebook, m.pqCodes) match {
          case (Some(cbPin), Some(_)) =>
            val cbRows = store.snapshotAt(spark,
              PqIndex.codebookTableName(name), cbPin)
            Some(store.write(PqIndex.encodeAssigned(spark, stored, cbRows),
              PqIndex.codesTableName(name)))
          case _ => None
        }
        if (qv.isDefined || pcV.isDefined)
          IndexTier.commitManifest(store, manifestTable(name),
            m.copy(qvectors = qv.orElse(m.qvectors),
              pqCodes = pcV.orElse(m.pqCodes),
              ovlQvectors = if (qv.isDefined) None else m.ovlQvectors,
              ovlPqCodes = if (pcV.isDefined) None else m.ovlPqCodes),
            Some(mv))
      }
    }

  // -------------------------------------------------------------------
  // int8 scalar quantization — the storage diet for the 100 TB index.
  // Per-vector symmetric scheme (public knowledge; cf. faiss SQ8):
  // scale = max|component| / 127, component → floor(x/scale + 0.5)
  // clamped to [-127, 127]. floor(+0.5) instead of round() because the
  // two SQL dialects disagree on round-half of negatives while floor is
  // identical everywhere — the quantized value, and therefore the
  // dequantized score, replays bit-for-bit in the oracle.
  // -------------------------------------------------------------------

  /** `(scale, qv)` columns for a double-array vector column. The max
    * component maps to exactly ±127 (scale is derived from it), so the
    * clamp only ever guards float jitter — no clipping error; per-component
    * dequantization error is ≤ scale/2. */
  private def quantizeCols(v: Column): (Column, Column) = {
    val scale = array_max(transform(v, abs(_))) / lit(127.0)
    val qv = transform(v, x =>
      greatest(lit(-127L), least(lit(127L), floor(x / scale + lit(0.5)))).cast("byte"))
    (scale, qv)
  }

  /** Quantize the index's stored vectors into the int8 sibling table
    * `<name>_qvectors` `(id, cell, scale double, qv array<byte>)` —
    * ~1 byte per component versus 8 for the float table, which is what
    * dominates index storage at corpus scale. One narrow pass over the
    * manifest-pinned float tier, published by one manifest swap; the
    * model is untouched, and probes that can tolerate the ≤ scale/2
    * per-component error serve entirely from the quantized rows
    * ([[topKQuantized]]). From here on, [[append]]/[[remove]]/[[build]]
    * keep the tier in lockstep automatically. */
  def quantizeStored(spark: SparkSession, store: TableStore, name: String): Unit =
    withIndexLock(store, name) {
      OverlayLock.retryOnConflict() {
        val (m, mv) = requireManifest(store, name)
        m.qvectors.foreach(OverlayLock.rollbackIfAhead(store, qVectorsTable(name), _))
        m.ovlQvectors.foreach(
          OverlayLock.rollbackIfAhead(store, ovlQVectorsTable(name), _))
        // quantize the SERVED float view: the fresh int8 base then covers
        // any revision-overlay floats, so the int8 overlay clears
        val stored = vectorsAt(spark, store, name, m)
        val (scale, qvc) = quantizeCols(col("v"))
        val qv = store.write(
          stored.select(col("id"), col("cell"), scale.as("scale"), qvc.as("qv")),
          qVectorsTable(name))
        IndexTier.commitManifest(store, manifestTable(name),
          m.copy(qvectors = Some(qv), ovlQvectors = None), Some(mv))
      }
    }

  /** The quantized corpus as stored: `(id, cell, scale, qv)`
    * (manifest-pinned read). */
  def quantizedVectors(spark: SparkSession, store: TableStore, name: String): DataFrame = {
    val (m, _) = requireManifest(store, name)
    qVectorsAt(spark, store, name, m)
  }

  private def qVectorsAt(
      spark: SparkSession, store: TableStore, name: String, m: IvfManifest): DataFrame =
    IndexTier.mergedWithOverlay(spark, store,
      store.snapshotAt(spark, qVectorsTable(name),
        m.qvectors.getOrElse(throw new IllegalStateException(
          s"index $name has no int8 tier — run quantizeStored first"))),
      ovlQVectorsTable(name), m.ovlQvectors, "id")

  /** The served PQ-codes tier (base ∖ overlay-ids ∪ overlay) — the read
    * every PQ consumer shares ([[PqIndex.topKRefined]], [[remove]],
    * compaction). */
  private[operators] def pqCodesAt(
      spark: SparkSession, store: TableStore, name: String, m: IvfManifest): DataFrame =
    IndexTier.mergedWithOverlay(spark, store,
      store.snapshotAt(spark, PqIndex.codesTableName(name),
        m.pqCodes.getOrElse(throw new IllegalStateException(
          s"index $name has no PQ tier — run PqIndex.buildStored first"))),
      ovlPqCodesTable(name), m.ovlPqCodes, "id")

  /** Dequantized view `(id, cell, v)` of [[quantizedVectors]] — the scoring
    * input. A nonzero vector's max component quantizes to ±127, so the
    * dequantized norm is never zero and the cosine stays defined. */
  private def dequantized(qvec: DataFrame): DataFrame =
    qvec.select(col("id"), col("cell"),
      transform(col("qv"), x => x.cast("double") * col("scale")).as("v"))

  /** Top-k stored neighbours for each batch vector, probing the `nProbe`
    * nearest stored cells. Self-matches are excluded by id equality —
    * callers indexing and querying overlapping id spaces from different
    * tables should disambiguate ids first.
    *
    * Plan: batch × broadcast(centroids) ranks probe cells (window over the
    * batch's own nCells candidate rows); candidates are an equi-join on
    * `cell` against the stored `(id, v, cell)` rows — dir-pruned to probed
    * cells' data by the join itself; scoring happens inside the join so
    * the aggregation exchange carries `(id, id, double)`, and the partial
    * top-k aggregate ships k rows per (query, partition). */
  def topK(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      store: TableStore,
      name: String,
      k: Int,
      nProbe: Int): DataFrame = {
    val (m, _) = requireManifest(store, name)
    // the float tier is cell-bucketed: collect the probed cells' bucket
    // list (ONE narrow bounded job over the batch-bounded probe rows)
    // and read only those buckets ([[vectorsForCells]]); the probe side
    // is trigger/probe-table-bounded, so broadcast it explicitly — size
    // estimates over a bucket-pruned scan are too coarse to pick the
    // build side, and the stored side must never shuffle for a serve
    val q = probeQueries(batch, idCol, vecCol)
    val probes = probeCells(q, probeCentroidsOf(centroidsAt(spark, store, name, m)),
        nProbe)
      .select(col("q_id"), col("q_v"), col("q_nrm"), col("cell"))
    store.bucketSpecAt(vectorsTable(name), m.vectors) match {
      case None => // legacy plain layout: the old full-read join
        topKFromProbes(probes, vectorsAt(spark, store, name, m), k)
      case Some(_) =>
        topKFromProbes(broadcast(probes),
          vectorsForCells(spark, store, name, m, probes.select(col("cell"))), k)
    }
  }

  /** [[topK]] served from the int8 table — same probe ranking (the model
    * is full-precision either way), same candidate-join shape; only the
    * scored corpus rows are dequantized `qv × scale` products. The scan
    * reads ~1/8 the bytes of the float path. Both tiers resolve from ONE
    * manifest read. */
  def topKQuantized(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      store: TableStore,
      name: String,
      k: Int,
      nProbe: Int): DataFrame = {
    val (m, _) = requireManifest(store, name)
    topKAgainst(batch, idCol, vecCol, k, nProbe,
      centroidsAt(spark, store, name, m),
      dequantized(qVectorsAt(spark, store, name, m)))
  }

  /** Two-stage QUALITY serving from the persisted index (the
    * [[Pq.topKRefined]] shortlist-and-refine trick applied to stored
    * state): the int8 table ranks a `shortlist` per query at a wider
    * probe, and exact cosine on the float table re-ranks ONLY the
    * shortlist. Recall is then the float path's at the same `nProbe` —
    * quantization error is confined to shortlist membership (with
    * `shortlist >> k` it almost never evicts a true top-k neighbour) —
    * while the probe scan still reads the ~1/8-byte quantized rows:
    * serving at nProbe=4 over int8 costs about the same scan bytes as the
    * base tier's nProbe=2 over floats, and the refine joins move only
    * `shortlist` narrow rows per query (equi-join on id, never
    * all-pairs). Every tier resolves from ONE manifest read — the
    * shortlist and the re-rank can never straddle a concurrent
    * mutation's swap. Output schema matches [[topK]]. */
  def topKRefined(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      store: TableStore,
      name: String,
      k: Int,
      nProbe: Int,
      shortlist: Int): DataFrame = {
    require(shortlist >= k && k >= 1, s"need shortlist $shortlist >= k $k >= 1")
    val (m, _) = requireManifest(store, name)
    val short = topKAgainst(batch, idCol, vecCol, shortlist, nProbe,
        centroidsAt(spark, store, name, m),
        dequantized(qVectorsAt(spark, store, name, m)))
      .select(col("vec_id"), col("neighbor_id"))
    val q = batch
      .select(col(idCol).as("vec_id"), toDouble(col(vecCol)).as("q_v"))
      .withColumn("q_nrm", l2Norm(col("q_v")))
    val corpus = vectorsAt(spark, store, name, m)
      .select(col("id").as("neighbor_id"), col("v").as("n_v"))
      .withColumn("n_nrm", l2Norm(col("n_v")))
    Similarity.exactRerank(short, q, corpus, k)
  }

  /** Queries in probe shape: `(q_id, q_v, q_nrm)` with zero-norm
    * (directionless) rows dropped. */
  private[operators] def probeQueries(
      batch: DataFrame, idCol: String, vecCol: String): DataFrame =
    batch
      .select(col(idCol).as("q_id"), toDouble(col(vecCol)).as("q_v"))
      .withColumn("q_nrm", l2Norm(col("q_v")))
      .filter(col("q_nrm") > 0)

  /** A centroid-vectors frame in probe shape: `(cell, c_v, c_nrm)`,
    * zero-norm cells dropped. */
  private[operators] def probeCentroidsOf(centroidVectors: DataFrame): DataFrame =
    centroidVectors
      .select(col("cell"), col("c_v"))
      .withColumn("c_nrm", l2Norm(col("c_v")))
      .filter(col("c_nrm") > 0)

  /** Rank each query's `nProbe` nearest cells against the BROADCAST
    * centroids — the probe stage every persisted-index searcher shares
    * (one definition, so the (cosine desc, cell asc) tie-break can never
    * diverge between tiers). `q` carries `q_id`/`q_v`/`q_nrm` plus any
    * extra columns, which pass through; returns `q`'s columns + `cell`. */
  private[operators] def probeCells(
      q: DataFrame, cents: DataFrame, nProbe: Int): DataFrame = {
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("c_sim").desc, col("cell").asc)
    q.crossJoin(broadcast(cents))
      .withColumn("c_sim", dot(col("q_v"), col("c_v")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("c_rank", row_number().over(probeW))
      .filter(col("c_rank") <= nProbe)
      .select(q.columns.map(col).toIndexedSeq :+ col("cell"): _*)
  }

  private def topKAgainst(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int,
      centroidVectors: DataFrame,
      corpusVectors: DataFrame): DataFrame = {
    val q = probeQueries(batch, idCol, vecCol)
    val probes = probeCells(q, probeCentroidsOf(centroidVectors), nProbe)
      .select(col("q_id"), col("q_v"), col("q_nrm"), col("cell"))
    topKFromProbes(probes, corpusVectors, k)
  }

  /** The shared scoring tail: candidates are an equi-join on `cell`
    * against the corpus rows, scored inside the join (the exchange
    * carries `(id, id, double)`), partial top-k per query. */
  private def topKFromProbes(
      probes: DataFrame, corpusVectors: DataFrame, k: Int): DataFrame = {
    val corpus = corpusVectors
      .withColumn("nrm", l2Norm(col("v")))
    // a stored vector lives in exactly one cell → each (q_id, id) pair
    // scores at most once; no dropDuplicates exchange needed
    val scored = probes.join(corpus, Seq("cell"))
      .filter(col("q_id") =!= col("id"))
      .select(col("q_id").as("vec_id"), col("id").as("neighbor_id"),
        (dot(col("q_v"), col("v")) / (col("q_nrm") * col("nrm"))).as("cosine"))
    Similarity.topKFromScored(scored, k)
  }
}
