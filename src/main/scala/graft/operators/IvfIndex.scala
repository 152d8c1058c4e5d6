package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ProbeCells
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
  * centroids BROADCAST everywhere they appear (the serve probe's model
  * once per pinned version, [[centroidModel]]); assignment is one narrow
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
  private[operators] def vectorsTable(name: String) = s"${name}_vectors"
  private def qVectorsTable(name: String) = s"${name}_qvectors"
  // revision-overlay members (one per data tier): the REPLACEMENT rows a
  // [[upsert]] admits, shadowing their base-tier ids at read time — the
  // LSM overlay that makes a revision batch O(batch) committed bytes
  // instead of a rewrite of every corpus-sized tier
  private def ovlVectorsTable(name: String) = s"${name}_vectors_ovl"
  private def ovlQVectorsTable(name: String) = s"${name}_qvectors_ovl"
  private def ovlPqCodesTable(name: String) = s"${name}_pq_codes_ovl"
  private[operators] def manifestTable(name: String) = s"${name}_manifest"

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

  private def mutate[A](store: TableStore, name: String)(attempt: => A): A =
    OverlayLock.mutate(store, "ivf", name)(attempt)

  /** The revision-overlay set at `m`'s pins, keyed by `id`: the float tier
    * bucketed on `cell`, then the plain int8 and PQ tiers when built. Each
    * derives from assigned `(id, v, cell)` rows — int8 re-quantizes, PQ
    * encodes against the committed codebook (refit-free). */
  private[operators] def overlay(
      store: TableStore, name: String, m: IvfManifest): IndexTier.Overlay =
    IndexTier.Overlay("id",
      IndexTier.Shadowed(vectorsTable(name), m.vectors, ovlVectorsTable(name) -> m.ovlVectors,
        Some(IndexTier.keyed(VecBuckets, "cell")), _.select(col("id"), col("v"), col("cell"))) +:
      (m.qvectors.map(IndexTier.Shadowed(qVectorsTable(name), _,
        ovlQVectorsTable(name) -> m.ovlQvectors, None, quantized)).toSeq ++
      m.pqCodes.map(IndexTier.Shadowed(PqIndex.codesTableName(name), _,
        ovlPqCodesTable(name) -> m.ovlPqCodes, None, rows =>
          PqIndex.encodeAssigned(rows.sparkSession, rows, PqIndex.codebookAt(
            rows.sparkSession, store, name, m)))).toSeq))

  /** `m` at the pins of `o`. */
  private def pinned(name: String, m: IvfManifest, o: IndexTier.Overlay): IvfManifest = {
    def at(table: String) = o.tiers.find(_.table == table)
    val (q, pq) = (at(qVectorsTable(name)), at(PqIndex.codesTableName(name)))
    m.copy(vectors = o.tiers.head.pin, ovlVectors = o.tiers.head.ovl._2,
      qvectors = q.map(_.pin), ovlQvectors = q.flatMap(_.ovl._2),
      pqCodes = pq.map(_.pin), ovlPqCodes = pq.flatMap(_.ovl._2))
  }

  /** `set` with its int8 and PQ siblings re-derived from the float `rows`
    * as fresh versions, their overlays cleared. */
  private def rederived(
      store: TableStore, set: IndexTier.Overlay, rows: DataFrame): IndexTier.Overlay =
    set.copy(tiers = set.tiers.head +: set.tiers.tail.map(t => t.copy(
      pin = store.write(t.derive(rows), t.table), ovl = t.ovl._1 -> None)))

  /** Roll every member back to its pin: the overlay set, the model and
    * the PQ codebook. */
  private[operators] def rollback(store: TableStore, name: String, m: IvfManifest): Unit =
    IndexTier.rollbackAll(store, (centroidsTable(name) -> Some(m.centroids)) +:
      (PqIndex.codebookTableName(name) -> m.pqCodebook) +: overlay(store, name, m).members)

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
    mutate(store, name) {
      val spark = df.sparkSession
      val prev = readManifest(store, name)
      prev.foreach { case (m, _) => rollback(store, name, m) }
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
      val sib = prev.map { case (m, _) =>
        pinned(name, m, rederived(store, overlay(store, name, m), storedNew)) }
      // the admission gate survives a rebuild: already-admitted batch
      // ids stay admitted, so a live admitBatch drain resumes cleanly
      // against the refitted family
      IndexTier.commitManifest(store, manifestTable(name), IvfManifest(cv, vv,
        sib.flatMap(_.qvectors), sib.filter(_.pqCodes.isDefined).flatMap(_.pqCodebook),
        sib.flatMap(_.pqCodes), prev.map(_._1.lastBatchId).getOrElse(-1L)), prev.map(_._2))
      fitted
    }

  /** The stored model re-assembled as `(cell, c_v)` vectors
    * (manifest-pinned read). */
  def centroids(spark: SparkSession, store: TableStore, name: String): DataFrame = {
    val (m, _) = requireManifest(store, name)
    centroidsAt(spark, store, name, m)
  }

  private def centroidsAt(
      spark: SparkSession, store: TableStore, name: String, m: IvfManifest): DataFrame =
    centroidVectorsOf(store.snapshotAt(spark, centroidsTable(name), m.centroids))

  private val models = new TableStore.VersionMemo[Broadcast[ProbeCells.Model]](16)

  /** The model at `m`'s pin in probe shape — the [[probeCentroidsOf]] rows
    * of [[centroidsAt]] — collected and broadcast ONCE per pinned version
    * (keyed like the store's pinned readers), so a warm probe reads no
    * centroid table and aggregates nothing. The bytes shipped are the
    * model's, as a per-request centroid broadcast would ship them. */
  private[graft] def centroidModel(
      spark: SparkSession, store: TableStore, name: String,
      m: IvfManifest): Broadcast[ProbeCells.Model] =
    models(store, spark, centroidsTable(name), m.centroids)(
      probeModelOf(centroidsAt(spark, store, name, m)))

  /** The indexed corpus `(id, v, cell)` as served (manifest-pinned read,
    * overlay-merged: revision rows shadow their base ids). */
  def vectors(spark: SparkSession, store: TableStore, name: String): DataFrame = {
    val (m, _) = requireManifest(store, name)
    overlay(store, name, m).served(spark, store, vectorsTable(name))
  }

  /** The SERVED float tier PRUNED to the `touched` buckets: a
    * directory-level `_bucket isin(...)` read of the base — bytes read ∝
    * the probed cells' buckets, never the corpus — with the
    * compaction-bounded revision overlay merged in unpruned (rows outside
    * the probed cells are dropped by the cell equi-join, so results are
    * exact). */
  private def vectorsForCells(
      spark: SparkSession, store: TableStore, name: String, m: IvfManifest,
      touched: Seq[Int]): DataFrame =
    overlay(store, name, m).merged(spark, store, vectorsTable(name),
      IndexTier.prunedAt(spark, store, vectorsTable(name), m.vectors, touched))

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
    mutate(store, name) {
      appendStamped(spark, batch, idCol, vecCol, store, name, None)
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
    rollback(store, name, m)
    // pinned: the tier commits below each consume the assignment —
    // unpinned, every tier would re-run the batch × broadcast(centroids)
    // argmax chain end-to-end (the PostingsIndex.appendStamped hygiene)
    val assigned = assign(batch, idCol, vecCol, centroidsAt(spark, store, name, m))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // materialize the pinned assignment once, then commit the
      // independent tiers concurrently (different tables, no shared CAS —
      // the [[OverlayLock.inParallel]] rationale: serializing them stacks
      // three fixed job latencies onto every micro-batch drain). Every
      // sibling is SERVING state and sees the same append, or quantized
      // and PQ probes silently miss everything admitted since their build
      assigned.count()
      val set = overlay(store, name, m)
      val pins = OverlayLock.inParallel(set.tiers.map { t => () =>
        val stored = store.snapshotAt(spark, t.table, t.pin)
        // insert-only means absent from the SERVED view: base ids AND the
        // revision overlay's ids both screen the batch. O(batch) member
        // commits: only the fresh rows are written; the pinned version's
        // files carry forward as links (appendOrCompact folds a compacting
        // rewrite in when file counts creep)
        val fresh = set.screen(spark, store, t.table,
          t.derive(assigned).join(stored.select(col("id")), Seq("id"), "left_anti"))
        // bucket layout preserved across appends (legacy plain tiers keep
        // the linked-append path until a full rewrite)
        t.copy(pin = if (store.bucketSpec(t.table).isDefined)
          OverlayLock.appendOrCompactBucketed(spark, store, t.table, t.pin, fresh)
        else OverlayLock.appendOrCompact(store, t.table, t.pin, stored, fresh))
      }).map(_.asInstanceOf[IndexTier.Shadowed])
      IndexTier.commitManifest(store, manifestTable(name),
        pinned(name, m, set.copy(tiers = pins))
          .copy(lastBatchId = stamp.getOrElse(m.lastBatchId)), Some(mv))
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
    mutate(store, name) {
      appendStamped(spark, batch, idCol, vecCol, store, name, Some(batchId))
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
    mutate(store, name) {
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
    * revision stream ([[admitUpsertBatch]]) writes only what it admits.
    * When the overlay outgrows the [[IndexTier.foldDue]] policy
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
    mutate(store, name) {
      upsertStamped(spark, batch, idCol, vecCol, store, name, None)._2
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
    rollback(store, name, m)
    val assigned = assign(batch, idCol, vecCol, centroidsAt(spark, store, name, m))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val set = overlay(store, name, m)
      val batchIds = broadcast(assigned.select(col("id")).distinct())
      val replaced =
        if (stamp.isDefined) 0L
        else set.served(spark, store, vectorsTable(name))
          .join(batchIds, Seq("id"), "left_semi").count()
      // materialize the pinned assignment once, then commit every tier's
      // overlay (or the amortized fold) concurrently
      assigned.count()
      IndexTier.commitManifest(store, manifestTable(name),
        pinned(name, m, set.upsert(spark, store, batchIds, assigned))
          .copy(lastBatchId = stamp.getOrElse(m.lastBatchId)), Some(mv))
      (true, replaced)
    } finally assigned.unpersist()
  }

  /** Maintenance operator: fold the revision overlay into the base tiers
    * now (one corpus-sized rewrite + one swap), regardless of the
    * automatic policy — e.g. before a planned probe-latency-sensitive
    * window. No-op when the overlay is empty. */
  def compactOverlay(spark: SparkSession, store: TableStore, name: String): Unit =
    mutate(store, name) {
      val (m, mv) = requireManifest(store, name)
      val set = overlay(store, name, m)
      if (set.live) {
        rollback(store, name, m)
        IndexTier.commitManifest(store, manifestTable(name),
          pinned(name, m, set.fold(spark, store, None)), Some(mv))
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
    mutate(store, name) {
      upsertStamped(spark, batch, idCol, vecCol, store, name, Some(batchId))._1
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
    mutate(store, name) {
      val (m, mv) = requireManifest(store, name)
      rollback(store, name, m)
      val set = overlay(store, name, m)
      val drop = set.keysOf(ids)
      val removed = set.served(spark, store, vectorsTable(name))
        .join(drop, Seq("id"), "left_semi").count()
      IndexTier.commitManifest(store, manifestTable(name),
        pinned(name, m, set.takedown(spark, store, drop)), Some(mv))
      removed
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
    val occ = overlay(store, name, m).served(spark, store, vectorsTable(name))
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
    mutate(store, name) {
      val (m, mv) = requireManifest(store, name)
      rollback(store, name, m)
      // siblings re-derive from the SERVED float view (base ∪ overlay),
      // so each rebuilt sibling is complete and its own overlay clears;
      // the float overlay itself is untouched — it keeps shadowing the
      // float base, and the rebuilt siblings already contain its rows
      val set = overlay(store, name, m)
      if (set.tiers.size > 1)
        IndexTier.commitManifest(store, manifestTable(name), pinned(name, m,
          rederived(store, set, set.served(spark, store, vectorsTable(name)))), Some(mv))
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
  private def quantized(rows: DataFrame): DataFrame = {
    val scale = array_max(transform(col("v"), abs(_))) / lit(127.0)
    val qv = transform(col("v"), x =>
      greatest(lit(-127L), least(lit(127L), floor(x / scale + lit(0.5)))).cast("byte"))
    rows.select(col("id"), col("cell"), scale.as("scale"), qv.as("qv"))
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
    mutate(store, name) {
      val (m, mv) = requireManifest(store, name)
      rollback(store, name, m)
      // quantize the SERVED float view: the fresh int8 base then covers
      // any revision-overlay floats, so the int8 overlay clears
      val qv = store.write(
        quantized(overlay(store, name, m).served(spark, store, vectorsTable(name))),
        qVectorsTable(name))
      IndexTier.commitManifest(store, manifestTable(name),
        m.copy(qvectors = Some(qv), ovlQvectors = None), Some(mv))
    }

  /** The quantized corpus as stored: `(id, cell, scale, qv)`
    * (manifest-pinned read). */
  def quantizedVectors(spark: SparkSession, store: TableStore, name: String): DataFrame = {
    val (m, _) = requireManifest(store, name)
    qServed(spark, store, name, m)
  }

  /** The served int8 tier; an index without one says how to build it. */
  private def qServed(
      spark: SparkSession, store: TableStore, name: String, m: IvfManifest): DataFrame = {
    if (m.qvectors.isEmpty) throw new IllegalStateException(
      s"index $name has no int8 tier — run quantizeStored first")
    overlay(store, name, m).served(spark, store, qVectorsTable(name))
  }

  /** Dequantized view `(id, cell, v)` of [[quantizedVectors]] — the scoring
    * input. A nonzero vector's max component quantizes to ±127, so the
    * dequantized norm is never zero and the cosine stays defined. */
  private def dequantized(qvec: DataFrame): DataFrame =
    qvec.select(col("id"), col("cell"),
      transform(col("qv"), x => x.cast("double") * col("scale")).as("v"))

  /** Top-k stored neighbours for each batch vector, probing the `nProbe`
    * nearest stored cells. Self-matches are excluded by id equality —
    * callers indexing and querying overlapping id spaces from different
    * tables should disambiguate ids first. Batch ids should be distinct:
    * rows repeating an id each probe their own `nProbe` cells and share
    * one top-k over the candidates of all of them.
    *
    * Plan: each batch row ranks its `nProbe` cells against the pinned,
    * broadcast centroid model ([[probeCells]], one narrow pass). On a
    * cell-bucketed float tier the probe rows — batch × nProbe, the
    * batch-bounded side — are collected ONCE: the driver derives the
    * touched buckets from them (no job) and the same rows broadcast into
    * the candidate join against the bucket-pruned stored `(id, v, cell)`
    * rows, so the stored side never shuffles. A legacy plain layout joins
    * the probe plan against the full served read. Scoring happens inside
    * the join so the aggregation exchange carries `(id, id, double)`, and
    * the partial top-k aggregate ships k rows per (query, partition). */
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
    val probes = probeCells(probeQueries(batch, idCol, vecCol),
        centroidModel(spark, store, name, m), nProbe)
      .select(col("q_id"), col("q_v"), col("q_nrm"), col("cell"))
    store.bucketSpecAt(vectorsTable(name), m.vectors) match {
      case None => // legacy plain layout: the old full-read join
        topKFromProbes(probes, overlay(store, name, m).served(spark, store, vectorsTable(name)), k)
      case Some(spec) =>
        // broadcast explicitly: size estimates over a bucket-pruned scan
        // are too coarse to pick the build side, and the stored side must
        // never shuffle for a serve
        val local = spark.createDataFrame(
          java.util.Arrays.asList(probes.collect(): _*), probes.schema)
        val touched = local.select(spec.bucketColumn).collect().map(_.getInt(0)).distinct.toSeq
        topKFromProbes(broadcast(local), vectorsForCells(spark, store, name, m, touched), k)
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
      centroidModel(spark, store, name, m),
      dequantized(qServed(spark, store, name, m)))
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
        centroidModel(spark, store, name, m),
        dequantized(qServed(spark, store, name, m)))
      .select(col("vec_id"), col("neighbor_id"))
    val q = batch
      .select(col(idCol).as("vec_id"), toDouble(col(vecCol)).as("q_v"))
      .withColumn("q_nrm", l2Norm(col("q_v")))
    val corpus = overlay(store, name, m).served(spark, store, vectorsTable(name))
      .select(col("id").as("neighbor_id"), col("v").as("n_v"))
      .withColumn("n_nrm", l2Norm(col("n_v")))
    Similarity.exactRerank(short, q, corpus, k)
  }

  /** Queries in probe shape: `(q_id, q_v, q_nrm)` with zero-norm
    * (directionless) rows dropped. */
  private[graft] def probeQueries(
      batch: DataFrame, idCol: String, vecCol: String): DataFrame =
    batch
      .select(col(idCol).as("q_id"), toDouble(col(vecCol)).as("q_v"))
      .withColumn("q_nrm", l2Norm(col("q_v")))
      .filter(col("q_nrm") > 0)

  /** A centroid-vectors frame in probe shape: `(cell, c_v, c_nrm)`,
    * zero-norm cells dropped. */
  private def probeCentroidsOf(centroidVectors: DataFrame): DataFrame =
    centroidVectors
      .select(col("cell"), col("c_v"))
      .withColumn("c_nrm", l2Norm(col("c_v")))
      .filter(col("c_nrm") > 0)

  /** A centroid-vectors frame as a broadcast probe model: its
    * [[probeCentroidsOf]] rows, collected (≤ nCells rows). */
  private[graft] def probeModelOf(centroidVectors: DataFrame): Broadcast[ProbeCells.Model] = {
    val rows = probeCentroidsOf(centroidVectors).collect()
    centroidVectors.sparkSession.sparkContext.broadcast(ProbeCells.Model(
      rows.map(_.getInt(0)), rows.map(_.getSeq[Double](1).toArray), rows.map(_.getDouble(2))))
  }

  /** Rank each query row's `nProbe` nearest cells against the broadcast
    * centroid `model` — the probe stage every persisted-index searcher
    * shares (one definition, so the (cosine desc, cell asc) tie-break can
    * never diverge between tiers). One narrow per-row pass
    * ([[ProbeCells]]): no cross join, no exchange. Each row ranks its own
    * cells, so rows repeating a query id each probe their own `nProbe`.
    * `q` carries `q_id`/`q_v`/`q_nrm` ([[probeQueries]]) plus any extra
    * columns, which pass through; returns `q`'s columns + `cell`. */
  private[graft] def probeCells(
      q: DataFrame, model: Broadcast[ProbeCells.Model], nProbe: Int): DataFrame =
    q.select(q.columns.map(col).toIndexedSeq :+ explode(
      ProbeCells.probe_cells(col("q_v"), col("q_nrm"), model, nProbe)).as("cell"): _*)

  private def topKAgainst(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int,
      model: Broadcast[ProbeCells.Model],
      corpusVectors: DataFrame): DataFrame = {
    val q = probeQueries(batch, idCol, vecCol)
    val probes = probeCells(q, model, nProbe)
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
