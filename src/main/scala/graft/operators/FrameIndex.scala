package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted FRAME-signature index — [[PerceptualIndex]] for families
  * with MANY rows per item (reference discipline: incremental state
  * maintenance, control_migration_schema_script.sql:244, 412–416): a
  * video is `n` sampled frames × 8 bytes ([[Multimodal.sampleFrames]] →
  * decode → [[Multimodal.dHashes]]), and its admission rule is
  * CONTAINMENT, not per-signature hamming — an arrival whose frames are
  * all within budget of stored frames adds nothing (a re-encode, a cut
  * clip), while a partial overlap admits. [[PerceptualIndex]] cannot
  * hold this family: one row per id, and its screen has no directed
  * denominator. Here the stored corpus is `(id, frame, sig)`, the
  * manifest pins BOTH screening parameters (`max_hamming` per frame,
  * `min_containment` per video) alongside the member versions and the
  * admission gate, and every mutation is one manifest swap.
  *
  * Storage (the [[SignatureIndex]]/[[PerceptualIndex]] projection
  * discipline on the frame family):
  *  - `<name>_frames` — `(id, frame, sig[, q])`, HASH-BUCKETED by id:
  *    the insert-only id screen reads only the batch's id-buckets;
  *  - `<name>_band` — `(id, frame, sig, n_frames[, _vq], chunk, value)`,
  *    HASH-BUCKETED by (chunk, value): a containment screen's candidates
  *    read only the batch's probe cells' buckets — never a posexplode of
  *    every stored frame. `n_frames` (the video's DISTINCT frame count —
  *    the directed denominator) and `_vq` (the video's MAX quality, for
  *    keeper families) ride DENORMALIZED in the row, so the screen's
  *    stored-side per-video aggregates never scan the full frames tier;
  *  - `<name>_delta` — the LSM memtable: each drain's admissions land
  *    here as ONE plain O(batch) linked append of `(id, frame, sig[, q])`
  *    rows; screens union their pruned base read with the same
  *    projection derived IN-PLAN from this small member (per-video stats
  *    re-derived over the delta — batch-sized), filtered by the
  *    identical bucket rule; the amortized fold absorbs it;
  *  - `<name>_rm` — tombstoned VIDEO ids (a supersede/keeper fold's
  *    retirements); compaction-bounded, broadcast-subtracted by every
  *    read, folded past the policy bound;
  *  - `<name>_manifest` — member pins + both screening budgets + the
  *    streaming gate's `last_batch_id`.
  *
  * Scale shape: admission commits ONE plain O(batch) memtable append;
  * every screen reads a bounded set of constant-size buckets (∝ the
  * batch's probe cells — [[graft.PrunedScreenSpec]] measures it); the
  * amortized fold is the one stored-size rewrite.
  */
object FrameIndex {

  private def framesTable(name: String) = s"${name}_frames"
  private def bandTable(name: String) = s"${name}_band"
  private def deltaTable(name: String) = s"${name}_delta"
  // tombstone member: VIDEO ids whose frame rows are retired by a
  // supersede/keeper fold — the read-time subtraction that keeps a
  // retirement drain from rewriting the whole frames member
  private def rmTable(name: String) = s"${name}_rm"
  private def manifestTable(name: String) = s"${name}_manifest"

  /** Default STARTING bucket counts: deliberately small — a screen's
    * pruned read opens one file per touched bucket, so oversized counts
    * tax every drain with near-empty file opens. Growth is automatic:
    * every amortized fold doubles the count until the tier fits the
    * per-bucket byte target ([[OverlayLock.grownSpec]]). */
  val FrameBuckets: Int = 4
  val BandBuckets: Int = 8

  /** Frames pin + both screening budgets + the admission gate; `rmFrames`
    * pins the tombstone member when a supersede/keeper fold has retired
    * ids. `hasQuality` marks a KEEPER family ([[buildWithQuality]]): the
    * frames member carries a per-video quality column and mutates through
    * [[admitKeepBestBatch]]'s replace-if-better fold — the two layouts
    * never mix (the [[PerceptualIndex.PercManifest]] guard). `dlt = None`
    * ⇔ empty memtable. */
  private[graft] final case class FrameManifest(
      frames: Int, maxHamming: Int, minContainment: Double,
      lastBatchId: Long = -1L, rmFrames: Option[Int] = None,
      hasQuality: Boolean = false,
      band: Option[Int] = None, dlt: Option[Int] = None) extends IndexTier.Manifest {
    def fields: Seq[(String, Any)] = Seq("frames_v" -> frames,
      "max_hamming" -> maxHamming, "min_containment" -> minContainment,
      "has_quality" -> (if (hasQuality) 1 else 0),
      "rm_frames_v" -> rmFrames.getOrElse(-1), "band_v" -> band.getOrElse(-1),
      "dlt_v" -> dlt.getOrElse(-1), "last_batch_id" -> lastBatchId)
  }

  /** Absent keys predate the tombstone/quality/projection tiers (older
    * persisted index): no tombstones, a plain family, no band pin. */
  private[graft] def readManifest(
      store: TableStore, name: String): Option[(FrameManifest, Int)] =
    IndexTier.readManifest(store, manifestTable(name), "frame-index manifest") { f =>
      FrameManifest(f.int("frames_v"), f.int("max_hamming"),
        f.double("min_containment"), f.long("last_batch_id"), f.pin("rm_frames_v"),
        f.flag("has_quality"), f.pin("band_v"), f.pin("dlt_v"))
    }

  private def requireManifest(store: TableStore, name: String): (FrameManifest, Int) =
    readManifest(store, name).getOrElse(throw new IllegalStateException(
      s"frame index $name has no manifest — build it first"))

  private def mutate[A](store: TableStore, name: String)(attempt: => A): A =
    OverlayLock.mutate(store, "frame", name)(attempt)

  // ------------------------------------------------------------- projections

  /** The per-video stats the directed screens need, DENORMALIZED onto
    * every frame row: `n_frames` = the video's DISTINCT frame count (the
    * Broder denominator), `_vq` = the video's MAX quality (keeper
    * families — [[Dedup.videoContainmentDirected]] callers took
    * `max(q) per id` from the full tier; here it rides in the row). */
  private def withVideoStats(rows: DataFrame, hasQ: Boolean): DataFrame = {
    val aggs =
      if (hasQ) Seq(countDistinct(col("frame")).as("n_frames"),
        max(col("q")).as("_vq"))
      else Seq(countDistinct(col("frame")).as("n_frames"))
    rows.join(rows.groupBy(col("id")).agg(aggs.head, aggs.tail: _*), Seq("id"))
  }

  /** Band-tier columns (quality families carry `_vq`). */
  private def bandCols(hasQ: Boolean): Seq[Column] =
    (Seq(col("id"), col("frame"), col("sig"), col("n_frames")) ++
      (if (hasQ) Seq(col("_vq")) else Nil)) ++ Seq(col("chunk"), col("value"))

  /** The batch's banding projection keys — id + (chunk, value) — for the
    * fused probe. */
  private def probeRows(batch: DataFrame, maxHamming: Int): DataFrame =
    batch.select(col("id"),
      posexplode(array(IndexTier.chunkCols(maxHamming): _*)).as(Seq("chunk", "value")))

  /** The frames base tier, its chunk-band projection (`(id, frame, sig,
    * n_frames[, _vq], chunk, value)` — the per-video stats re-derived over
    * whatever rows it derives from, so a delta's projection is
    * batch-sized), the memtable and the VIDEO-id tombstones, at `m`'s
    * pins ([[IndexTier.bandPin]] refuses a manifest with no band pin). */
  private def lsm(name: String, m: FrameManifest): IndexTier.Lsm = IndexTier.Lsm(
    IndexTier.Tier(framesTable(name), m.frames, Seq("id")),
    Seq(IndexTier.Tier(bandTable(name), IndexTier.bandPin(s"frame index $name", m.band),
      Seq("chunk", "value"),
      rows => IndexTier.bandedOf(withVideoStats(rows, m.hasQuality), m.maxHamming)
        .select(bandCols(m.hasQuality): _*), m.maxHamming + 1L)),
    deltaTable(name) -> m.dlt, rmTable(name) -> m.rmFrames)

  /** `m` at the pins of `l`. */
  private def pinned(m: FrameManifest, l: IndexTier.Lsm): FrameManifest =
    m.copy(frames = l.base.pin, band = Some(l.projections.head.pin), dlt = l.delta._2,
      rmFrames = l.rm._2)

  // -------------------------------------------------------- pruned screens

  /** Matched (batch frame, stored frame) pairs within the hamming budget,
    * candidates from the PRUNED projection — the same frameless
    * chunk-band pigeonhole, per-side hot caps and verify tail as
    * [[Dedup.videoContainmentAgainst]]/[[Dedup.videoContainmentDirected]]
    * (bit-equal: the pruned stored side holds exactly the full
    * projection's rows in the batch's cells; cells outside the batch
    * produce no pairs; a cell's hot-count is exact because its rows share
    * one bucket). Stored-side `n_frames` (and `_vq`) ride through on
    * every matched row. */
  private def prunedMatched(
      spark: SparkSession, store: TableStore, name: String, m: FrameManifest,
      batchPinned: DataFrame, maxBucketSize: Int,
      cellTouched: Option[Seq[Int]] = None)(
      implicit caches: CacheScope): DataFrame = {
    val sb = caches.pin(batchPinned.select(col("id"), col("frame"), col("sig"),
      posexplode(array(IndexTier.chunkCols(m.maxHamming): _*)).as(Seq("chunk", "value"))))
    val l = lsm(name, m)
    val band = l.projections.head
    val sc = caches.pin(l.projected(spark, store, band,
      cellTouched.getOrElse(band.probe(store, sb.select(col("chunk"), col("value"))))))
    def hotSide(s: DataFrame) = s.groupBy(col("chunk"), col("value"))
      .agg(count(lit(1)).as("c")).filter(col("c") > maxBucketSize)
      .select("chunk", "value")
    val hot = hotSide(sb).union(hotSide(sc)).distinct()
    val coldB = sb.join(broadcast(hot), Seq("chunk", "value"), "left_anti")
    val coldC = sc.join(broadcast(hot), Seq("chunk", "value"), "left_anti")
    val carried = Seq(col("b.n_frames").as("n_frames_stored")) ++
      (if (m.hasQuality) Seq(col("b._vq").as("_sq")) else Nil)
    // the BATCH side is trigger-bounded — always the small side of this
    // join — so broadcast it explicitly: the stored side (pruned buckets
    // of a possibly-billion-frame tier) must never shuffle for a screen
    broadcast(coldB).alias("a")
      .join(coldC.alias("b"),
        col("a.chunk") === col("b.chunk") && col("a.value") === col("b.value"))
      .select(Seq(col("a.id").as("batch_id"), col("b.id").as("stored_id"),
        col("a.frame").as("b_frame"), col("b.frame").as("s_frame"),
        graft.functions.TextFunctions.hamming64(col("a.sig"), col("b.sig"))
          .as("hamming")) ++ carried: _*)
      .dropDuplicates("batch_id", "stored_id", "b_frame", "s_frame")
      .filter(col("hamming") <= m.maxHamming)
  }

  /** [[Dedup.videoContainmentAgainst]] served from the pruned projection:
    * per (arriving video, stored video), the fraction of the ARRIVAL's
    * frames matching any stored frame within the budget.
    * @return (batch_id, stored_id, n_frames_batch, n_matched,
    *         containment ≥ minContainment) */
  private def prunedContainmentAgainst(
      spark: SparkSession, store: TableStore, name: String, m: FrameManifest,
      batch: DataFrame, maxBucketSize: Int,
      cellTouched: Option[Seq[Int]] = None)(
      implicit caches: CacheScope): DataFrame = {
    val batchPinned = caches.pin(batch.select(col("id"), col("frame"), col("sig")))
    val matched = prunedMatched(spark, store, name, m, batchPinned, maxBucketSize,
      cellTouched)
    val perPair = matched.groupBy(col("batch_id"), col("stored_id"))
      .agg(countDistinct(col("b_frame")).as("n_matched"))
    val counts = batchPinned.groupBy(col("id"))
      .agg(countDistinct(col("frame")).as("n_frames_batch"))
    perPair
      .join(broadcast(counts.select(col("id").as("batch_id"),
        col("n_frames_batch"))), Seq("batch_id"))
      .withColumn("containment",
        col("n_matched").cast("double") / col("n_frames_batch"))
      .filter(col("containment") >= m.minContainment)
      .select(col("batch_id"), col("stored_id"), col("n_frames_batch"),
        col("n_matched"), col("containment"))
  }

  /** [[Dedup.videoContainmentDirected]] served from the pruned
    * projection: BOTH directed containments per (arriving, stored) pair —
    * the stored-side denominator comes from the denormalized `n_frames`
    * on the matched rows (never a per-drain aggregate over the full
    * frames tier). Quality families additionally carry the stored
    * video's `_sq` (its max quality). */
  private def prunedContainmentDirected(
      spark: SparkSession, store: TableStore, name: String, m: FrameManifest,
      batch: DataFrame, maxBucketSize: Int,
      cellTouched: Option[Seq[Int]] = None)(
      implicit caches: CacheScope): DataFrame = {
    val batchPinned = caches.pin(batch.select(col("id"), col("frame"), col("sig")))
    val matched = prunedMatched(spark, store, name, m, batchPinned, maxBucketSize,
      cellTouched)
    val pairAggs = Seq(
      countDistinct(col("b_frame")).as("n_matched_batch"),
      countDistinct(col("s_frame")).as("n_matched_stored"),
      // constant per stored_id (denormalized) — max picks that constant
      max(col("n_frames_stored")).as("n_frames_stored")) ++
      (if (m.hasQuality) Seq(max(col("_sq")).as("_sq")) else Nil)
    val perPair = matched.groupBy(col("batch_id"), col("stored_id"))
      .agg(pairAggs.head, pairAggs.tail: _*)
    val bCounts = batchPinned.groupBy(col("id"))
      .agg(countDistinct(col("frame")).as("n_frames_batch"))
    perPair
      .join(broadcast(bCounts.select(col("id").as("batch_id"),
        col("n_frames_batch"))), Seq("batch_id"))
      .withColumn("containment_batch",
        col("n_matched_batch").cast("double") / col("n_frames_batch"))
      .withColumn("containment_stored",
        col("n_matched_stored").cast("double") / col("n_frames_stored"))
      .filter(greatest(col("containment_batch"), col("containment_stored"))
        >= m.minContainment)
  }

  private def frameShape(frames: DataFrame): DataFrame = {
    val Seq(idc, framec, sigc) = frames.columns.take(3).toSeq
    frames.select(col(idc).as("id"), col(framec).cast("int").as("frame"),
      col(sigc).cast("long").as("sig"))
  }

  /** `(id, frame, sig, q)` of a quality-carrying frame batch (first four
    * columns, any names) — `q` is a per-VIDEO score denormalized onto
    * every frame row (readers take max per id). */
  private def frameQualityShape(frames: DataFrame): DataFrame = {
    val Seq(idc, framec, sigc, qc) = frames.columns.take(4).toSeq
    frames.select(col(idc).as("id"), col(framec).cast("int").as("frame"),
      col(sigc).cast("long").as("sig"), col(qc).cast("double").as("q"))
  }

  // ------------------------------------------------------------------ build

  /** Persist `(id, frame, sig)` rows (first three columns, any names)
    * and the screening budgets. Rebuilding replaces the corpus; the
    * admission gate survives, as in every family here. */
  def build(
      frames: DataFrame,
      maxHamming: Int,
      minContainment: Double,
      store: TableStore,
      name: String,
      frameBuckets: Int = FrameBuckets,
      bandBuckets: Int = BandBuckets): Unit =
    buildFamily(frameShape(frames), maxHamming, minContainment, store, name,
      frameBuckets, bandBuckets, quality = false)

  /** [[build]] for a KEEPER family: persist `(id, frame, sig, quality)`
    * rows (first four columns, any names) — the quality score is whatever
    * the pipeline's keeper rule ranks by (decoded resolution, bitrate —
    * the q137 RefinedWeb rule on the video family), denormalized onto
    * every frame row so the replace-if-better fold
    * ([[admitKeepBestBatch]]) compares arrivals against stored quality
    * without re-decoding anything. */
  def buildWithQuality(
      frames: DataFrame,
      maxHamming: Int,
      minContainment: Double,
      store: TableStore,
      name: String,
      frameBuckets: Int = FrameBuckets,
      bandBuckets: Int = BandBuckets): Unit =
    buildFamily(frameQualityShape(frames), maxHamming, minContainment, store, name,
      frameBuckets, bandBuckets, quality = true)

  private def buildFamily(
      rows: DataFrame, maxHamming: Int, minContainment: Double, store: TableStore,
      name: String, frameBuckets: Int, bandBuckets: Int, quality: Boolean): Unit = {
    require(maxHamming >= 1 && maxHamming <= 31,
      s"maxHamming must be in [1, 31], got $maxHamming")
    require(minContainment > 0.0 && minContainment <= 1.0,
      s"minContainment must be in (0, 1], got $minContainment")
    mutate(store, name) {
      val prev = readManifest(store, name)
      prev.foreach { case (m, _) => IndexTier.rollbackAll(store, lsm(name, m).members) }
      // a rebuild replaces the corpus wholesale — prior retirements are
      // moot, the tombstone and memtable pins clear
      val fresh = FrameManifest(-1, maxHamming, minContainment,
        prev.map(_._1.lastBatchId).getOrElse(-1L), hasQuality = quality, band = Some(-1))
      IndexTier.commitManifest(store, manifestTable(name), pinned(fresh,
        lsm(name, fresh).build(rows.sparkSession, store, rows, Seq(frameBuckets, bandBuckets))),
        prev.map(_._2))
    }
  }

  /** The indexed `(id, frame, sig)` corpus (manifest-pinned read,
    * supersede retirements subtracted). */
  def frames(spark: SparkSession, store: TableStore, name: String): DataFrame = {
    val (m, _) = requireManifest(store, name)
    lsm(name, m).served(spark, store)
  }

  /** The index's per-frame hamming budget, as persisted. */
  def maxHamming(store: TableStore, name: String): Int =
    requireManifest(store, name)._1.maxHamming

  /** The index's containment threshold, as persisted. */
  def minContainment(store: TableStore, name: String): Double =
    requireManifest(store, name)._1.minContainment

  // ---------------------------------------------------------- append/remove

  /** Fold a frame batch into committed state — INSERT-ONLY by VIDEO id
    * (a re-sent id is a no-op for ALL its frames: frame sets are
    * atomic per item, never merged across deliveries), ONE plain
    * O(batch) memtable commit, one manifest swap. */
  def append(
      spark: SparkSession,
      frames: DataFrame,
      store: TableStore,
      name: String): Unit =
    mutate(store, name) {
      appendStamped(spark, frames, store, name, None)
    }

  private def appendStamped(
      spark: SparkSession, frames: DataFrame,
      store: TableStore, name: String, stamp: Option[Long],
      screenFirst: Boolean = false,
      maxBucketSize: Int = 200): Boolean = {
    val (m, mv) = requireManifest(store, name)
    IndexTier.requireLayout(s"frame index $name", m.hasQuality, keeper = false,
      "an insert-only fold")
    if (stamp.exists(_ <= m.lastBatchId)) return false
    IndexTier.rollbackAll(store, lsm(name, m).members)
    // the screen-then-admit fold: drop batch videos CONTAINED in the
    // stored corpus (the persisted budgets), admit the rest whole —
    // both halves read the SAME pinned stored version, so the loop is
    // one atomic decision. The shaped batch is pinned ONCE so the probe
    // and every later consumer share one materialization of the raw
    // input chain, and the probe job collects BOTH tiers' touched
    // buckets in one round ([[IndexTier.touchedBucketsPair]]).
    implicit val outer: CacheScope = new CacheScope
    try {
      val batch0 = outer.pin(frameShape(frames))
      val l = lsm(name, m)
      val (idBuckets, cellBuckets) =
        if (screenFirst)
          l.probePair(store, l.projections.head, probeRows(batch0, m.maxHamming))
        else (l.base.probe(store, batch0.select(col("id"))), Seq.empty[Int])
      val batch =
        if (!screenFirst) batch0
        else {
          val scope: CacheScope = new CacheScope
          try {
            val dup = prunedContainmentAgainst(spark, store, name, m, batch0,
                maxBucketSize, Some(cellBuckets))(scope)
              .select(col("batch_id").as("id")).distinct()
            // materialize the survivor list before the scope's pins release
            val novel = batch0.join(broadcast(dup), Seq("id"), "left_anti")
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            novel.count()
            novel
          } finally scope.release()
        }
      try {
        // insert-only against the INDEXED id set (base ∪ delta, including
        // tombstoned ids — they may not re-enter under their own name until
        // the fold forgets them), read from the batch's id-buckets only
        // (precomputed — for the screened path `batch` ⊆ `batch0`, so the
        // fused probe's bucket list is a superset of what the read needs)
        val fresh = batch
          .join(l.indexed(spark, store, idBuckets).select(col("id")), Seq("id"), "left_anti")
          // at most one signature per (id, frame): a batch carrying a
          // frame twice (two staged files in one trigger) indexes the
          // smallest sig — deterministic under any partitioning (the
          // PerceptualIndex.appendStamped canonicalization)
          .groupBy(col("id"), col("frame")).agg(min(col("sig")).as("sig"))
        IndexTier.commitManifest(store, manifestTable(name),
          pinned(m, l.drain(spark, store, fresh, None))
            .copy(lastBatchId = stamp.getOrElse(m.lastBatchId)), Some(mv))
        true
      } finally if (screenFirst) batch.unpersist()
    } finally outer.release()
  }

  /** Takedown: next frames version without ANY frame of the given ids —
    * after removal an arrival contained only in the removed videos is
    * admitted again (the screen's memory genuinely forgets). Rewrites
    * both tiers, folding any pending memtable/tombstones. Returns
    * VIDEOS removed (not frame rows). */
  def remove(
      spark: SparkSession,
      ids: DataFrame,
      store: TableStore,
      name: String): Long =
    mutate(store, name) {
      val (m, mv) = requireManifest(store, name)
      IndexTier.rollbackAll(store, lsm(name, m).members)
      val drop = broadcast(ids.select(col(ids.columns.head).as("_rm_id")).distinct())
      // the rewrite serves from the SERVED view, so pending retirements +
      // the memtable fold in here and the pins clear
      val l = lsm(name, m)
      val stored = l.served(spark, store)
      val before = stored.select(col("id")).distinct().count()
      val (next, keptN) = l.rewrite(spark, store,
        stored.join(drop, stored("id") === col("_rm_id"), "left_anti"), fold = false)(
        _.select(col("id")).distinct().count())
      IndexTier.commitManifest(store, manifestTable(name), pinned(m, next), Some(mv))
      before - keptN
    }

  // --------------------------------------------------------------- admission

  /** Exactly-once micro-batch admission ([[CorpusProfile.admitBatch]]'s
    * gate): the frames advance and the batchId record are one atomic
    * swap. Returns true when folded, false when replayed. */
  def admitBatch(
      spark: SparkSession,
      frames: DataFrame,
      batchId: Long,
      store: TableStore,
      name: String): Boolean =
    mutate(store, name) {
      appendStamped(spark, frames, store, name, Some(batchId))
    }

  /** The video admission loop as ONE exactly-once fold
    * ([[PerceptualIndex.admitNovelBatch]] with containment as the
    * rejection rule): SCREEN the batch's videos against committed state
    * — an arrival whose frame-containment against ANY stored video
    * reaches the persisted `min_containment` is rejected whole — admit
    * every frame of the rest, record the batchId, one swap. The stored
    * set EVOLVES between drains: a clip cut from a video admitted two
    * drains ago is rejected BY that admission. In-batch containment
    * between arrivals is not screened (the [[PerceptualIndex]] hole,
    * same rationale). Returns true when folded, false on replay. */
  def admitNovelBatch(
      spark: SparkSession,
      frames: DataFrame,
      batchId: Long,
      store: TableStore,
      name: String,
      maxBucketSize: Int = 200): Boolean =
    mutate(store, name) {
      appendStamped(spark, frames, store, name, Some(batchId),
        screenFirst = true, maxBucketSize = maxBucketSize)
    }

  /** Admission screen, served from committed state: per (arriving
    * video, stored video), the arrival-side containment at the INDEX'S
    * persisted budgets — [[Dedup.videoContainmentAgainst]]'s semantics
    * with the stored side a bucket-pruned read of the persisted banding
    * projection. Callers aggregate to an admit/reject flag (q140's
    * tail).
    *
    * @return (batch_id, stored_id, n_frames_batch, n_matched,
    *         containment ≥ stored min_containment) */
  def screen(
      spark: SparkSession,
      batchFrames: DataFrame,
      store: TableStore,
      name: String,
      maxBucketSize: Int = 200)(implicit caches: CacheScope): DataFrame = {
    val (m, _) = requireManifest(store, name)
    prunedContainmentAgainst(spark, store, name, m, frameShape(batchFrames),
      maxBucketSize)
  }

  // --------------------------------------------------------------- supersede

  /** SUPERSEDE-AWARE admission — the video keeper: replace-the-clip-
    * with-the-full-cut, [[PerceptualIndex.admitKeepBestBatch]]'s
    * replace-if-better fold where "better" is STRUCTURAL containment
    * instead of a quality score ([[Dedup.videoContainmentDirected]]'s
    * two denominators decide both halves): an arriving video whose OWN
    * frames are within the containment budget of a stored video adds
    * nothing and rejects (the [[admitNovelBatch]] rule, unchanged); an
    * ADMITTED arrival that matches ≥ `min_containment` of a STORED
    * video's frames SUBSUMES it — the stored clip retires in the same
    * swap (the full cut a 2-frame clip was taken from replaces the
    * clip). Mutual containment (a re-encode: both directions ≥
    * threshold) rejects the arrival FIRST — ties keep the incumbent, and
    * a rejected arrival never retires anything. Partial overlaps admit
    * without retiring (shared intros are not subsumption). Everything —
    * retirements, admissions, the batchId — publishes in ONE swap.
    *
    * By default, in-batch containment BETWEEN arrivals is not screened
    * (micro-batch file boundaries decide what arrives together): a clip
    * and its full cut in ONE drain both admit, and the clip can never be
    * retired later (retirement only targets STORED items). `preDedupBatch
    * = true` opts into a within-batch directed-containment screen first —
    * contained batch videos die (mutual containment keeps the smallest
    * id; greedy, one pass — the [[PerceptualIndex.admitKeepBestBatch]]
    * semantics) before the stored-state fold.
    *
    * Cost shape: the screen reads the batch's probe cells from the
    * persisted projection; EVERY drain commits O(batch ∪ tombstones) —
    * admissions are ONE plain memtable append, retirements land in the
    * compaction-bounded tombstone member every read subtracts, and past
    * the policy bound the pending members ride the next drain into an
    * amortized tier rewrite. Returns true when folded, false on replay. */
  def admitSupersedeBatch(
      spark: SparkSession,
      frames: DataFrame,
      batchId: Long,
      store: TableStore,
      name: String,
      maxBucketSize: Int = 200,
      preDedupBatch: Boolean = false): Boolean =
    mutate(store, name) {
      supersedeStamped(spark, frames, store, name, Some(batchId),
        maxBucketSize, preDedupBatch)
    }

  /** [[admitSupersedeBatch]] without the gate — the ad-hoc fold. */
  def supersede(
      spark: SparkSession,
      frames: DataFrame,
      store: TableStore,
      name: String,
      maxBucketSize: Int = 200,
      preDedupBatch: Boolean = false): Unit =
    mutate(store, name) {
      supersedeStamped(spark, frames, store, name, None, maxBucketSize,
        preDedupBatch)
    }

  /** Within-batch directed-containment losers (the opt-in face of
    * [[supersede]]'s `preDedupBatch`): a batch video CONTAINED in another
    * batch video dies — mutual containment keeps the SMALLEST id. GREEDY,
    * one pass: losses are not re-evaluated after a winner dies (a
    * containment chain in one burst keeps only its maximal members). */
  private def inBatchContainmentLosers(
      batch: DataFrame, maxHamming: Int, minContainment: Double,
      maxBucketSize: Int)(implicit caches: CacheScope): DataFrame =
    Dedup.videoContainmentDirected(batch, batch, maxHamming,
        minContainment, maxBucketSize)
      .filter(col("batch_id") =!= col("stored_id"))
      .select(
        when(col("containment_batch") >= minContainment &&
            (col("containment_stored") < minContainment ||
              col("batch_id") > col("stored_id")), col("batch_id"))
          .when(col("containment_stored") >= minContainment &&
            (col("containment_batch") < minContainment ||
              col("stored_id") > col("batch_id")), col("stored_id"))
          .as("id"))
      .filter(col("id").isNotNull).distinct()

  private def supersedeStamped(
      spark: SparkSession, frames: DataFrame,
      store: TableStore, name: String, stamp: Option[Long],
      maxBucketSize: Int, preDedupBatch: Boolean = false): Boolean = {
    val (m, mv) = requireManifest(store, name)
    IndexTier.requireLayout(s"frame index $name", m.hasQuality, keeper = false,
      "a supersede fold")
    if (stamp.exists(_ <= m.lastBatchId)) return false
    IndexTier.rollbackAll(store, lsm(name, m).members)
    implicit val scope: CacheScope = new CacheScope
    // the shaped batch is pinned ONCE (probe + anti-join share one
    // materialization of the raw input chain) and the probe job collects
    // BOTH tiers' touched buckets in one round ([[IndexTier.touchedBucketsPair]];
    // pre-anti-join cells are a superset — identical results);
    // insert-only against the INDEXED id set (base ∪ delta ⊇ retired ids
    // until the fold) + the in-batch (id, frame) canonicalization —
    // appendStamped's contracts; the id screen reads only the batch's
    // id-buckets
    val l = lsm(name, m)
    val batch0pre = scope.pin(frameShape(frames))
    val (idBuckets, cellBuckets) =
      l.probePair(store, l.projections.head, probeRows(batch0pre, m.maxHamming))
    val batch0 = batch0pre
      .join(l.indexed(spark, store, idBuckets).select(col("id")), Seq("id"), "left_anti")
      .groupBy(col("id"), col("frame")).agg(min(col("sig")).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val batch =
      if (!preDedupBatch) batch0
      else scope.pin(batch0.join(
        broadcast(inBatchContainmentLosers(batch0, m.maxHamming,
          m.minContainment, maxBucketSize)), Seq("id"), "left_anti"))
    try {
      // both directed containments per (arrival, stored) pair at the
      // persisted budgets — rejection and subsumption from one screen,
      // candidates from the pruned projection
      val directed = prunedContainmentDirected(spark, store, name, m, batch,
          maxBucketSize, Some(cellBuckets))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val rejected = directed
          .filter(col("containment_batch") >= m.minContainment)
          .select(col("batch_id").as("id")).distinct()
        val admitted = batch
          .join(broadcast(rejected), Seq("id"), "left_anti")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // stored videos subsumed by an ADMITTED arrival retire whole
          val removedIds = directed
            .filter(col("containment_stored") >= m.minContainment)
            .join(admitted.select(col("id").as("batch_id")).distinct(),
              Seq("batch_id"), "left_semi")
            .select(col("stored_id").as("id")).distinct()
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            // the amortized fold when due, else O(batch ∪ tombstones)
            // memtable + tombstone commits ([[IndexTier.Lsm.drain]])
            IndexTier.commitManifest(store, manifestTable(name),
              pinned(m, l.drain(spark, store, admitted, Some(removedIds)))
                .copy(lastBatchId = stamp.getOrElse(m.lastBatchId)),
              Some(mv))
            true
          } finally removedIds.unpersist()
        } finally admitted.unpersist()
      } finally directed.unpersist()
    } finally { batch0.unpersist(); scope.release() }
  }

  // ------------------------------------------------------------------ keeper

  /** KEEPER-AWARE admission for the frame family —
    * [[PerceptualIndex.admitKeepBestBatch]]'s replace-if-better fold
    * where the match evidence is STRUCTURAL containment
    * ([[Dedup.videoContainmentDirected]]'s two denominators) and the
    * tiebreak is a quality score (decoded resolution, bitrate — the
    * higher-resolution re-encode of the same cut replaces it):
    *
    *  - MUTUAL containment (a re-encode: both directions ≥ the pinned
    *    threshold): the arrival admits iff its quality STRICTLY exceeds
    *    every such match's — and then retires them all in the same swap;
    *    worse or equal copies reject (ties keep the incumbent);
    *  - arrival strictly CONTAINED in a stored video (a clip, not
    *    mutual): rejects regardless of quality — a higher-quality CLIP
    *    never displaces the full cut it was taken from;
    *  - arrival SUBSUMES a stored video (the [[admitSupersedeBatch]]
    *    rule): admits and retires it;
    *  - partial overlaps admit without retiring.
    *
    * Same contracts as the supersede face: insert-only by id, in-batch
    * (id, frame) canonicalization (quality ties to the max per id),
    * O(batch ∪ tombstones) commits, the batchId gate in one swap.
    * In-batch containment between arrivals is not screened (the
    * documented [[admitSupersedeBatch]] hole — route bursts through its
    * `preDedupBatch` first if needed). Returns true when folded, false
    * on replay. */
  def admitKeepBestBatch(
      spark: SparkSession,
      frames: DataFrame,
      batchId: Long,
      store: TableStore,
      name: String,
      maxBucketSize: Int = 200): Boolean =
    mutate(store, name) {
      keepBestStamped(spark, frames, store, name, Some(batchId), maxBucketSize)
    }

  /** [[admitKeepBestBatch]] without the gate — the ad-hoc fold. */
  def keepBest(
      spark: SparkSession,
      frames: DataFrame,
      store: TableStore,
      name: String,
      maxBucketSize: Int = 200): Unit =
    mutate(store, name) {
      keepBestStamped(spark, frames, store, name, None, maxBucketSize)
    }

  private def keepBestStamped(
      spark: SparkSession, frames: DataFrame,
      store: TableStore, name: String, stamp: Option[Long],
      maxBucketSize: Int): Boolean = {
    val (m, mv) = requireManifest(store, name)
    IndexTier.requireLayout(s"frame index $name", m.hasQuality, keeper = true,
      "a replace-if-better fold")
    if (stamp.exists(_ <= m.lastBatchId)) return false
    IndexTier.rollbackAll(store, lsm(name, m).members)
    implicit val scope: CacheScope = new CacheScope
    // pinned shaped batch + ONE fused probe job (both tiers' touched
    // buckets — the [[supersedeStamped]] discipline); insert-only
    // against the INDEXED id set + in-batch (id, frame) canonicalization
    // (min sig; quality folds to the max per id — one score per video);
    // the id screen reads only the batch's id-buckets
    val l = lsm(name, m)
    val batchPre = scope.pin(frameQualityShape(frames))
    val (idBuckets, cellBuckets) =
      l.probePair(store, l.projections.head, probeRows(batchPre, m.maxHamming))
    val batch = batchPre
      .join(l.indexed(spark, store, idBuckets).select(col("id")), Seq("id"), "left_anti")
      .groupBy(col("id"), col("frame"))
      .agg(min(col("sig")).as("sig"), max(col("q")).as("q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val batchQ = batch.groupBy(col("id")).agg(max(col("q")).as("_qb"))
      // both directed containments per (arrival, stored) pair, at the
      // persisted budgets — the stored side's quality (its max per
      // video) rides denormalized on the projection rows as `_sq`
      val directed = prunedContainmentDirected(spark, store, name, m,
          batch.select(col("id"), col("frame"), col("sig")), maxBucketSize,
          Some(cellBuckets))
        .join(batchQ.withColumnRenamed("id", "batch_id"), Seq("batch_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val t = m.minContainment
        // reject iff ∃ match: the arrival is contained AND NOT (mutual
        // with strictly better quality)
        val rejected = directed
          .filter(col("containment_batch") >= t &&
            (col("containment_stored") < t || col("_qb") <= col("_sq")))
          .select(col("batch_id").as("id")).distinct()
        val admitted = batch
          .join(broadcast(rejected), Seq("id"), "left_anti")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // an admitted arrival retires every stored video it covers —
          // the beaten mutual matches AND the subsumed clips
          val removedIds = directed
            .filter(col("containment_stored") >= t)
            .join(admitted.select(col("id").as("batch_id")).distinct(),
              Seq("batch_id"), "left_semi")
            .select(col("stored_id").as("id")).distinct()
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            IndexTier.commitManifest(store, manifestTable(name),
              pinned(m, l.drain(spark, store, admitted, Some(removedIds)))
                .copy(lastBatchId = stamp.getOrElse(m.lastBatchId)),
              Some(mv))
            true
          } finally removedIds.unpersist()
        } finally admitted.unpersist()
      } finally directed.unpersist()
    } finally { batch.unpersist(); scope.release() }
  }
}
