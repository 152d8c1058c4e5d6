package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted 64-bit perceptual-signature index — the pixel/audio-side
  * analogue of [[SignatureIndex]] (reference discipline: incremental
  * state maintenance, control_migration_schema_script.sql:244, 412–416):
  * decode and hash each media item ONCE ([[Multimodal.dHashes]],
  * [[Multimodal.audioFingerprints]] — any 64-bit family), persist the
  * `(id, sig)` projection, then screen every arriving batch against
  * committed state without ever re-decoding the corpus. Stored state is
  * 8 bytes per item, so a billion-item corpus screens from a
  * single-digit-GB table while the payload bytes stay wherever they
  * live.
  *
  * Storage (member tables pinned by `<name>_manifest` — the
  * [[SignatureIndex]] overlay discipline with the screening PROJECTION
  * persisted and bucketed, so a drain's read is pruned to the cells its
  * batch hashes into instead of re-banding the full stored tier per
  * micro-batch):
  *
  *  - `<name>_sigs` — `(id, sig: long)` (`(id, sig, q)` for a KEEPER
  *    family), HASH-BUCKETED by id: the insert-only id screen reads only
  *    the buckets the batch's ids hash into;
  *  - `<name>_band` — `(id, chunk, value, sig[, q])`, one row per
  *    signature chunk ([[Dedup.hammingBandedPairs]]' pigeonhole bands),
  *    HASH-BUCKETED by (chunk, value): a hamming screen's candidates
  *    read only the batch's probe cells' buckets — never a posexplode of
  *    every stored signature. `sig` (and `q`) ride denormalized in the
  *    row so the verify/score tail never fetches back from the sigs
  *    tier;
  *  - `<name>_delta` — the LSM memtable ([[SignatureIndex]]'s `_delta`):
  *    each drain's admissions land here as ONE plain O(batch) linked
  *    append instead of two bucketed tier appends; every screen unions
  *    its pruned base read with the same projection derived IN-PLAN from
  *    this small member (filtered by the identical bucket rule, so
  *    hot-cell counts and candidates match a fold-merged tier exactly),
  *    and the amortized fold absorbs it into the tiers;
  *  - `<name>_rm` — tombstoned ids (a keeper fold's retirements);
  *    compaction-bounded, broadcast-subtracted by every read, folded
  *    into the base tiers past the policy bound;
  *  - `<name>_manifest` — member pins + the SCREENING PARAMETER
  *    (`max_hamming` — the banding geometry derives from it, so every
  *    screen uses the model's own budget) + the streaming admission
  *    gate's `last_batch_id`. Mutations commit members first (invisible
  *    orphans) and swap the manifest once.
  *
  * The daily admission loop, for pixels:
  * {{{
  * val matches = PerceptualIndex.screen(spark, batchSigs, store, "imgs")
  * val novel = batchSigs.join(broadcast(matches.select(col("batch_id").as("id"))
  *   .distinct()), Seq("id"), "left_anti")
  * PerceptualIndex.append(spark, novel, store, "imgs")
  * }}}
  *
  * Scale shape: [[append]]/admission commit ONE plain O(batch) linked
  * delta append; every screen reads a bounded set of constant-size
  * buckets (∝ the batch's probe cells, independent of stored-corpus
  * size — [[graft.PrunedScreenSpec]] measures it); the amortized fold
  * is the one stored-size rewrite, paid every ~[[IndexTier.OvlFrac]] of growth.
  */
object PerceptualIndex {

  private def sigsTable(name: String) = s"${name}_sigs"
  private def bandTable(name: String) = s"${name}_band"
  private def deltaTable(name: String) = s"${name}_delta"
  // tombstone member (KEEPER families): ids whose base rows are retired by
  // replace-if-better folds — the read-time subtraction that keeps a
  // replacement drain from rewriting the whole sigs member
  private def rmTable(name: String) = s"${name}_rm"
  private def manifestTable(name: String) = s"${name}_manifest"

  /** Default STARTING bucket counts: deliberately small — a screen's
    * pruned read opens one file per touched bucket, so oversized counts
    * tax every drain with near-empty file opens. Growth is automatic:
    * every amortized fold doubles the count until the tier fits the
    * per-bucket byte target ([[OverlayLock.grownSpec]]), so the
    * pruned-read invariant holds at any corpus size without manual
    * sizing. */
  val SigBuckets: Int = 4
  val BandBuckets: Int = 8

  /** Sigs pin + the screening budget + the admission gate. `hasQuality`
    * marks a KEEPER family ([[buildWithQuality]]): the sigs member
    * carries a per-item quality column and mutates through
    * [[admitKeepBestBatch]]'s replace-if-better fold — the two layouts
    * never mix (plain folds on a quality index, or vice versa, fail
    * loudly instead of corrupting the member schema). `dlt = None` ⇔
    * empty memtable. */
  private[graft] final case class PercManifest(
      sigs: Int, maxHamming: Int, lastBatchId: Long = -1L,
      hasQuality: Boolean = false, rmSigs: Option[Int] = None,
      band: Option[Int] = None, dlt: Option[Int] = None) extends IndexTier.Manifest {
    def fields: Seq[(String, Any)] = Seq("sigs_v" -> sigs,
      "max_hamming" -> maxHamming, "has_quality" -> (if (hasQuality) 1 else 0),
      "rm_sigs_v" -> rmSigs.getOrElse(-1), "band_v" -> band.getOrElse(-1),
      "dlt_v" -> dlt.getOrElse(-1), "last_batch_id" -> lastBatchId)
  }

  /** Absent keys predate the quality/tombstone/projection tiers (older
    * persisted index): a plain family, no tombstones, no band pin. */
  private[graft] def readManifest(
      store: TableStore, name: String): Option[(PercManifest, Int)] =
    IndexTier.readManifest(store, manifestTable(name), "perceptual-index manifest") { f =>
      PercManifest(f.int("sigs_v"), f.int("max_hamming"), f.long("last_batch_id"),
        f.flag("has_quality"), f.pin("rm_sigs_v"), f.pin("band_v"), f.pin("dlt_v"))
    }

  private def requireManifest(store: TableStore, name: String): (PercManifest, Int) =
    readManifest(store, name).getOrElse(throw new IllegalStateException(
      s"perceptual index $name has no manifest — build it first"))

  private def mutate[A](store: TableStore, name: String)(attempt: => A): A =
    OverlayLock.mutate(store, "perc", name)(attempt)

  /** The sigs base tier, its chunk-band projection (`(id, chunk, value,
    * sig[, q])` — `sig` and `q` ride denormalized so the verify/score tail
    * never fetches back from the sigs tier), the memtable and the
    * tombstones, at `m`'s pins ([[IndexTier.bandPin]] refuses a manifest
    * with no band pin). */
  private def lsm(name: String, m: PercManifest): IndexTier.Lsm = IndexTier.Lsm(
    IndexTier.Tier(sigsTable(name), m.sigs, Seq("id")),
    Seq(IndexTier.Tier(bandTable(name), IndexTier.bandPin(s"perceptual index $name", m.band),
      Seq("chunk", "value"),
      IndexTier.bandedOf(_, m.maxHamming), m.maxHamming + 1L)),
    deltaTable(name) -> m.dlt, rmTable(name) -> m.rmSigs)

  /** `m` at the pins of `l`. */
  private def pinned(m: PercManifest, l: IndexTier.Lsm): PercManifest =
    m.copy(sigs = l.base.pin, band = Some(l.projections.head.pin), dlt = l.delta._2,
      rmSigs = l.rm._2)

  // -------------------------------------------------------- pruned screens

  /** Batch-vs-stored hamming candidates from the PRUNED projection — the
    * same chunk-band pigeonhole, hot caps and verify tail as
    * [[Dedup.hammingBandedPairsAgainst]] (bit-equal results: the pruned
    * stored side holds exactly the full projection's rows in the batch's
    * cells, cells outside the batch produce no pairs, and a cell's
    * hot-count is exact because its rows share one bucket). Extra stored
    * columns (`q`) ride through to the output.
    *
    * @return (batch_id, stored_id, hamming ≤ maxHamming[, _sq]) */
  private def prunedPairsAgainst(
      spark: SparkSession, store: TableStore, name: String, m: PercManifest,
      batch: DataFrame, maxBucketSize: Int,
      carryQ: Boolean, cellTouched: Option[Seq[Int]] = None)(
      implicit caches: CacheScope): DataFrame = {
    val sb = caches.pin(IndexTier.bandedOf(batch.select(col("id"), col("sig")), m.maxHamming))
    val storedCols =
      if (carryQ) Seq(col("id"), col("sig"), col("q"), col("chunk"), col("value"))
      else Seq(col("id"), col("sig"), col("chunk"), col("value"))
    val l = lsm(name, m)
    val band = l.projections.head
    val sc = caches.pin(l.projected(spark, store, band,
        cellTouched.getOrElse(band.probe(store, sb.select(col("chunk"), col("value")))))
      .select(storedCols: _*))
    def hotSide(s: DataFrame) = s.groupBy(col("chunk"), col("value"))
      .agg(count(lit(1)).as("c")).filter(col("c") > maxBucketSize)
      .select("chunk", "value")
    val hot = hotSide(sb).union(hotSide(sc)).distinct()
    val coldB = sb.join(broadcast(hot), Seq("chunk", "value"), "left_anti")
    val coldC = sc.join(broadcast(hot), Seq("chunk", "value"), "left_anti")
    val outCols = Seq(col("a.id").as("batch_id"), col("b.id").as("stored_id"),
      graft.functions.TextFunctions.hamming64(col("a.sig"), col("b.sig"))
        .as("hamming")) ++ (if (carryQ) Seq(col("b.q").as("_sq")) else Nil)
    // the BATCH side is trigger-bounded — always the small side of this
    // join — so broadcast it explicitly: the stored side (pruned buckets
    // of a possibly-billion-item tier) must never shuffle for a screen,
    // and size estimates over a bucket-pruned scan are too coarse to
    // pick the right side automatically
    broadcast(coldB).alias("a")
      .join(coldC.alias("b"),
        col("a.chunk") === col("b.chunk") && col("a.value") === col("b.value"))
      .select(outCols: _*)
      .dropDuplicates("batch_id", "stored_id")
      .filter(col("hamming") <= m.maxHamming)
  }

  private def sigShape(sigs: DataFrame): DataFrame = {
    val Seq(idc, sigc) = sigs.columns.take(2).toSeq
    sigs.select(col(idc).as("id"), col(sigc).cast("long").as("sig"))
  }

  /** `(id, sig, q)` of a quality-carrying frame (first three columns,
    * any names). */
  private def sigQualityShape(sigs: DataFrame): DataFrame = {
    val Seq(idc, sigc, qc) = sigs.columns.take(3).toSeq
    sigs.select(col(idc).as("id"), col(sigc).cast("long").as("sig"),
      col(qc).cast("double").as("q"))
  }

  // ------------------------------------------------------------------ build

  /** Persist `(id, sig)` rows (first two columns, any names) and the
    * screening budget. Rebuilding replaces the corpus; the admission
    * gate survives, as in every family here. `sigBuckets`/`bandBuckets`
    * are the clustered-table knob — size each to a constant per-bucket
    * byte target at scale so screen reads stay corpus-size-independent. */
  def build(
      sigs: DataFrame,
      maxHamming: Int,
      store: TableStore,
      name: String,
      sigBuckets: Int = SigBuckets,
      bandBuckets: Int = BandBuckets): Unit =
    buildFamily(sigShape(sigs), maxHamming, store, name, sigBuckets, bandBuckets,
      quality = false)

  /** [[build]] for a KEEPER family: persist `(id, sig, quality)` rows
    * (first three columns, any names) — the quality score is whatever
    * the pipeline's keeper rule ranks by (decoded width×height for
    * images, the q137 RefinedWeb rule) and rides IN the member (and
    * denormalized in the projection rows), so the replace-if-better fold
    * compares arrivals against stored quality without re-decoding
    * anything. */
  def buildWithQuality(
      sigs: DataFrame,
      maxHamming: Int,
      store: TableStore,
      name: String,
      sigBuckets: Int = SigBuckets,
      bandBuckets: Int = BandBuckets): Unit =
    buildFamily(sigQualityShape(sigs), maxHamming, store, name, sigBuckets,
      bandBuckets, quality = true)

  private def buildFamily(
      rows: DataFrame, maxHamming: Int, store: TableStore, name: String,
      sigBuckets: Int, bandBuckets: Int, quality: Boolean): Unit = {
    require(maxHamming >= 1 && maxHamming <= 31,
      s"maxHamming must be in [1, 31], got $maxHamming")
    mutate(store, name) {
      val prev = readManifest(store, name)
      prev.foreach { case (m, _) => IndexTier.rollbackAll(store, lsm(name, m).members) }
      val fresh = PercManifest(-1, maxHamming, prev.map(_._1.lastBatchId).getOrElse(-1L),
        hasQuality = quality, band = Some(-1))
      IndexTier.commitManifest(store, manifestTable(name), pinned(fresh,
        lsm(name, fresh).build(rows.sparkSession, store, rows, Seq(sigBuckets, bandBuckets))),
        prev.map(_._2))
    }
  }

  /** The indexed `(id, sig)` corpus — `(id, sig, q)` for a keeper
    * family (manifest-pinned read). */
  def signatures(spark: SparkSession, store: TableStore, name: String): DataFrame = {
    val (m, _) = requireManifest(store, name)
    lsm(name, m).served(spark, store)
  }

  /** The index's screening budget, as persisted. */
  def maxHamming(store: TableStore, name: String): Int =
    requireManifest(store, name)._1.maxHamming

  // ---------------------------------------------------------- append/remove

  /** Fold a signature batch into committed state — INSERT-ONLY by id
    * (re-sent ids are no-ops), ONE plain O(batch) memtable commit
    * ([[IndexTier.Lsm.commit]]), one manifest swap; the bucketed tiers
    * absorb the memtable at the amortized fold. */
  def append(
      spark: SparkSession,
      sigs: DataFrame,
      store: TableStore,
      name: String): Unit =
    mutate(store, name) {
      appendStamped(spark, sigs, store, name, None)
    }

  private def appendStamped(
      spark: SparkSession, sigs: DataFrame,
      store: TableStore, name: String, stamp: Option[Long],
      screenFirst: Boolean = false,
      maxBucketSize: Int = 200,
      preDedupBatch: Boolean = false): Boolean = {
    val (m, mv) = requireManifest(store, name)
    IndexTier.requireLayout(s"perceptual index $name", m.hasQuality, keeper = false,
      "an insert-only fold")
    if (stamp.exists(_ <= m.lastBatchId)) return false
    IndexTier.rollbackAll(store, lsm(name, m).members)
    // the screen-then-admit fold: drop batch items within the persisted
    // budget of ANY stored signature, admit the rest — both halves read
    // the SAME pinned stored version, so the loop is one atomic decision.
    // The shaped batch is pinned ONCE (probe + anti-join share one
    // materialization of the raw input chain), and the probe job collects
    // BOTH tiers' touched buckets in one round
    // ([[IndexTier.touchedBucketsPair]]).
    implicit val outer: CacheScope = new CacheScope
    try {
    val batch0 = outer.pin(sigShape(sigs))
    val l = lsm(name, m)
    val (idBuckets, cellBuckets) =
      if (screenFirst)
        l.probePair(store, l.projections.head, IndexTier.bandedOf(batch0, m.maxHamming))
      else (l.base.probe(store, batch0.select(col("id"))), Seq.empty[Int])
    val batch =
      if (!screenFirst) batch0
      else {
        val scope: CacheScope = new CacheScope
        try {
          // opt-in WITHIN-BATCH screen (closes the documented in-batch
          // hole): a burst of near-copies inside one drain collapses to
          // its smallest-id member — greedy keeper over the pair graph,
          // any item within budget of a smaller-id batch item dies —
          // before the stored-state screen decides the survivors
          val preDeduped =
            if (!preDedupBatch) batch0
            else batch0.join(broadcast(
                Dedup.hammingBandedPairs(batch0, m.maxHamming, maxBucketSize)
                  .select(col("b_id").as("id")).distinct()),
              Seq("id"), "left_anti")
          // candidates from the PRUNED projection (the served view's
          // rows in the batch's probe cells — never a re-banding of the
          // full stored tier)
          val dup = prunedPairsAgainst(spark, store, name, m, preDeduped,
              maxBucketSize, carryQ = false, Some(cellBuckets))(scope)
            .select(col("batch_id").as("id")).distinct()
          // materialize the survivor list before the scope's pins release
          val novel = preDeduped.join(broadcast(dup), Seq("id"), "left_anti")
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
        // at most one signature per id: a batch carrying an id twice (two
        // staged files in one trigger) indexes the smallest sig —
        // deterministic under any partitioning (the
        // PostingsIndex.tokenized canonicalization rationale; signatures
        // order directly, no digest needed)
        .groupBy(col("id")).agg(min(col("sig")).as("sig"))
      IndexTier.commitManifest(store, manifestTable(name),
        pinned(m, l.drain(spark, store, fresh, None))
          .copy(lastBatchId = stamp.getOrElse(m.lastBatchId)), Some(mv))
      true
    } finally if (screenFirst) batch.unpersist()
    } finally outer.release()
  }

  /** Takedown: next sigs version without the given ids — after removal a
    * future arrival resembling only the removed items is admitted again
    * (the screen's memory genuinely forgets). Rewrites both tiers (the
    * amortized-rewrite class), folding any pending memtable/tombstones.
    * Returns rows removed. */
  def remove(
      spark: SparkSession,
      ids: DataFrame,
      store: TableStore,
      name: String): Long =
    mutate(store, name) {
      val (m, mv) = requireManifest(store, name)
      IndexTier.rollbackAll(store, lsm(name, m).members)
      val drop = broadcast(ids.select(col(ids.columns.head).as("_rm_id")).distinct())
      // the takedown rewrite serves double duty: the SERVED view minus
      // the dropped ids folds keeper tombstones + the memtable into the
      // base, and the swap clears the pins
      val l = lsm(name, m)
      val stored = l.served(spark, store)
      val before = stored.count()
      val (next, keptN) = l.rewrite(spark, store,
        stored.join(drop, stored("id") === col("_rm_id"), "left_anti"), fold = false)(_.count())
      IndexTier.commitManifest(store, manifestTable(name), pinned(m, next), Some(mv))
      before - keptN
    }

  // --------------------------------------------------------------- admission

  /** Exactly-once micro-batch admission ([[CorpusProfile.admitBatch]]'s
    * gate): the sigs advance and the batchId record are one atomic swap,
    * so a crash mid-fold is invisible and the redelivered batch folds
    * exactly once. Returns true when folded, false when replayed. */
  def admitBatch(
      spark: SparkSession,
      sigs: DataFrame,
      batchId: Long,
      store: TableStore,
      name: String): Boolean =
    mutate(store, name) {
      appendStamped(spark, sigs, store, name, Some(batchId))
    }

  /** The daily loop as ONE exactly-once fold: SCREEN the batch against
    * committed state (the persisted budget), admit only the novel items,
    * record the batchId — all against the same pinned sigs version and
    * published by one swap. The stored set EVOLVES between batches: a
    * near-copy of an item admitted two drains ago is rejected by that
    * admission, which the separate screen-then-append calls only get if
    * the caller sequences them; here the gate enforces it. By default,
    * in-batch near-dups of EACH OTHER both admit (the screen is against
    * stored state); `preDedupBatch = true` opts into a within-batch
    * screen first — a burst of near-copies of one novel item collapses
    * to its smallest-id member (greedy keeper over the
    * [[Dedup.hammingBandedPairs]] graph) before the stored screen runs.
    * GREEDY means ONE PASS: losses are not re-evaluated after a winner
    * dies, so in a chain A(1)~B(2), B~C(3) with A far from C, both B
    * and C die and only A survives — the kept set is not a maximal
    * independent set of the near-dup graph (sequential one-item folds
    * would keep A and C). Acceptable for the burst case this exists
    * for; callers needing maximality sequence their drains.
    * Returns true when folded, false on replay. */
  def admitNovelBatch(
      spark: SparkSession,
      sigs: DataFrame,
      batchId: Long,
      store: TableStore,
      name: String,
      maxBucketSize: Int = 200,
      preDedupBatch: Boolean = false): Boolean =
    mutate(store, name) {
      appendStamped(spark, sigs, store, name, Some(batchId),
        screenFirst = true, maxBucketSize = maxBucketSize,
        preDedupBatch = preDedupBatch)
    }

  /** KEEPER-AWARE admission — replace-if-better, the composition of
    * q137's keeper rule with the admission gate that the separate
    * operators couldn't give (a manual remove + admit is two commit
    * points and a reader-visible window): screen the arriving
    * `(id, sig, quality)` batch against the pinned stored state; an
    * arrival admits iff it matches NOTHING within the budget (novel) or
    * its quality STRICTLY exceeds every matched stored item's — and an
    * admitted arrival REPLACES all its matched stored rows (the
    * higher-resolution re-crawl of a stored image supersedes it, the
    * RefinedWeb pixels rule applied at the gate). Worse or equal copies
    * reject; ties keep the incumbent. Everything — removals, admissions,
    * the batchId — publishes in ONE swap.
    *
    * In-batch id duplicates fold to the (highest-quality, then
    * smallest-sig) row; re-sent EXISTING ids are no-ops (the [[append]]
    * insert-only contract — re-crawls arrive under fresh ids); in-batch
    * near-dups of each other both admit by default (the
    * [[admitNovelBatch]] contract) — `preDedupBatch = true` opts into a
    * within-batch keeper screen first, so a burst of near-copies of one
    * novel item admits only its highest-quality member (ties to the
    * smallest id; greedy ONE PASS — in a quality-ordered chain A(q9)~
    * B(q10), B~C(q11) with A far from C, both A and B die and only C
    * admits, where sequential folds would keep A: the kept set is not a
    * maximal independent set, the [[admitNovelBatch]] caveat).
    * Cost shape: the screen reads the batch's probe cells from the
    * persisted projection; EVERY drain commits O(batch ∪ tombstones) —
    * admissions are ONE plain memtable append, retirements land in the
    * compaction-bounded tombstone member that every read subtracts
    * (base ∖ retired ids), and past the policy bound the pending members
    * ride the next drain into an amortized tier rewrite. Returns true
    * when folded, false on replay. */
  def admitKeepBestBatch(
      spark: SparkSession,
      sigs: DataFrame,
      batchId: Long,
      store: TableStore,
      name: String,
      maxBucketSize: Int = 200,
      preDedupBatch: Boolean = false): Boolean =
    mutate(store, name) {
      keepBestStamped(spark, sigs, store, name, Some(batchId), maxBucketSize,
        preDedupBatch)
    }

  /** [[admitKeepBestBatch]] without the gate — the ad-hoc fold. */
  def keepBest(
      spark: SparkSession,
      sigs: DataFrame,
      store: TableStore,
      name: String,
      maxBucketSize: Int = 200,
      preDedupBatch: Boolean = false): Unit =
    mutate(store, name) {
      keepBestStamped(spark, sigs, store, name, None, maxBucketSize,
        preDedupBatch)
    }

  private def keepBestStamped(
      spark: SparkSession, sigs: DataFrame,
      store: TableStore, name: String, stamp: Option[Long],
      maxBucketSize: Int, preDedupBatch: Boolean = false): Boolean = {
    val (m, mv) = requireManifest(store, name)
    IndexTier.requireLayout(s"perceptual index $name", m.hasQuality, keeper = true,
      "a replace-if-better fold")
    if (stamp.exists(_ <= m.lastBatchId)) return false
    IndexTier.rollbackAll(store, lsm(name, m).members)
    implicit val scope: CacheScope = new CacheScope
    // in-batch id duplicates: highest quality wins, ties to smallest sig
    // (deterministic under any partitioning); a re-sent EXISTING id is a
    // no-op whole — the insert-only contract, which also keeps a
    // tombstoned id from re-entering the base under its own name and
    // being silently hidden by the subtraction (indexed ids ⊇ retired ids
    // until the fold, so one anti-join covers both). The id screen reads
    // only the batch's id-buckets.
    // pinned shaped batch + ONE fused probe job (both tiers' touched
    // buckets — the [[appendStamped]] discipline; pre-anti-join cells are
    // a superset, identical results)
    val l = lsm(name, m)
    val batch0pre = scope.pin(sigQualityShape(sigs))
    val (idBuckets, cellBuckets) = l.probePair(store, l.projections.head,
      IndexTier.bandedOf(batch0pre.select(col("id"), col("sig")), m.maxHamming))
    val batch0 = batch0pre
      .join(l.indexed(spark, store, idBuckets).select(col("id")), Seq("id"), "left_anti")
      .groupBy(col("id"))
      .agg(min_by(struct(col("sig"), col("q")),
        struct(-col("q"), col("sig"))).as("_w"))
      .select(col("id"), col("_w.sig").as("sig"), col("_w.q").as("q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // opt-in WITHIN-BATCH keeper ([[admitNovelBatch]]'s preDedupBatch
    // with the quality rule): in a burst carrying several near-copies
    // of one NOVEL item, any member within budget of a strictly-better
    // batch item — or of an equal-quality smaller-id one — dies before
    // the stored-state fold, so the burst admits only its best copy
    val batch =
      if (!preDedupBatch) batch0
      else {
        val pairs = Dedup.hammingBandedPairs(
          batch0.select(col("id"), col("sig")), m.maxHamming, maxBucketSize)
        val q = batch0.select(col("id"), col("q"))
        val losers = pairs
          .join(q.select(col("id").as("a_id"), col("q").as("_qa")), Seq("a_id"))
          .join(q.select(col("id").as("b_id"), col("q").as("_qb")), Seq("b_id"))
          .select(when(col("_qa") < col("_qb"), col("a_id"))
            .otherwise(col("b_id")).as("id")).distinct()
        batch0.join(broadcast(losers), Seq("id"), "left_anti")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
    try {
      // every (arrival, stored) pair within the persisted budget, scored —
      // stored quality rides denormalized in the projection rows, so the
      // screen never re-reads the sigs tier for it
      val scored = prunedPairsAgainst(spark, store, name, m,
        batch.select(col("id"), col("sig")), maxBucketSize, carryQ = true,
        Some(cellBuckets))
      // admit iff no match holds quality >= the arrival's
      val admitted = batch
        .join(scored.groupBy(col("batch_id")).agg(max(col("_sq")).as("_best"))
          .withColumnRenamed("batch_id", "id"), Seq("id"), "left")
        .filter(col("_best").isNull || col("q") > col("_best"))
        .select(col("id"), col("sig"), col("q"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // an admitted arrival beat ALL its matches — they all retire
        val removedIds = scored
          .join(admitted.select(col("id").as("batch_id")), Seq("batch_id"),
            "left_semi")
          .select(col("stored_id").as("id")).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // the amortized fold (served view minus this batch's retirements
          // plus its admissions) when due, else O(batch ∪ tombstones)
          // memtable + tombstone commits ([[IndexTier.Lsm.drain]])
          IndexTier.commitManifest(store, manifestTable(name),
            pinned(m, l.drain(spark, store, admitted, Some(removedIds)))
              .copy(lastBatchId = stamp.getOrElse(m.lastBatchId)),
            Some(mv))
          true
        } finally removedIds.unpersist()
      } finally admitted.unpersist()
    } finally {
      if (preDedupBatch) batch.unpersist()
      batch0.unpersist(); scope.release()
    }
  }

  /** Admission screen, served from committed state: every (batch item,
    * stored item) pair within the INDEX'S hamming budget — the
    * [[Dedup.hammingBandedPairsAgainst]] semantics with the persisted
    * parameter, the stored side a bucket-pruned read of the persisted
    * banding projection (never a re-banding of the full stored tier).
    * Callers aggregate to an admit/reject flag or a match count (q130's
    * tail).
    *
    * @return (batch_id, stored_id, hamming ≤ stored max_hamming) */
  def screen(
      spark: SparkSession,
      batchSigs: DataFrame,
      store: TableStore,
      name: String,
      maxBucketSize: Int = 200)(implicit caches: CacheScope): DataFrame = {
    val (m, _) = requireManifest(store, name)
    prunedPairsAgainst(spark, store, name, m, sigShape(batchSigs),
      maxBucketSize, carryQ = false)
  }
}
