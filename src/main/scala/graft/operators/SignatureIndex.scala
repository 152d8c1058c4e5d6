package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Persisted MinHash signature index — the TEXT-side analogue of
  * [[IvfIndex]] and the incremental form of [[Dedup.dedupAgainst]]: shingle
  * and hash the corpus ONCE, persist the signatures, then screen every
  * arriving batch against stored state without ever re-reading the corpus
  * text. [[Dedup.dedupAgainst]] recomputes the corpus signatures per call —
  * right for one-off jobs; at a daily admission cadence over a 100 TB
  * corpus the text re-scan dominates, and this index removes it.
  *
  * Storage (member tables pinned by `<name>_manifest` — the
  * [[IvfIndex]]/[[PostingsIndex]]/[[PerceptualIndex]]/[[FrameIndex]]
  * overlay discipline, with the screening PROJECTIONS persisted and
  * bucketed so a drain's read is pruned to the buckets its batch hashes
  * into instead of re-deriving the projection from the full stored tier
  * per micro-batch — the same clustered-table treatment the r16 docs tier
  * gave the lexical upsert, applied to the admission screens themselves):
  *
  *  - `<name>_sigs` — `(id, sig: array<long>, n_sh)`, the indexed corpus,
  *    HASH-BUCKETED by id (sorted within buckets): the insert-only id
  *    screen and the candidate fetch-back read only the buckets their
  *    keys hash into;
  *  - `<name>_pos` — `(id, i, v)`, one row per minhash position,
  *    HASH-BUCKETED by (i, v): the containment screen's candidate
  *    generation (batch and stored sharing ANY single position) reads
  *    only the batch's (i, v) buckets — never a posexplode of every
  *    stored signature;
  *  - `<name>_band` — `(id, band, bucket)`, the LSH banding projection,
  *    HASH-BUCKETED by (band, bucket): the Jaccard screen's candidates
  *    read only the batch's band-buckets — never a re-banding of the
  *    full sigs tier;
  *  - `<name>_delta` — the LSM memtable: each drain's admissions land
  *    here as ONE plain O(batch) linked append (no shuffle, no
  *    bucketing) instead of three bucketed tier appends; every screen
  *    unions its pruned base-tier read with the same projection derived
  *    IN-PLAN from this small member (filtered by the identical bucket
  *    rule, so hot-cell counts and candidates match a fold-merged tier
  *    exactly), and the amortized fold absorbs it into the tiers;
  *  - `<name>_rm` — tombstoned ids (a supersede fold's retirements);
  *    compaction-bounded, broadcast-subtracted by every read, folded
  *    into the base tiers past the policy bound;
  *  - `<name>_manifest` — member pins + the model parameters
  *    (screening MUST hash the batch with the index's own parameters)
  *    + the SERVED/RETIRED row counters (so no admission decision ever
  *    runs a count job over the corpus tier) + the streaming gate's
  *    `last_batch_id`.
  *
  * The tiers form one LSM member set ([[IndexTier.Lsm]]): drains append
  * O(batch) rows to the delta memtable, which every read projects
  * in-plan beside the pruned tiers, and the amortized folds/takedowns
  * rewrite all tiers together from the served view. Readers may see
  * projection rows of tombstoned ids (the tiers are supersets until the
  * fold); every screen subtracts the broadcast tombstone set before
  * counting or joining, so results are exactly those of a projection
  * derived from the served view.
  *
  * The admission loop a corpus pipeline runs daily:
  * {{{
  * val kept = SignatureIndex.screen(spark, arriving, "id", "text", store, "corpus", 0.8)
  * // ... write `kept` to the corpus table ...
  * SignatureIndex.append(spark, kept, "id", "text", store, "corpus")
  * }}}
  *
  * Scale shape: at 100 TB the bucket counts are sized to a constant
  * per-bucket byte target (the standard clustered-table rule — rebucket
  * at fold time as the corpus grows), so a fixed-size drain's screen
  * reads a bounded set of constant-size buckets: bytes read per drain
  * are ∝ the batch's probe keys, independent of stored-corpus size
  * ([[graft.tools.ScaleBench]]'s screen-decade probe measures it).
  */
object SignatureIndex {

  private def sigsTable(name: String) = s"${name}_sigs"
  private def posTable(name: String) = s"${name}_pos"
  private def bandTable(name: String) = s"${name}_band"
  private def rmTable(name: String) = s"${name}_rm"
  private def deltaTable(name: String) = s"${name}_delta"
  private def manifestTable(name: String) = s"${name}_manifest"

  /** Default STARTING bucket counts: deliberately small — a screen's
    * pruned read opens one file per touched bucket, so oversized counts
    * tax every drain with near-empty file opens. Growth is automatic:
    * every amortized fold doubles a tier's count until it fits the
    * per-bucket byte target ([[OverlayLock.grownSpec]]), so the
    * pruned-read invariant holds at any corpus size without manual
    * sizing. */
  val SigBuckets: Int = 8
  val PosBuckets: Int = 16
  val BandBuckets: Int = 16

  final case class Params(shingleN: Int, numHashes: Int, bands: Int) {
    require(numHashes % bands == 0, s"numHashes=$numHashes must divide into bands=$bands")
  }

  /** Member pins + model parameters + the row counters + the admission
    * gate. `nLive`/`nRm` are exact mergeable counts maintained in the
    * same swap as the rows they describe, so the supersede fold policy
    * and [[remove]]'s return value never run a count job over the
    * corpus-sized tiers (the [[PostingsIndex.BmManifest]] counter
    * rationale). `rm = None` ⇔ no tombstones. `hasQuality` marks a
    * KEEPER family ([[buildWithQuality]]): the sigs tier carries a
    * per-doc quality column and mutates through [[admitKeepBestBatch]]'s
    * replace-if-better fold — the two layouts never mix (the
    * [[PerceptualIndex.PercManifest]] guard). */
  private[graft] final case class SigManifest(
      sigs: Int, pos: Int, band: Int,
      shingleN: Int, numHashes: Int, bands: Int,
      nLive: Long, nRm: Long, lastBatchId: Long = -1L,
      rm: Option[Int] = None, hasQuality: Boolean = false,
      dlt: Option[Int] = None, nDelta: Long = 0L) extends IndexTier.Manifest {
    def params: Params = Params(shingleN, numHashes, bands)
    def fields: Seq[(String, Any)] = Seq("sigs_v" -> sigs, "pos_v" -> pos,
      "band_v" -> band, "rm_v" -> rm.getOrElse(-1), "dlt_v" -> dlt.getOrElse(-1),
      "shingle_n" -> shingleN, "num_hashes" -> numHashes, "bands" -> bands,
      "has_quality" -> (if (hasQuality) 1 else 0), "n_live" -> nLive,
      "n_rm" -> nRm, "n_dlt" -> nDelta, "last_batch_id" -> lastBatchId)
  }

  /** Absent keys: `dlt_v`/`n_dlt` predate the delta member (no memtable),
    * `has_quality` predates keeper families (a plain family). */
  private[graft] def readManifest(
      store: TableStore, name: String): Option[(SigManifest, Int)] =
    IndexTier.readManifest(store, manifestTable(name), "signature-index manifest") { f =>
      SigManifest(f.int("sigs_v"), f.int("pos_v"), f.int("band_v"),
        f.int("shingle_n"), f.int("num_hashes"), f.int("bands"),
        f.long("n_live"), f.long("n_rm"), f.long("last_batch_id"), f.pin("rm_v"),
        f.flag("has_quality"), f.pin("dlt_v"), f.longOr("n_dlt", 0L))
    }

  /** MIGRATION NOTE: indexes persisted by the pre-manifest layout (a bare
    * `_sigs` + `_params` pair, no `_manifest` member) are not readable by
    * this version — the manifest pins the projection tiers every screen
    * now reads, and those tiers don't exist in a legacy index. The
    * supported migration is an explicit [[build]] from the corpus text
    * (one full shingle+hash pass — the same cost the legacy build paid),
    * which replaces every member and writes the manifest. */
  private def requireManifest(store: TableStore, name: String): (SigManifest, Int) =
    readManifest(store, name).getOrElse(throw new IllegalStateException(
      s"signature index $name has no manifest — build it first" +
        (if (store.exists(s"${name}_params"))
          s" (a legacy pre-manifest ${name}_params layout exists: this " +
            "version adds persisted projection tiers a legacy index lacks — " +
            "rebuild from the corpus text with build())"
         else "")))

  private def mutate[A](store: TableStore, name: String)(attempt: => A): A =
    OverlayLock.mutate(store, "sig", name)(attempt)

  // ------------------------------------------------------------- projections

  private def signaturesOf(df: DataFrame, idCol: String, textCol: String, p: Params) =
    df.select(col(idCol).as("id"),
        minhashSignature(col(textCol), p.shingleN, p.numHashes).as("sig"),
        // distinct-shingle count (one pass, same hashed-shingle set the
        // signature minimizes over): the containment estimator's
        // denominators ride WITH the signature, so the directed screen
        // never re-reads text — hash-collision parity with counting
        // distinct shingle strings is the q23 argument (~2⁻⁶⁴)
        size(hashedShingleSet(col(textCol), p.shingleN)).cast("long").as("n_sh"))
      .filter(size(col("sig")) > 0) // docs long enough to shingle

  /** [[signaturesOf]] for a KEEPER family: the per-doc quality score
    * (whatever the pipeline ranks by — a fastText quality logit, a
    * length/perplexity composite, the q117 rule) rides IN the sigs row,
    * so the replace-if-better fold compares arrivals against stored
    * quality without re-reading any text. */
  private def signaturesOfQ(
      df: DataFrame, idCol: String, textCol: String, qCol: String, p: Params) =
    df.select(col(idCol).as("id"),
        minhashSignature(col(textCol), p.shingleN, p.numHashes).as("sig"),
        size(hashedShingleSet(col(textCol), p.shingleN)).cast("long").as("n_sh"),
        col(qCol).cast("double").as("q"))
      .filter(size(col("sig")) > 0)

  /** The position projection `(id, i, v)` of a signature frame. */
  private def positionsOf(sigs: DataFrame): DataFrame =
    sigs.select(col("id"), posexplode(col("sig")).as(Seq("i", "v")))

  /** The LSH banding projection `(id, band, bucket)` — the same bucketing
    * [[Dedup.minhashLshPairs]] applies, as a narrow persisted tier. */
  private def bandedOf(sigs: DataFrame, p: Params): DataFrame = {
    val rows = p.numHashes / p.bands
    sigs.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(p.bands - 1)),
        b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows)), b)))
        .as(Seq("band", "bucket")))
  }

  /** The sigs base tier, its position and banding projections, the
    * memtable and the tombstones, at `m`'s pins. */
  private def lsm(name: String, m: SigManifest): IndexTier.Lsm = IndexTier.Lsm(
    IndexTier.Tier(sigsTable(name), Some(m.sigs), SigBuckets, Seq("id")),
    Seq(IndexTier.Tier(posTable(name), Some(m.pos), PosBuckets, Seq("i", "v"),
        positionsOf, m.numHashes.toLong),
      IndexTier.Tier(bandTable(name), Some(m.band), BandBuckets, Seq("band", "bucket"),
        bandedOf(_, m.params), m.bands.toLong)),
    deltaTable(name) -> m.dlt, rmTable(name) -> m.rm)

  /** `m` at the pins of `l`. */
  private def pinned(m: SigManifest, l: IndexTier.Lsm): SigManifest = {
    val Seq(pos, band) = l.projections.map(_.pin.get)
    m.copy(sigs = l.base.pin.get, pos = pos, band = band, dlt = l.delta._2, rm = l.rm._2)
  }

  // ------------------------------------------------------------------ build

  /** Shingle+hash `df` once and commit all member tiers + the manifest.
    * Rebuilding replaces every member (the admission gate survives, as in
    * [[IvfIndex.build]]). Bucket counts are the clustered-table knob —
    * size each to a constant per-bucket byte target at scale so screen
    * reads stay corpus-size-independent. */
  def build(
      df: DataFrame,
      idCol: String,
      textCol: String,
      p: Params,
      store: TableStore,
      name: String,
      sigBuckets: Int = SigBuckets,
      posBuckets: Int = PosBuckets,
      bandBuckets: Int = BandBuckets): Unit =
    buildFamily(signaturesOf(df, idCol, textCol, p), p, store, name,
      Seq(sigBuckets, posBuckets, bandBuckets), quality = false)

  /** [[build]] for a KEEPER family: the sigs tier carries `(id, sig,
    * n_sh, q)` — `qCol` is the per-doc quality score the replace-if-
    * better fold ranks by. The projection tiers are quality-blind (they
    * only generate candidates). */
  def buildWithQuality(
      df: DataFrame,
      idCol: String,
      textCol: String,
      qCol: String,
      p: Params,
      store: TableStore,
      name: String,
      sigBuckets: Int = SigBuckets,
      posBuckets: Int = PosBuckets,
      bandBuckets: Int = BandBuckets): Unit =
    buildFamily(signaturesOfQ(df, idCol, textCol, qCol, p), p, store, name,
      Seq(sigBuckets, posBuckets, bandBuckets), quality = true)

  /** The projections derive from the COMMITTED sigs (a parquet read), so
    * the shingle+hash chain runs once, not three times. */
  private def buildFamily(
      sigs: DataFrame, p: Params, store: TableStore, name: String,
      buckets: Seq[Int], quality: Boolean): Unit =
    mutate(store, name) {
      val prev = readManifest(store, name)
      prev.foreach { case (m, _) => IndexTier.rollbackAll(store, lsm(name, m).members) }
      val fresh = SigManifest(-1, -1, -1, p.shingleN, p.numHashes, p.bands, 0L, 0L,
        prev.map(_._1.lastBatchId).getOrElse(-1L), hasQuality = quality)
      val built = lsm(name, fresh).build(sigs.sparkSession, store, sigs, buckets)
      IndexTier.commitManifest(store, manifestTable(name), pinned(fresh, built)
        .copy(nLive = built.served(sigs.sparkSession, store).count()), prev.map(_._2))
    }

  /** The index's model parameters, as persisted in the manifest. */
  def params(spark: SparkSession, store: TableStore, name: String): Params =
    requireManifest(store, name)._1.params

  /** The SERVED `(id, sig, n_sh)` corpus signatures: base ∪ delta rows
    * minus any id a supersede fold has tombstoned (manifest-pinned
    * read). */
  def signatures(spark: SparkSession, store: TableStore, name: String): DataFrame = {
    val (m, _) = requireManifest(store, name)
    lsm(name, m).served(spark, store)
  }

  /** When accumulated memtable/tombstone rows have earned their amortized
    * rewrite — the manifest-counter-priced policy shared by every drain
    * face (no corpus-sized count job ever runs). */
  private def foldBound(m: SigManifest): Long = math.max(1024L, m.nLive / 8)

  // ----------------------------------------------------------- append/remove

  /** Hash an admitted batch with the STORED parameters and commit the new
    * signatures as ONE O(batch) linked append into the delta memtable
    * ([[IndexTier.Lsm.commit]]) — a billion-doc tier is never rewritten
    * to admit a micro-batch; the tiers absorb the memtable at the
    * amortized fold ([[commitDrain]]). IDEMPOTENT by id: ids already in the
    * BASE (including tombstoned ids, which may not re-enter under their
    * own name until the fold forgets them) are skipped via a read of the
    * batch's own id-buckets, so a replayed micro-batch (the foreachBatch
    * at-least-once contract) never double-inserts. */
  def append(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      store: TableStore,
      name: String): Unit =
    mutate(store, name) {
      appendStamped(spark, batch, idCol, textCol, store, name, None)
    }

  private def appendStamped(
      spark: SparkSession, batch: DataFrame, idCol: String, textCol: String,
      store: TableStore, name: String, stamp: Option[Long]): Boolean = {
    val (m, mv) = requireManifest(store, name)
    IndexTier.requireLayout(s"signature index $name", m.hasQuality, keeper = false,
      "an insert-only fold")
    if (stamp.exists(_ <= m.lastBatchId)) return false
    IndexTier.rollbackAll(store, lsm(name, m).members)
    // pinned: the probe job and the delta write both consume the
    // shingle+hash chain
    val batchSigs = signaturesOf(batch, idCol, textCol, m.params)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // insert-only against the BASE id set, read from the batch's own
      // id-buckets only (a batch can only collide with history inside
      // the buckets its ids hash into); in-batch duplicate ids fold to
      // the signature with the smallest array hash (deterministic under
      // any partitioning — the PostingsIndex.tokenized canonicalization)
      val l = lsm(name, m)
      val fresh = batchSigs
        .join(l.indexed(spark, store, l.base.probe(store, batchSigs)).select(col("id")),
          Seq("id"), "left_anti")
        .groupBy(col("id"))
        .agg(min_by(struct(col("sig"), col("n_sh")),
          xxhash64(col("sig"))).as("_w"))
        .select(col("id"), col("_w.sig").as("sig"), col("_w.n_sh").as("n_sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // the count materializes the pinned chain at full drain width, so
        // the delta write's coalesce(4) reads the cache (measured: letting
        // the write materialize the chain itself is slower — the
        // countAdmittedRetired note)
        val n = fresh.count()
        commitDrain(spark, store, name, m, mv, fresh, n, None, 0L, stamp)
        true
      } finally fresh.unpersist()
    } finally batchSigs.unpersist()
  }

  /** Exactly-once micro-batch admission — the batchId gate rides in the
    * family manifest ([[CorpusProfile.admitBatch]]'s argument verbatim).
    * Returns true when folded, false when skipped as a replay. */
  def admitBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      store: TableStore,
      name: String): Boolean =
    mutate(store, name) {
      appendStamped(spark, batch, idCol, textCol, store, name, Some(batchId))
    }

  /** Bound the members' per-bucket file counts — the maintenance call a
    * per-micro-batch append cadence needs. Appends already fold bucket
    * compaction in ([[OverlayLock.appendOrCompactBucketed]]), so this is
    * the explicit form: each member compacts its oversized buckets and
    * the manifest repins in one swap. The no-op case is a directory
    * listing per member. */
  def compact(
      spark: SparkSession,
      store: TableStore,
      name: String,
      maxFilesPerBucket: Int = 8): Unit =
    mutate(store, name) {
      val (m, mv) = requireManifest(store, name)
      IndexTier.rollbackAll(store, lsm(name, m).members)
      val sv = store.compact(spark, sigsTable(name), maxFilesPerBucket)
      val pv = store.compact(spark, posTable(name), maxFilesPerBucket)
      val bv = store.compact(spark, bandTable(name), maxFilesPerBucket)
      val dv = m.dlt.flatMap(_ => store.compactPlain(spark, deltaTable(name)))
      if (sv.isDefined || pv.isDefined || bv.isDefined || dv.isDefined)
        IndexTier.commitManifest(store, manifestTable(name),
          m.copy(sigs = sv.getOrElse(m.sigs), pos = pv.getOrElse(m.pos),
            band = bv.getOrElse(m.band),
            dlt = dv.orElse(m.dlt)), Some(mv))
    }

  /** Takedown: commit next versions of every tier WITHOUT the given ids
    * (model parameters untouched). After removal, a future arrival
    * resembling only the removed docs is admitted again — the screen's
    * memory genuinely forgets. A takedown rewrites the corpus-sized
    * tiers anyway, so pending supersede tombstones fold away in the same
    * swap. Returns how many served signatures were removed (from the
    * manifest counters — no corpus-sized count job). */
  def remove(
      spark: SparkSession,
      ids: DataFrame,
      store: TableStore,
      name: String): Long =
    mutate(store, name) {
      val (m, mv) = requireManifest(store, name)
      IndexTier.rollbackAll(store, lsm(name, m).members)
      val l = lsm(name, m)
      val served = l.served(spark, store)
      // cast the drop list to the STORED id type before any bucket math:
      // equality joins would survive a type mismatch via implicit casts,
      // but Murmur3 bucket hashes differ by input type, so an uncast
      // drop list silently prunes to the wrong buckets and under-counts
      val idType = served.schema("id").dataType
      val drop = broadcast(
        ids.select(col(ids.columns.head).cast(idType).as("_rm_id")).distinct())
      // the dropped-count read is keyed: only the drop list's buckets
      val removed = l.projected(spark, store, l.base,
          l.base.probe(store, drop.select(col("_rm_id").as("id"))))
        .join(drop, col("id") === col("_rm_id"), "left_semi")
        .count()
      val (next, _) = l.rewrite(spark, store,
        served.join(drop, served("id") === col("_rm_id"), "left_anti"), fold = false)(_.count())
      IndexTier.commitManifest(store, manifestTable(name),
        pinned(m, next).copy(nLive = m.nLive - removed, nRm = 0L, nDelta = 0L), Some(mv))
      removed
    }

  // ---------------------------------------------------------------- screens

  /** Cells of `s` (keyed by `keys`) holding more than `cap` rows — the
    * standard LSH hot-bucket guard, exact for every cell a bucket-pruned
    * read covers (a cell's rows never split across storage buckets). */
  private def hotCells(s: DataFrame, keys: Seq[String], cap: Int): DataFrame =
    s.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
      .filter(col("c") > cap).select(keys.map(col): _*)

  /** Admission screen: batch rows whose estimated Jaccard against ANY
    * stored doc reaches `threshold` are dropped; survivors pass through
    * with their original columns. Exact duplicates of stored docs carry
    * identical signatures (est = 1.0) and are dropped by the same test;
    * docs too short to shingle match nothing and are kept. Same hot-bucket
    * cap discipline as every LSH join here.
    *
    * Scale shape: candidates come from the PERSISTED banding tier, read
    * bucket-pruned to the batch's own (band, bucket) cells — the stored
    * corpus is never re-banded; candidate signatures fetch from the
    * id-bucketed sigs tier, pruned to the candidates' id-buckets. The
    * corpus text is never touched. */
  def screen(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      store: TableStore,
      name: String,
      threshold: Double,
      maxBucketSize: Int = 200)(implicit caches: CacheScope): DataFrame = {
    val (m, _) = requireManifest(store, name)
    val p = m.params
    val l = lsm(name, m)
    val band = l.projections(1)
    val batchSigs = caches.pin(signaturesOf(batch, idCol, textCol, p))
    val sb = caches.pin(bandedOf(batchSigs, p))
    val storedBand = caches.pin(l.projected(spark, store, band,
      band.probe(store, sb.select(col("band"), col("bucket")))))
    val hot = hotCells(sb, Seq("band", "bucket"), maxBucketSize)
      .union(hotCells(storedBand, Seq("band", "bucket"), maxBucketSize)).distinct()
    val coldB = sb.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
    val coldC = storedBand.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
    val cand = caches.pin(coldB.alias("a")
      .join(coldC.alias("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .filter(col("a.id") =!= col("b.id")) // re-screening admitted docs is a no-op
      .select(col("a.id").as("batch_id"), col("b.id").as("stored_id"))
      .distinct())
    // fetch-back: candidate stored signatures from their id-buckets only
    val storedSigs = l.indexed(spark, store,
      l.base.probe(store, cand.select(col("stored_id").as("id"))))
    val dropIds = cand
      .join(batchSigs.select(col("id").as("batch_id"), col("sig").as("_bs")),
        Seq("batch_id"))
      .join(storedSigs.select(col("id").as("stored_id"), col("sig").as("_ss")),
        Seq("stored_id"))
      .select(col("batch_id").as("_drop_id"),
        (org.apache.spark.sql.graft.NativeFunctions
          .long_positions_equal(col("_bs"), col("_ss")).cast("double") / p.numHashes)
          .as("_ej"))
      .filter(col("_ej") >= threshold)
      .select(col("_drop_id")).distinct()
    batch.join(broadcast(dropIds), batch(idCol) === col("_drop_id"), "left_anti")
  }

  // -------------------------------------------------------------- containment

  /** BOTH directed containment estimates per (arriving, stored) doc pair
    * — the TEXT analogue of [[Dedup.videoContainmentDirected]], from
    * SKETCHES instead of frames: the paywall stub / quoted article /
    * chapter-inside-the-book case [[screen]]'s symmetric Jaccard
    * structurally misses (the union is the big doc). From the signature
    * agreement Ĵ (matching minhash positions / k) and the stored
    * per-doc distinct-shingle counts, Broder's identities give
    * `|A∩B| ≈ Ĵ/(1+Ĵ)·(|A|+|B|)` and the two directed containments
    * |A∩B|/|A|, |A∩B|/|B| — an exact substring scores ≈1.0 on its own
    * side. Estimates, not exact counts: deterministic (the md5 family),
    * but a fixed threshold reads through ±O(1/√k) agreement noise —
    * size `numHashes` accordingly (128+ for containment work).
    *
    * Candidates: batch and stored share ANY single minhash position-
    * value — P(share) = 1−(1−J)ᵏ, ≈1 even at the low Jaccard a
    * contained snippet has against its container (per-BAND sharing, the
    * [[screen]] scheme, needs r consecutive agreements and misses
    * low-J/high-containment pairs by construction). The stored side is
    * the PERSISTED position tier, read bucket-pruned to the batch's own
    * (i, v) cells — never a posexplode of every stored signature; hot
    * (i, v) cells capped on both sides; candidate (sig, n_sh) fetch
    * from the candidates' id-buckets. Text never re-read.
    *
    * @return (batch_id, stored_id, est_jaccard, containment_batch,
    *         containment_stored), greatest(containments) ≥
    *         minContainment */
  def screenContainment(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      store: TableStore,
      name: String,
      minContainment: Double,
      maxBucketSize: Int = 200)(implicit caches: CacheScope): DataFrame = {
    val (m, _) = requireManifest(store, name)
    containmentAgainstStored(spark, store, name, m,
      caches.pin(signaturesOf(batch, idCol, textCol, m.params)),
      minContainment, maxBucketSize)
  }

  /** Candidate (batch_id, stored_id) pairs + both containment estimates,
    * the stored side resolved from the pruned position tier and the
    * id-bucketed sigs tier. */
  private def containmentAgainstStored(
      spark: SparkSession, store: TableStore, name: String, m: SigManifest,
      batchSigs: DataFrame, minContainment: Double, maxBucketSize: Int,
      posTouched: Option[Seq[Int]] = None)(
      implicit caches: CacheScope): DataFrame = {
    val l = lsm(name, m)
    val pos = l.projections.head
    val pb = caches.pin(positionsOf(batchSigs))
    val ps = caches.pin(l.projected(spark, store, pos,
      posTouched.getOrElse(pos.probe(store, pb.select(col("i"), col("v"))))))
    val cand = caches.pin(candidatePairs(pb, ps, maxBucketSize))
    val storedSigs = l.indexed(spark, store,
      l.base.probe(store, cand.select(col("stored_id").as("id"))))
    containmentScores(cand, batchSigs, storedSigs, m.params, minContainment)
  }

  /** (batch_id, stored_id) pairs sharing ≥1 (i, v) cell, hot cells capped
    * on both sides. */
  private def candidatePairs(
      pb: DataFrame, ps: DataFrame, maxBucketSize: Int): DataFrame = {
    val hot = hotCells(pb, Seq("i", "v"), maxBucketSize)
      .union(hotCells(ps, Seq("i", "v"), maxBucketSize)).distinct()
    val coldB = pb.join(broadcast(hot), Seq("i", "v"), "left_anti")
    val coldS = ps.join(broadcast(hot), Seq("i", "v"), "left_anti")
    coldB.alias("a")
      .join(coldS.alias("b"), col("a.i") === col("b.i") && col("a.v") === col("b.v"))
      .filter(col("a.id") =!= col("b.id"))
      .select(col("a.id").as("batch_id"), col("b.id").as("stored_id"))
      .distinct()
  }

  /** Join candidate pairs back to both signature frames and apply the
    * Broder identities; `storedSigs` must carry (id, sig, n_sh). */
  private def containmentScores(
      cand: DataFrame, batchSigs: DataFrame, storedSigs: DataFrame,
      p: Params, minContainment: Double): DataFrame = {
    require(minContainment > 0.0 && minContainment <= 1.0,
      s"minContainment must be in (0, 1], got $minContainment")
    cand
      .join(batchSigs.select(col("id").as("batch_id"), col("sig").as("_bs"),
        col("n_sh").cast("double").as("_na")), Seq("batch_id"))
      .join(storedSigs.select(col("id").as("stored_id"), col("sig").as("_ss"),
        col("n_sh").cast("double").as("_nb")), Seq("stored_id"))
      .withColumn("est_jaccard",
        org.apache.spark.sql.graft.NativeFunctions
          .long_positions_equal(col("_bs"), col("_ss")).cast("double") / p.numHashes)
      .withColumn("_inter",
        col("est_jaccard") / (lit(1.0) + col("est_jaccard"))
          * (col("_na") + col("_nb")))
      .select(col("batch_id"), col("stored_id"), col("est_jaccard"),
        (col("_inter") / col("_na")).as("containment_batch"),
        (col("_inter") / col("_nb")).as("containment_stored"))
      .filter(greatest(col("containment_batch"), col("containment_stored"))
        >= minContainment)
  }

  /** Within-batch directed-containment pre-screen (the opt-in face of
    * [[supersede]]'s `preDedupBatch`): for batch pairs sharing any
    * position cell, an item CONTAINED in another batch item dies —
    * mutual containment (near-copies of each other) keeps the
    * SMALLEST id (the [[PerceptualIndex]] keeper convention). GREEDY,
    * one pass: losses are not re-evaluated after a winner dies, so a
    * containment chain in one burst keeps only its maximal members —
    * the documented [[PerceptualIndex.admitKeepBestBatch]] semantics. */
  private def inBatchContainmentLosers(
      batchSigs: DataFrame, p: Params, minContainment: Double,
      maxBucketSize: Int)(implicit caches: CacheScope): DataFrame = {
    val pb = caches.pin(positionsOf(batchSigs))
    val pairs = containmentScores(
      candidatePairs(pb, pb, maxBucketSize), batchSigs,
      batchSigs, p, minContainment)
    pairs.select(
      when(col("containment_batch") >= minContainment &&
          (col("containment_stored") < minContainment ||
            col("batch_id") > col("stored_id")), col("batch_id"))
        .when(col("containment_stored") >= minContainment &&
          (col("containment_batch") < minContainment ||
            col("stored_id") > col("batch_id")), col("stored_id"))
        .as("id"))
      .filter(col("id").isNotNull).distinct()
  }

  /** Both admission counters, each as ONE narrow job (per-partition size
    * + driver sum — no aggregation exchange), run CONCURRENTLY —
    * `admitted` and `retired` are pinned by the caller, so this
    * materializes both caches while pricing the fold policy at a single
    * job latency per drain. Measured keeper (this round): folding the
    * counts INTO the commit jobs instead is SLOWER — the delta write's
    * `coalesce(4)` then materializes the whole screen chain at reduced
    * parallelism while both commit branches contend on the same uncached
    * pins (+0.5 s/drain on q144) — so the count round stays. */
  private def countAdmittedRetired(
      admitted: DataFrame, retired: DataFrame): (Long, Long) = {
    val Seq(a, r) = OverlayLock.inParallel(Seq(
      () => IndexTier.narrowCount(admitted), () => IndexTier.narrowCount(retired)))
    (a.asInstanceOf[Long], r.asInstanceOf[Long])
  }

  /** Publish one drain — shared by [[append]], [[supersede]] and
    * [[admitKeepBestBatch]]: admissions land as ONE plain linked append
    * into the delta member (the memtable — screens serve base ∪ delta
    * union-style), `retired` ids (when any) merge into the tombstone
    * member concurrently, and ONE manifest swap carries rows + counters +
    * the batchId. Past the manifest-counter policy bound ([[foldBound]]
    * tombstones OR delta rows — no corpus-sized count job) the drain
    * rides one amortized fold instead: the served view of the
    * just-committed members is rewritten into all bucketed tiers and the
    * swap clears both small members. The fold runs AFTER the O(batch)
    * commits so the row counters come from the drain's own counts; the
    * served content equals (base ∪ delta ∪ admitted) ∖ (rm ∪ retired)
    * either way (admitted ids are disjoint from the tombstones by the
    * insert-only screen), and the interim member versions are
    * unpublished orphans the swap supersedes. `admitted` carries the
    * family's full sigs-tier schema (with `q` for a keeper family — the
    * projection derivations select their own columns). */
  private def commitDrain(
      spark: SparkSession, store: TableStore, name: String,
      m: SigManifest, mv: Int, admitted: DataFrame, admittedN: Long,
      retired: Option[DataFrame], retiredN: Long, stamp: Option[Long]): Unit = {
    val l = lsm(name, m).commit(spark, store, admitted, retired)
    val mNew = pinned(m, l).copy(nDelta = m.nDelta + admittedN,
      nLive = m.nLive + admittedN - retiredN, nRm = m.nRm + retiredN,
      lastBatchId = stamp.getOrElse(m.lastBatchId))
    if (mNew.nRm > foldBound(m) || mNew.nDelta > foldBound(m)) {
      val (folded, _) = l.rewrite(spark, store, l.served(spark, store), fold = true)(_.count())
      IndexTier.commitManifest(store, manifestTable(name),
        pinned(mNew, folded).copy(nRm = 0L, nDelta = 0L), Some(mv))
    } else IndexTier.commitManifest(store, manifestTable(name), mNew, Some(mv))
  }

  /** SUPERSEDE admission — the text keeper, [[FrameIndex
    * .admitSupersedeBatch]]'s fold on sketch containment: an arrival
    * CONTAINED in a stored doc (its own-side estimate ≥ the threshold —
    * the stub, the quoted excerpt, the re-crawl) rejects, and mutual
    * containment rejects FIRST so a near-exact copy never displaces its
    * source; an ADMITTED arrival that contains ≥ threshold of a STORED
    * doc's shingles SUBSUMES it — the full article retires the stored
    * snippet in the SAME swap as the admissions. Partial overlaps admit
    * without retiring. Idempotent by id like [[append]] (a replayed
    * batch's admitted ids are already indexed and no-op), so the
    * at-least-once foreachBatch contract composes to exactly-once
    * state — [[graft.streaming.AdmissionStream]]'s argument.
    *
    * Docs too short to shingle PASS THROUGH to the admitted output (the
    * [[screen]] convention — a keeper gate must not silently lose rows)
    * but are recorded nowhere: they are screened by nothing and nothing
    * screens against them, so a redelivered batch re-emits them
    * (at-least-once for unshingleable rows, exactly-once for indexable
    * ones — callers needing exact replay route short docs around the
    * gate).
    *
    * By default, in-batch containment between arrivals is NOT screened
    * (micro-batch file boundaries decide what "arrives together"): a
    * snippet and its full article in ONE drain both admit.
    * `preDedupBatch = true` opts into a within-batch directed-
    * containment screen first — contained batch items die (mutual →
    * smallest id survives; greedy, one pass) before the stored-state
    * fold, so the burst admits only its maximal members.
    *
    * Cost shape: EVERY drain commits O(batch ∪ tombstones) — admissions
    * ride ONE plain linked append into the `_delta` memtable (no
    * bucketed tier is touched per drain), retirements the small `_rm`
    * member every read subtracts — and EVERY drain's reads are
    * bucket-pruned to the batch's probe cells (candidates from the
    * persisted position tier ∪ the delta's in-plan projection,
    * fetch-back from the id-bucketed sigs tier ∪ delta). The fold
    * policy prices itself from the MANIFEST counters — no count job
    * ever runs over a corpus-sized tier; past `max(1024, live/8)`
    * tombstone OR delta rows the drain rides one amortized fold that
    * rewrites the served view into all tiers and clears both small
    * members.
    *
    * @return the admitted batch rows, original columns (the [[screen]]
    *         convention) */
  def supersede(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      store: TableStore,
      name: String,
      minContainment: Double,
      maxBucketSize: Int = 200,
      preDedupBatch: Boolean = false)(implicit caches: CacheScope): DataFrame =
    mutate(store, name) {
      val (m, mv) = requireManifest(store, name)
      IndexTier.requireLayout(s"signature index $name", m.hasQuality, keeper = false,
        "a supersede fold")
      IndexTier.rollbackAll(store, lsm(name, m).members)
      val p = m.params
      // ONE probe job over the batch's pinned signatures: the sigs
      // tier's id-buckets AND the position tier's (i, v)-cell buckets
      // fused ([[IndexTier.touchedBucketsPair]]). Probing cells from the
      // PRE-anti-join signatures is superset-safe: a wider bucket list
      // reads whole extra cells, a cell the (anti-joined) batch never
      // probes produces no candidate pairs, and per-cell hot counts
      // are exact for every read cell either way — results identical.
      val l = lsm(name, m)
      val sigAll = caches.pin(signaturesOf(batch, idCol, textCol, p))
      val (idBuckets, posBuckets) =
        l.probePair(store, l.projections.head, positionsOf(sigAll))
      // insert-only against the INDEXED id set (base ∪ delta, ⊇
      // tombstoned ids until the fold — a retired id can never re-enter
      // under its own name and be hidden by the subtraction), read from
      // the batch's id-buckets only; in-batch duplicate ids fold to the
      // smallest-hash signature
      val batchSigs0 = caches.pin(
        sigAll
          .join(l.indexed(spark, store, idBuckets).select(col("id")), Seq("id"), "left_anti")
          .groupBy(col("id"))
          .agg(min_by(struct(col("sig"), col("n_sh")),
            xxhash64(col("sig"))).as("_w"))
          .select(col("id"), col("_w.sig").as("sig"), col("_w.n_sh").as("n_sh")))
      val batchSigs =
        if (!preDedupBatch) batchSigs0
        else caches.pin(batchSigs0.join(
          broadcast(inBatchContainmentLosers(batchSigs0, p, minContainment,
            maxBucketSize)), Seq("id"), "left_anti"))
      val pairs = caches.pin(containmentAgainstStored(spark, store, name, m,
        batchSigs, minContainment, maxBucketSize, Some(posBuckets)))
      val rejected = pairs
        .filter(col("containment_batch") >= minContainment)
        .select(col("batch_id").as("id")).distinct()
      val admitted = caches.pin(
        batchSigs.join(broadcast(rejected), Seq("id"), "left_anti"))
      // stored docs subsumed by an ADMITTED arrival retire in the swap
      val retired = caches.pin(pairs
        .filter(col("containment_stored") >= minContainment)
        .join(admitted.select(col("id").as("batch_id")), Seq("batch_id"),
          "left_semi")
        .select(col("stored_id").as("id")).distinct())
      val (admittedN, retiredN) = countAdmittedRetired(admitted, retired)
      commitDrain(spark, store, name, m, mv, admitted, admittedN,
        Some(retired).filter(_ => retiredN > 0L), retiredN, stamp = None)
      // admitted rows pass through with their original columns; docs
      // too short to shingle never entered the gate — pass them too
      val keptIds = admitted.select(col("id").as("_adm_id"))
      val shingleable = batch
        .filter(size(hashedShingleSet(col(textCol), p.shingleN)) > 0)
      shingleable
        .join(broadcast(keptIds), shingleable(idCol) === col("_adm_id"), "left_semi")
        .unionByName(batch.filter(
          size(hashedShingleSet(col(textCol), p.shingleN)) <= 0))
    }

  // ------------------------------------------------------------------ keeper

  /** KEEPER-AWARE admission — the text [[PerceptualIndex
    * .admitKeepBestBatch]], completing the novelty/keeper/supersede
    * matrix for the text family (q117's keep-best rule was ad-hoc only):
    * screen the arriving `(id, text, quality)` batch against the pinned
    * stored state with the JACCARD near-dup rule (estimated J ≥
    * `threshold` against any stored doc — the [[screen]] evidence, NOT
    * containment: a keeper ranks INTERCHANGEABLE copies, where the
    * supersede face ranks coverage); an arrival admits iff it matches
    * NOTHING (novel) or its quality STRICTLY exceeds every matched
    * stored doc's — and then retires all its matches in the same swap.
    * Worse or equal copies reject; ties keep the incumbent. Everything —
    * retirements, admissions, the batchId — publishes in ONE swap.
    *
    * Same contracts as [[supersede]]: insert-only by id against the
    * BASE id set, in-batch duplicate ids fold to the (highest-quality,
    * then smallest-hash) row, docs too short to shingle PASS THROUGH
    * unindexed, in-batch near-dups of each other both admit (micro-
    * batch boundaries decide what arrives together), and every drain
    * commits O(batch ∪ tombstones) with bucket-pruned reads — the
    * candidate generation is the persisted band tier, the fetch-back
    * the candidates' id-buckets, the fold policy the manifest counters.
    *
    * Returns the admitted batch rows, original columns — LAZY rows pinned
    * in the caller's implicit [[CacheScope]], unlike the other families'
    * keeper folds, which manage their own pins and return a Boolean. The
    * fold itself commits eagerly; the caller releases the scope after
    * consuming the rows (q147's drain, which has no sink, opens one scope
    * per micro-batch and releases it right after the fold). */
  def admitKeepBestBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      qCol: String,
      store: TableStore,
      name: String,
      threshold: Double,
      maxBucketSize: Int = 200)(implicit caches: CacheScope): DataFrame =
    mutate(store, name) {
      keepBestStamped(spark, batch, idCol, textCol, qCol, store, name,
        threshold, maxBucketSize, Some(batchId))
    }

  /** [[admitKeepBestBatch]] without the gate — the ad-hoc fold. Same
    * scope contract: the returned rows are lazy and pinned in the
    * caller's implicit [[CacheScope]], which the caller releases after
    * consuming them. */
  def keepBest(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      qCol: String,
      store: TableStore,
      name: String,
      threshold: Double,
      maxBucketSize: Int = 200)(implicit caches: CacheScope): DataFrame =
    mutate(store, name) {
      keepBestStamped(spark, batch, idCol, textCol, qCol, store, name,
        threshold, maxBucketSize, None)
    }

  private def keepBestStamped(
      spark: SparkSession, batch: DataFrame, idCol: String, textCol: String,
      qCol: String, store: TableStore, name: String, threshold: Double,
      maxBucketSize: Int, stamp: Option[Long])(
      implicit caches: CacheScope): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val (m, mv) = requireManifest(store, name)
    IndexTier.requireLayout(s"signature index $name", m.hasQuality, keeper = true,
      "a replace-if-better fold")
    val p = m.params
    if (stamp.exists(_ <= m.lastBatchId))
      return batch.filter(lit(false)) // replayed batchId: nothing folds
    IndexTier.rollbackAll(store, lsm(name, m).members)
    // ONE probe job over the batch's pinned signatures: id-buckets and
    // band-cell buckets fused ([[IndexTier.touchedBucketsPair]]); probing cells
    // from the PRE-anti-join signatures is superset-safe (the
    // [[supersede]] note — extra whole cells never pair, hot counts
    // exact per read cell)
    val l = lsm(name, m)
    val band = l.projections(1)
    val sigAll = caches.pin(signaturesOfQ(batch, idCol, textCol, qCol, p))
    val (idBuckets, bandBuckets) = l.probePair(store, band, bandedOf(sigAll, p))
    // insert-only against the INDEXED id set (base ∪ delta); in-batch
    // duplicate ids fold to the (highest-quality, smallest-hash) row —
    // deterministic under any partitioning
    val batchSigs = caches.pin(
      sigAll
        .join(l.indexed(spark, store, idBuckets).select(col("id")), Seq("id"), "left_anti")
        .groupBy(col("id"))
        .agg(min_by(struct(col("sig"), col("n_sh"), col("q")),
          struct(-col("q"), xxhash64(col("sig")))).as("_w"))
        .select(col("id"), col("_w.sig").as("sig"),
          col("_w.n_sh").as("n_sh"), col("_w.q").as("q")))
    // candidates from the persisted banding tier (∪ the delta's in-plan
    // banding), pruned to the batch's cells; stored (sig, q) fetch-back
    // from the candidates' id-buckets
    val sb = caches.pin(bandedOf(batchSigs, p))
    val storedBand = caches.pin(l.projected(spark, store, band, bandBuckets))
    val hot = hotCells(sb, Seq("band", "bucket"), maxBucketSize)
      .union(hotCells(storedBand, Seq("band", "bucket"), maxBucketSize))
      .distinct()
    val coldB = sb.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
    val coldC = storedBand.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
    val cand = caches.pin(coldB.alias("a")
      .join(coldC.alias("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .filter(col("a.id") =!= col("b.id"))
      .select(col("a.id").as("batch_id"), col("b.id").as("stored_id"))
      .distinct())
    val storedSigs = l.indexed(spark, store,
      l.base.probe(store, cand.select(col("stored_id").as("id"))))
    val matches = caches.pin(cand
      .join(batchSigs.select(col("id").as("batch_id"), col("sig").as("_bs")),
        Seq("batch_id"))
      .join(storedSigs.select(col("id").as("stored_id"), col("sig").as("_ss"),
        col("q").as("_qs")), Seq("stored_id"))
      .filter((org.apache.spark.sql.graft.NativeFunctions
        .long_positions_equal(col("_bs"), col("_ss")).cast("double") / p.numHashes)
        >= threshold)
      .select(col("batch_id"), col("stored_id"), col("_qs")))
    // admit iff no match holds quality >= the arrival's
    val admitted = caches.pin(batchSigs
      .join(matches.groupBy(col("batch_id")).agg(max(col("_qs")).as("_best"))
        .withColumnRenamed("batch_id", "id"), Seq("id"), "left")
      .filter(col("_best").isNull || col("q") > col("_best"))
      .select(col("id"), col("sig"), col("n_sh"), col("q")))
    // an admitted arrival beat ALL its matches — they all retire
    val retired = caches.pin(matches
      .join(admitted.select(col("id").as("batch_id")), Seq("batch_id"),
        "left_semi")
      .select(col("stored_id").as("id")).distinct())
    val (admittedN, retiredN) = countAdmittedRetired(admitted, retired)
    commitDrain(spark, store, name, m, mv, admitted, admittedN,
      Some(retired).filter(_ => retiredN > 0L), retiredN, stamp)
    val keptIds = admitted.select(col("id").as("_adm_id"))
    val shingleable = batch
      .filter(size(hashedShingleSet(col(textCol), p.shingleN)) > 0)
    shingleable
      .join(broadcast(keptIds), shingleable(idCol) === col("_adm_id"), "left_semi")
      .unionByName(batch.filter(
        size(hashedShingleSet(col(textCol), p.shingleN)) <= 0))
  }
}
