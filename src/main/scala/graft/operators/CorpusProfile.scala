package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, APPENDABLE corpus profile — the sketch family as maintained
  * state, under the same CAS-versioned [[TableStore]] discipline as the
  * embedding indexes: build once over the corpus, then fold each arriving
  * batch into the committed sketches WITHOUT rescanning history, and
  * serve per-group statistics from state alone.
  *
  * What makes this safe is the sketches' CANONICITY, not luck:
  *
  *  - the KMV distinct sketch stores the k smallest distinct hashes per
  *    group; k-smallest-of(stored ∪ batch) = k-smallest-of(full corpus)
  *    because a hash dropped earlier was beaten by k still-stored smaller
  *    ones, so it can never re-enter any union's top-k;
  *  - the level sample stores (level, survivor hashes, values); for every
  *    L ≥ stored level the full corpus's survivor set at L equals
  *    filter(stored survivors ∪ batch, L) (masks nest), and the full
  *    corpus's canonical level can never be BELOW the stored level (its
  *    survivor counts only grow), so re-deriving the minimal fitting
  *    level over stored-∪-batch at offsets ≥ 0 reproduces the
  *    from-scratch sketch EXACTLY.
  *
  * The declared query (q105) proves the claim the strong way: build on
  * 90% of the corpus, append the other 10%, and the served profile must
  * hash-match a DuckDB oracle computed over the FULL corpus from scratch.
  *
  * == Atomicity: the profile manifest ==
  *
  * The tiers live in three member tables (kmv / lvl / cms), but their
  * VISIBILITY is governed by one more table: `<name>_manifest`, a 1-row
  * table holding the pinned version of each tier plus the admission
  * gate's `last_batch_id`. Every mutation commits its member-table
  * versions first (invisible until referenced) and then swaps the
  * manifest — the SINGLE commit point. Readers ([[profile]], [[freq]])
  * resolve the manifest and read the member tables AT the pinned
  * versions ([[TableStore.snapshotAt]]), so a writer that crashes after
  * a member commit but before the manifest swap leaves only orphan
  * versions no reader can observe; the next fold rolls the members back
  * to their pins ([[TableStore.rollbackTo]]) and re-derives. This is
  * what makes [[admitBatch]]'s exactly-once gate crash-safe: the sketch
  * advance and the `batchId` record are one atomic pointer swap, so a
  * redelivered micro-batch either sees the whole admission (and is
  * skipped) or none of it (and folds cleanly from the pinned state) —
  * never a half-admitted state it would double-fold into.
  *
  * Scale shape: build/append are the sketch aggregates themselves (one
  * exchange, ≤ k or ≤ b rows per group-partition); stored state is
  * ≤ (k + b)·groups rows; serving never touches the corpus; the manifest
  * is one row.
  */
object CorpusProfile {

  private def kmvTable(name: String) = s"${name}_kmv"
  private def lvlTable(name: String) = s"${name}_lvl"
  private def cmsTable(name: String) = s"${name}_cms"
  private def manifestTable(name: String) = s"${name}_manifest"

  private val HashSpace = 1099511627776.0 // 2^40

  /** Levels beyond this are degenerate for the 40-bit draw: only hv == 0
    * survives level 41, and the survivor set never changes again, so the
    * canonical minimal fitting level is either ≤ 41 or does not exist
    * (more than b rows share hash 0 — [[foldLevelState]] raises). */
  private val MaxLevel = 41

  private def draw(salt: String, c: Column): Column =
    conv(substring(md5(concat(lit(s"$salt:"), c.cast("string"))
      .cast("binary")), 1, 10), 16, 10).cast("long")

  // ---------------------------------------------------------------- manifest

  /** Pinned member-table versions + the admission gate. `None` = the tier
    * has not been built. */
  private[graft] final case class ProfileManifest(
      kmv: Option[Int], lvl: Option[Int], cms: Option[Int], lastBatchId: Long,
      // k the distinct tier was built with (-1 = pre-r14 manifest, unknown).
      // Persisted so sketch READERS ([[overlap]]) can validate their k
      // against it: a larger k would mistake a full k-sized sketch for the
      // exact sub-k arm and mis-estimate badly; a smaller k would truncate.
      buildK: Int = -1) extends IndexTier.Manifest {
    def fields: Seq[(String, Any)] = Seq("kmv_v" -> kmv.getOrElse(-1),
      "lvl_v" -> lvl.getOrElse(-1), "cms_v" -> cms.getOrElse(-1),
      "last_batch_id" -> lastBatchId, "build_k" -> buildK)
  }

  /** The manifest row and the manifest TABLE's version (the CAS anchor of
    * the commit that follows) — [[IndexTier.readManifest]]. The manifest
    * is a TableStore table whose versions hold ONE JSON file written by
    * the committing JVM instead of parquet, so an admission pays zero extra Spark jobs
    * for its gate, and serving resolves its pins without a scan job. */
  private[graft] def readManifest(
      store: TableStore, name: String): Option[(ProfileManifest, Int)] =
    IndexTier.readManifest(store, manifestTable(name), "manifest") { f =>
      ProfileManifest(f.pin("kmv_v"), f.pin("lvl_v"), f.pin("cms_v"),
        f.long("last_batch_id"), f.longOr("build_k", -1L).toInt)
    }

  private def requireManifest(store: TableStore, name: String): (ProfileManifest, Int) =
    readManifest(store, name).getOrElse(throw new IllegalStateException(
      s"profile $name has no manifest — build a tier first"))

  // -------------------------------------------------- admission concurrency

  /** Per-(store-root, profile) admission mutex — see [[OverlayLock]]:
    * the kmv and lvl member tables commit as two INDEPENDENT per-table
    * CAS swaps, so two in-process admitters racing the same profile can
    * split the wins — A takes the kmv CAS, B takes the lvl CAS — and
    * then BOTH lose their second commit and abort: the batch is admitted
    * by neither (the round-11 livelock, CorpusProfileSpec's
    * `Vector(conflict, conflict)`). Serializing in-process admitters
    * closes that schedule outright; the manifest CAS stays in force as
    * the cross-process backstop, where [[retryOnConflict]] turns a
    * split-win into a refold instead of an abort. Reentrant because a
    * stale build decision delegates build → append under the same lock. */
  private def withAdmissionLock[A](store: TableStore, name: String)(body: => A): A =
    OverlayLock.withLock(store, "profile", name)(body)

  /** Attempts per admission before a conflict is rethrown. Cross-process
    * races are rare (one streaming admitter per profile is the designed
    * deployment) and the streaming gate redelivers on failure, so a small
    * bound beats looping forever against a livelocking peer. */
  private val MaxAdmissionAttempts = 3

  /** Run one fold attempt, retrying on [[VersionConflictException]]: a
    * conflict means another admitter moved a member table or the manifest
    * under us. Re-read the manifest — if it shows `stamp` admitted, the
    * peer won and this is a skip (exactly-once holds); otherwise the next
    * attempt re-reads the pins, rolls back the split-win orphans, and
    * refolds from committed-visible state. */
  private def retryOnConflict(
      store: TableStore, name: String, stamp: Option[Long])(
      attempt: => Boolean): Boolean = {
    var n = 0
    while (true) {
      try return attempt
      catch {
        case e: VersionConflictException =>
          n += 1
          if (stamp.isDefined && readManifest(store, name)
              .exists(_._1.lastBatchId >= stamp.get)) return false
          if (n >= MaxAdmissionAttempts) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def pinnedRead(
      spark: SparkSession, store: TableStore, name: String,
      pin: Option[Int], table: String, what: String): DataFrame =
    store.snapshotAt(spark, table, pin.getOrElse(throw new IllegalStateException(
      s"profile $name has no $what tier — build it first")))

  // ------------------------------------------------------------ sketch rows

  /** KMV rows (group, hv) for a batch: k smallest distinct hashes. */
  private def kmvRows(
      df: DataFrame, groupCol: String, distinctCol: String, k: Int): DataFrame =
    df.filter(col(distinctCol).isNotNull)
      .select(col(groupCol).as("group"),
        draw("kmv", col(distinctCol)).as("_hv"))
      .groupBy(col("group"))
      .agg(org.apache.spark.sql.graft.TopKPairs
        .top_k_pairs_distinct(-col("_hv").cast("double"), col("_hv"), k).as("tk"))
      .select(col("group"), explode(col("tk.neighbor_id")).as("hv"))

  /** (group, hv, v) rows for the level tiers — NULL ids/values and NaN
    * values excluded, matching [[org.apache.spark.sql.graft.LevelSample]]'s
    * update skip (the append path folds these rows in SQL, so the filter
    * must live here too or append ≢ rebuild on NaN-bearing batches). */
  private def levelInputRows(
      df: DataFrame, groupCol: String, idCol: String, numCol: String): DataFrame =
    df.filter(col(idCol).isNotNull && col(numCol).isNotNull &&
        !isnan(col(numCol).cast("double")))
      .select(col(groupCol).as("group"), draw("kll", col(idCol)).as("hv"),
        col(numCol).cast("double").as("v"))

  /** Level-sample rows (group, level, hv, v) for a batch.
    *
    * Every group carries one LEVEL-TOMBSTONE row (hv/v NULL) beside its
    * survivors — prepended to the zipped arrays so it costs no second
    * aggregate pass. The tombstone is what keeps a group's LEVEL in
    * storage when its canonical survivor set is empty (count at L−1
    * overflowed b, count at L is zero): without it the group's state
    * vanished entirely, the next append refolded it from level 0, and
    * append diverged from a from-scratch build — the row encoding must
    * never lose information the sketch buffer holds. */
  private def lvlRows(
      df: DataFrame, groupCol: String, idCol: String, numCol: String,
      b: Int): DataFrame =
    levelInputRows(df, groupCol, idCol, numCol)
      .withColumnRenamed("hv", "_hv").withColumnRenamed("v", "_v")
      .groupBy(col("group"))
      .agg(org.apache.spark.sql.graft.LevelSample
        .level_sample(col("_hv"), col("_v"), b).as("ls"))
      .select(col("group"), col("ls.level").as("level"),
        explode(concat(
          array(struct(lit(null).cast("long").as("hv"),
            lit(null).cast("double").as("v"))),
          arrays_zip(col("ls.hashes").as("hv"), col("ls.values").as("v"))))
          .as("_e"))
      .select(col("group"), col("level"), col("_e.hv").as("hv"),
        col("_e.v").as("v"))

  /** Fold a batch into stored level-sample state, re-deriving the
    * canonical minimal fitting level over (stored survivors ∪ batch) —
    * the core of [[append]], factored out so its level arithmetic is
    * testable against the native aggregate with crafted hash values.
    *
    * `lvlStored` is (group, level, hv, v); `batch` is (group, hv, v);
    * output is the new (group, level, hv, v) state.
    *
    * The probe is bounded per row by the draw's trailing zeros: a row
    * survives `level + off` iff 2^(level+off) divides hv, i.e. iff
    * off ≤ tz(hv) − level, so exploding offsets only up to that bound
    * probes every level the row can appear at (expected ~2 rows out per
    * row in, vs the ×25 a fixed window costs). Levels are capped at
    * [[MaxLevel]]: the 40-bit draw means only hv == 0 survives beyond
    * it. Two cases the fixed window silently got wrong are handled
    * explicitly:
    *
    *  - no probed level fits b but the survivor set EMPTIES at
    *    maxOff + 1 (count 0 ≤ b): that is the canonical level — emit it
    *    (as the group's level tombstone with no survivor rows, exactly
    *    the state a from-scratch [[lvlRows]] produces) instead of
    *    dropping the group's state;
    *  - more than b rows share hv == 0, so NO level ever fits: raise an
    *    error naming the group instead of silently deleting its state —
    *    the operator must rebuild with a larger b.
    *
    * Output rows mirror [[lvlRows]]' encoding: one level-tombstone row
    * (hv/v NULL) per group plus the survivors — so a group whose sample
    * empties keeps its LEVEL across folds (a tombstone-only group with
    * no arriving rows carries straight through; one with arriving rows
    * refolds from its stored level, never from 0).
    */
  private[graft] def foldLevelState(
      lvlStored: DataFrame, batch: DataFrame, b: Int): DataFrame = {
    val storedLev = lvlStored.groupBy(col("group"))
      .agg(max(col("level")).as("_l0")) // level is constant per group
    val batchMasked = batch
      .join(broadcast(storedLev), Seq("group"), "left")
      .withColumn("_l0", coalesce(col("_l0"), lit(0)))
      // 2^l0 exact as a double->long (l0 <= 41); stored-mask survivors only
      .filter(pmod(col("hv"), pow(lit(2.0), col("_l0")).cast("long")) === 0)
      .select(col("group"), col("hv"), col("v"), col("_l0"))
    val unioned = lvlStored
      .filter(col("hv").isNotNull) // level tombstones carry no survivor
      .join(broadcast(storedLev), Seq("group"))
      .select(col("group"), col("hv"), col("v"), col("_l0"))
      .unionByName(batchMasked)
      // highest offset above _l0 this row survives: trailing zeros of the
      // draw (hv & -hv isolates the lowest set bit; log2 of a power of two
      // is double-exact); hv == 0 survives every probed level
      .withColumn("_tzr",
        when(col("hv") === 0, lit(MaxLevel) - col("_l0"))
          .otherwise(log2(col("hv").bitwiseAND(-col("hv"))).cast("int")
            - col("_l0")))
    val counted = unioned
      .select(col("group"), col("_l0"),
        explode(sequence(lit(0), col("_tzr"))).as("_off"))
      .groupBy(col("group"), col("_l0"), col("_off"))
      .agg(count(lit(1)).as("_c"))
    val chosen = counted
      .groupBy(col("group"), col("_l0"))
      .agg(min(when(col("_c") <= b, col("_off"))).as("_fit"),
        max(col("_off")).as("_maxOff"))
      .select(col("group"), col("_l0"),
        when(col("_fit").isNull && (col("_l0") + col("_maxOff") >= MaxLevel),
          raise_error(concat(
            lit(s"level sample cannot fit b=$b within $MaxLevel levels for group "),
            col("group").cast("string"),
            lit(" — more than b rows share hash 0; rebuild with a larger b")))
            .cast("int"))
          // count at _maxOff + 1 is zero (no row survives past its tz
          // bound), which fits b: the canonical level when nothing else does
          .otherwise(coalesce(col("_fit"), col("_maxOff") + 1)).as("_off"))
    // groups present only as a tombstone (empty stored sample, no
    // arriving rows) have no counted rows: their state carries through
    // unchanged (zero survivors at the stored level still fit b)
    val chosenDistributed = chosen.unionByName(
      storedLev.join(chosen, Seq("group"), "left_anti")
        .select(col("group"), col("_l0"), lit(0).as("_off")))
    // ONE row per group — materialized once on the driver (bounded
    // control-plane, like every centroid/codebook collect in the repo)
    // so the three consumers below don't re-run the probe aggregation
    // pipeline each, and the unfittable-group raise_error above fires
    // HERE, before any member-table write
    val spark = lvlStored.sparkSession
    val chosenFull = spark.createDataFrame(
      java.util.Arrays.asList(chosenDistributed.collect(): _*),
      chosenDistributed.schema)
    val markers = chosenFull.select(col("group"),
      (col("_l0") + col("_off")).cast("int").as("level"),
      lit(null).cast("long").as("hv"), lit(null).cast("double").as("v"))
    val survivors = unioned
      .join(broadcast(chosenFull.select(col("group"), col("_off"))), Seq("group"))
      .filter(col("_tzr") >= col("_off"))
      .select(col("group"), (col("_l0") + col("_off")).cast("int").as("level"),
        col("hv"), col("v"))
    markers.unionByName(survivors)
  }

  // ------------------------------------------------------------- build/append

  /** Build the distinct + quantile tiers over `df` and commit: member
    * tables first, then the manifest swap (preserving any frequency-tier
    * pin and the admission gate already recorded). */
  def build(
      df: DataFrame,
      groupCol: String,
      distinctCol: String,
      idCol: String,
      numCol: String,
      k: Int,
      b: Int,
      store: TableStore,
      name: String): Unit =
    buildStamped(df, groupCol, distinctCol, idCol, numCol, k, b, store, name, None)

  /** @return false iff `stamp` was already admitted (checked against the
    *         SAME manifest read the commit CASes on — a failover
    *         admitter that lands the batch between our gate check and
    *         here must be detected, not folded over). */
  private[graft] def buildStamped(
      df: DataFrame, groupCol: String, distinctCol: String, idCol: String,
      numCol: String, k: Int, b: Int, store: TableStore, name: String,
      stamp: Option[Long]): Boolean = withAdmissionLock(store, name) {
    val spark = df.sparkSession
    retryOnConflict(store, name, stamp) {
      val prev = readManifest(store, name)
      val base = prev.map(_._1).getOrElse(ProfileManifest(None, None, None, -1L))
      if (stamp.exists(_ <= base.lastBatchId)) false
      else if (stamp.isDefined && base.kmv.isDefined)
        // the caller's build-vs-append decision was made from a STALE read:
        // a concurrent admitter built the first tiers since. Building here
        // would overwrite (and silently discard) that admitted data — fold
        // this batch on top instead (append fails actionably if the pin
        // has no backing files).
        appendStamped(spark, df, groupCol, distinctCol, idCol, numCol, k, b,
          store, name, stamp)
      else {
        // a crashed writer can have left orphan successors ABOVE the pins;
        // writing on top of them would let the commit's prune discard the
        // still-pinned versions under live readers — roll back first
        base.kmv.foreach(OverlayLock.rollbackIfAhead(store, kmvTable(name), _))
        base.lvl.foreach(OverlayLock.rollbackIfAhead(store, lvlTable(name), _))
        val Seq(kv, lv) = OverlayLock.inParallel(Seq(
          () => store.write(kmvRows(df, groupCol, distinctCol, k), kmvTable(name)),
          () => store.write(lvlRows(df, groupCol, idCol, numCol, b), lvlTable(name))))
          .map(_.asInstanceOf[Int])
        IndexTier.commitManifest(store, manifestTable(name),
          base.copy(kmv = Some(kv), lvl = Some(lv),
            lastBatchId = stamp.getOrElse(base.lastBatchId), buildK = k),
          prev.map(_._2))
        true
      }
    }
  }

  /** Fold a batch into the committed profile — no rescan of history. The
    * fold derives from the MANIFEST-pinned versions (rolling back any
    * orphan successors a crashed writer left), commits the merged member
    * tables, and swaps the manifest as the single commit point. */
  def append(
      spark: SparkSession,
      batch: DataFrame,
      groupCol: String,
      distinctCol: String,
      idCol: String,
      numCol: String,
      k: Int,
      b: Int,
      store: TableStore,
      name: String): Unit =
    appendStamped(spark, batch, groupCol, distinctCol, idCol, numCol, k, b,
      store, name, None)

  /** @return false iff `stamp` was already admitted — checked against
    *         the SAME manifest read the commit CASes on, so a failover
    *         admitter that landed the batch after our caller's gate
    *         check (but before this read) is seen and skipped. In-process
    *         admitters serialize on the per-profile admission lock
    *         (exactly one folds, the rest skip); a CROSS-process peer
    *         moving a member table or the manifest mid-flight surfaces as
    *         [[VersionConflictException]], which the retry loop resolves
    *         by re-reading the manifest — skip when the peer admitted
    *         this stamp, refold from the fresh pins otherwise. Never
    *         double-folds; a conflict escapes only after
    *         [[MaxAdmissionAttempts]] straight losses. */
  private[graft] def appendStamped(
      spark: SparkSession, batch: DataFrame, groupCol: String,
      distinctCol: String, idCol: String, numCol: String, k: Int, b: Int,
      store: TableStore, name: String, stamp: Option[Long]): Boolean =
    withAdmissionLock(store, name) {
      retryOnConflict(store, name, stamp) {
        appendAttempt(spark, batch, groupCol, distinctCol, idCol, numCol,
          k, b, store, name, stamp)
      }
    }

  /** One fold attempt: derive from the manifest-pinned versions, commit
    * the merged members, swap the manifest. Throws
    * [[VersionConflictException]] when a peer moved a member table or the
    * manifest mid-flight — [[appendStamped]]'s retry loop re-reads and
    * refolds (or skips, when the peer admitted this very stamp). */
  private def appendAttempt(
      spark: SparkSession, batch: DataFrame, groupCol: String,
      distinctCol: String, idCol: String, numCol: String, k: Int, b: Int,
      store: TableStore, name: String, stamp: Option[Long]): Boolean = {
    val (m, mv) = requireManifest(store, name)
    if (stamp.exists(_ <= m.lastBatchId)) return false
    require(m.buildK < 0 || m.buildK == k,
      s"profile $name was built with k=${m.buildK}; folding a batch at k=$k " +
        "would merge incompatible sketches — pass the build k")
    val kmvPin = m.kmv.getOrElse(throw new IllegalStateException(
      s"profile $name has no distinct tier — build it first"))
    val lvlPin = m.lvl.getOrElse(throw new IllegalStateException(
      s"profile $name has no quantile tier — build it first"))
    // a pin with no backing files is the residual zombie-crash state
    // (admitBatch scaladoc): append cannot derive from it — fail with
    // the repair action instead of wedging on an opaque read error
    Seq(kmvTable(name) -> kmvPin, lvlTable(name) -> lvlPin).foreach {
      case (t, p) =>
        if (!store.hasVersion(t, p))
          throw new IllegalStateException(
            s"profile $name pins $t v$p but its files are gone — crashed " +
              "racing admitters left an unrepaired state; run " +
              "CorpusProfile.rebuild over the retained corpus to repair")
    }
    // recovery: discard orphan successor versions (a previous writer
    // crashed after a member commit, before its manifest swap)
    OverlayLock.rollbackIfAhead(store, kmvTable(name), kmvPin)
    OverlayLock.rollbackIfAhead(store, lvlTable(name), lvlPin)

    // KMV: stored hashes re-enter the same dedup top-k beside the batch's
    val kmvStored = store.snapshotAt(spark, kmvTable(name), kmvPin)
    val kmvMerged = kmvStored
      .unionByName(batch.filter(col(distinctCol).isNotNull)
        .select(col(groupCol).as("group"), draw("kmv", col(distinctCol)).as("hv")))
      .groupBy(col("group"))
      .agg(org.apache.spark.sql.graft.TopKPairs
        .top_k_pairs_distinct(-col("hv").cast("double"), col("hv"), k).as("tk"))
      .select(col("group"), explode(col("tk.neighbor_id")).as("hv"))

    // the two member commits touch independent tables (separate staging
    // dirs, separate locks), so they run concurrently: the kmv write
    // overlaps the level fold's canonical-level probe — foldLevelState
    // runs a driver-side collect job BEFORE its member write can even be
    // submitted, and serializing probe → paired-writes stacked that full
    // job latency onto every drain (§2.6: overlap independent jobs).
    // Per-batch wall time is max(kmv write, probe + lvl write), and no
    // commit is still in flight when the caller acts on a failure
    // ([[OverlayLock.inParallel]] waits for both).
    val Seq(kv, lv) = OverlayLock.inParallel(Seq(
      () => store.write(kmvMerged, kmvTable(name), Some(kmvPin)),
      // level sample: re-derive the canonical minimal level over
      // (stored survivors ∪ batch) — correctness argument in the scaladoc
      () => store.write(
        foldLevelState(store.snapshotAt(spark, lvlTable(name), lvlPin),
          levelInputRows(batch, groupCol, idCol, numCol), b),
        lvlTable(name), Some(lvlPin)))).map(_.asInstanceOf[Int])

    IndexTier.commitManifest(store, manifestTable(name),
      m.copy(kmv = Some(kv), lvl = Some(lv),
        lastBatchId = stamp.getOrElse(m.lastBatchId), buildK = k),
      Some(mv))
    true
  }

  /** Takedown path for the NON-subtractive tiers: the KMV and level
    * sketches cannot remove ids (a hash dropped below the retained k / a
    * pruned survivor cannot be recovered), so an id takedown there means
    * rebuilding over the retained corpus — this operator is that rebuild
    * as one atomic step. Fresh distinct + quantile tiers are computed
    * from `retained`, committed as member versions, and ONE manifest
    * swap repoints both pins while PRESERVING the frequency-tier pin and
    * the admission gate's `last_batch_id` (already-admitted batch ids
    * stay admitted, so a live [[admitStream]] resumes cleanly against
    * the rebuilt state). Compose with [[removeFreq]] for the frequency
    * tier, whose cell sums support exact subtraction instead.
    *
    * Postcondition (spec-verified): rebuild over `retained` ≡ a
    * from-scratch [[build]] over the same rows, bit-for-bit. */
  def rebuild(
      retained: DataFrame,
      groupCol: String,
      distinctCol: String,
      idCol: String,
      numCol: String,
      k: Int,
      b: Int,
      store: TableStore,
      name: String): Unit = {
    requireManifest(store, name)
    buildStamped(retained, groupCol, distinctCol, idCol, numCol, k, b,
      store, name, None)
  }

  // ---------------------------------------------------------------- admission

  /** Exactly-once micro-batch admission: fold `batch` into the profile
    * unless this `batchId` was already admitted — the gate a
    * `foreachBatch` sink needs, because Structured Streaming redelivers
    * the in-flight batch after a failure and [[append]] is
    * (deliberately) not replay-idempotent: a duplicated row would enter
    * the level sample twice, exactly as it would in a from-scratch build
    * over a doubled corpus.
    *
    * The gate rides IN the profile manifest: the fold's member-table
    * commits are invisible until the manifest swap, and that same swap
    * records `batchId` — sketch advance and gate advance are ONE atomic
    * pointer swap. A crash anywhere before the swap leaves only orphan
    * member versions; the redelivered batch sees the old `last_batch_id`,
    * rolls the members back to their pins, and folds exactly once. A
    * crash after the swap leaves the batch recorded; redelivery is
    * skipped. There is no window in which the sketches advanced but the
    * gate did not (the round-9/10 verdict's double-fold defect).
    *
    * Concurrent (zombie) admitters of the SAME batchId admit it exactly
    * once. In-process, admitters serialize on the per-profile admission
    * lock: the first folds, later ones re-read the manifest under the
    * lock and skip — no schedule exists where both abort (the round-11
    * split-win livelock: two admitters each winning one member-table CAS
    * and losing the other). Cross-process, the manifest CAS is the
    * backstop: a fold that loses a member or manifest CAS re-reads the
    * manifest and either skips (the peer admitted this stamp) or rolls
    * the members back and refolds — because racing admitters derive
    * IDENTICAL member content (same pins, same deterministic batch),
    * every interleaving leaves correct pinned data. The one residual
    * hazard — zombie A discards zombie B's in-flight member commit via
    * orphan rollback, B's manifest swap still wins, and A then dies
    * before re-writing — can leave a pin with no backing files, which
    * [[rebuild]] repairs (its rollback guard tolerates a missing pinned
    * version and its fresh write + swap re-point the manifest).
    *
    * First admitted batch BUILDS the profile's distinct + quantile
    * tiers; later ones APPEND. Returns true when the batch was folded,
    * false when skipped as a replay. */
  def admitBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      groupCol: String,
      distinctCol: String,
      idCol: String,
      numCol: String,
      k: Int,
      b: Int,
      store: TableStore,
      name: String): Boolean = {
    val prev = readManifest(store, name)
    val last = prev.map(_._1.lastBatchId).getOrElse(-1L)
    if (batchId <= last) false
    else if (prev.exists(_._1.kmv.isDefined))
      appendStamped(spark, batch, groupCol, distinctCol, idCol, numCol,
        k, b, store, name, Some(batchId))
    else
      buildStamped(batch, groupCol, distinctCol, idCol, numCol, k, b,
        store, name, Some(batchId))
  }

  /** Streaming admission: every micro-batch of `stream` is folded into
    * the committed profile through the [[admitBatch]] gate — the profile
    * as a live sink. `availableNow = true` (default) drains what is
    * queued and stops (a bounded stage); `false` leaves the query
    * running continuously against a live feed. */
  def admitStream(
      stream: DataFrame,
      groupCol: String,
      distinctCol: String,
      idCol: String,
      numCol: String,
      k: Int,
      b: Int,
      store: TableStore,
      name: String,
      checkpoint: String,
      availableNow: Boolean = true): org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        DrainConf.withDrainConf(batch.sparkSession) {
          admitBatch(batch.sparkSession, batch, batchId,
            groupCol, distinctCol, idCol, numCol, k, b, store, name)
        }
        ()
      }
    (if (availableNow)
      writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    else writer).start()
  }

  // ------------------------------------------------------------ frequency tier

  /** Build the FREQUENCY tier: CMS cells over `valueCol` (typically an
    * exploded token stream), committed beside the other sketches under
    * the same manifest. Cells are per-(group, row, bucket) SUMS, so the
    * append below is cell-wise addition — the one sketch in the family
    * whose merge needs no argument at all. */
  def buildFreq(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      depth: Int,
      width: Int,
      store: TableStore,
      name: String): Unit = withAdmissionLock(store, name) {
    // same lock + retry as the distinct/quantile path: the manifest is
    // shared across tiers, so a concurrent admitBatch swapping it would
    // otherwise conflict this commit's CAS
    retryOnConflict(store, name, None) {
      val prev = readManifest(store, name)
      val base = prev.map(_._1).getOrElse(ProfileManifest(None, None, None, -1L))
      // see buildStamped: orphan successors above the pin must go first,
      // or this commit's prune discards the still-pinned version
      base.cms.foreach(OverlayLock.rollbackIfAhead(store, cmsTable(name), _))
      val cv = store.write(
        Sketches.cmsCells(df.select(col(groupCol).as("group"),
          col(valueCol).as("v")), Seq("group"), "v", depth, width, "cms"),
        cmsTable(name))
      IndexTier.commitManifest(store, manifestTable(name),
        base.copy(cms = Some(cv)), prev.map(_._2))
      true
    }
    ()
  }

  /** Fold a batch's cells into the committed frequency tier (manifest
    * swap as the commit point, like [[append]]). */
  def appendFreq(
      spark: SparkSession,
      batch: DataFrame,
      groupCol: String,
      valueCol: String,
      depth: Int,
      width: Int,
      store: TableStore,
      name: String): Unit = withAdmissionLock(store, name) {
    retryOnConflict(store, name, None) {
      val (m, mv) = requireManifest(store, name)
      val pin = m.cms.getOrElse(throw new IllegalStateException(
        s"profile $name has no frequency tier — build it first"))
      OverlayLock.rollbackIfAhead(store, cmsTable(name), pin)
      val stored = store.snapshotAt(spark, cmsTable(name), pin)
      val merged = stored
        .unionByName(Sketches.cmsCells(batch.select(col(groupCol).as("group"),
          col(valueCol).as("v")), Seq("group"), "v", depth, width, "cms"))
        .groupBy(col("group"), col("_r"), col("_b"))
        .agg(sum(col("_c")).as("_c"))
      val cv = store.write(merged, cmsTable(name), Some(pin))
      IndexTier.commitManifest(store, manifestTable(name), m.copy(cms = Some(cv)), Some(mv))
      true
    }
    ()
  }

  /** Takedown for the FREQUENCY tier: subtract a removed batch's cells
    * from the committed state — CMS counts are sums, so removal is exact
    * (cell-wise subtraction) PROVIDED the removed rows were genuinely in
    * the admitted corpus; counts are clamped at zero so a bad takedown
    * list degrades to an under-estimate rather than corrupting the
    * sketch. This is the one sketch in the profile that supports
    * removal; for the KMV and level-sample tiers id takedowns go through
    * [[rebuild]] over the retained corpus — the same honesty
    * [[IvfIndex.remove]] states for its model: cheap where the math
    * allows it, a rebuild where it doesn't. */
  def removeFreq(
      spark: SparkSession,
      removed: DataFrame,
      groupCol: String,
      valueCol: String,
      depth: Int,
      width: Int,
      store: TableStore,
      name: String): Unit = withAdmissionLock(store, name) {
    retryOnConflict(store, name, None) {
      val (m, mv) = requireManifest(store, name)
      val pin = m.cms.getOrElse(throw new IllegalStateException(
        s"profile $name has no frequency tier — build it first"))
      OverlayLock.rollbackIfAhead(store, cmsTable(name), pin)
      val stored = store.snapshotAt(spark, cmsTable(name), pin)
      val negated = Sketches.cmsCells(removed.select(col(groupCol).as("group"),
          col(valueCol).as("v")), Seq("group"), "v", depth, width, "cms")
        .withColumn("_c", -col("_c"))
      val merged = stored.unionByName(negated)
        .groupBy(col("group"), col("_r"), col("_b"))
        .agg(greatest(sum(col("_c")), lit(0L)).as("_c"))
        .filter(col("_c") > 0)
      val cv = store.write(merged, cmsTable(name), Some(pin))
      IndexTier.commitManifest(store, manifestTable(name), m.copy(cms = Some(cv)), Some(mv))
      true
    }
    ()
  }

  /** Serve frequency estimates for `queries` from the committed cells
    * (manifest-pinned read). */
  def freq(
      spark: SparkSession,
      store: TableStore,
      name: String,
      queries: Seq[String],
      depth: Int,
      width: Int): DataFrame = {
    val (m, _) = requireManifest(store, name)
    Sketches.cmsEstimates(
      pinnedRead(spark, store, name, m.cms, cmsTable(name), "frequency"),
      Seq("group"), queries, depth, width, "cms")
  }

  // ------------------------------------------------------------------ serving

  /** Serve the per-group profile from state alone: (group, n_sketch,
    * est_distinct, level, n_retained, p<q>...) — the same estimator
    * arithmetic as the ad-hoc q93/q98 queries, so a full-corpus oracle
    * replays it. Reads are manifest-pinned. */
  def profile(
      spark: SparkSession,
      store: TableStore,
      name: String,
      k: Int,
      qs: Seq[Double]): DataFrame = {
    val (m, _) = requireManifest(store, name)
    val kmv = pinnedRead(spark, store, name, m.kmv, kmvTable(name), "distinct")
      .groupBy(col("group"))
      .agg(count(lit(1)).cast("int").as("n_sketch"), max(col("hv")).as("_kth"))
      .select(col("group"), col("n_sketch"),
        round(when(col("n_sketch") < k, col("n_sketch").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(HashSpace) /
            greatest(col("_kth"), lit(1L)).cast("double")), 4).as("est_distinct"))
    val lvlBase = pinnedRead(spark, store, name, m.lvl, lvlTable(name), "quantile")
      // collect_list skips the NULL the tombstone guard produces, so a
      // group's level tombstone never enters its sample; a group whose
      // canonical sample is EMPTY (tombstone only) has no order
      // statistics to serve and is dropped — exactly the inner-join drop
      // the full-corpus oracle performs on its empty `samp` CTE
      .groupBy(col("group"))
      .agg(max(col("level")).as("level"),
        sort_array(collect_list(when(col("hv").isNotNull,
          struct(col("v"), col("hv"))))).as("_s"))
      .select(col("group"), col("level"),
        col("_s.v").as("_vs"), size(col("_s")).as("n_retained"))
      .filter(col("n_retained") > 0)
    val qCols = qs.map { q =>
      val m2 = col("n_retained").cast("long")
      val p = math.round(q * 10000).toInt
      val idx = floor((lit(p.toLong) * m2 + lit(9999L)) / lit(10000.0)).cast("int")
      round(element_at(col("_vs"), greatest(idx, lit(1))), 6)
        .as("p" + BigDecimal(q * 100).underlying.stripTrailingZeros
          .toPlainString.replace(".", "_"))
    }
    kmv.join(lvlBase, Seq("group"))
      .select(Seq(col("group"), col("n_sketch"), col("est_distinct"),
        col("level"), col("n_retained")) ++ qCols: _*)
  }

  /** Pairwise corpus overlap served from COMMITTED profile state —
    * [[Sketches.kmvOverlap]]'s estimator (SAME code object, so the ad-hoc
    * and served paths cannot drift) over the persisted kmv member rows:
    * zero corpus scan, the synopses are already on disk and canonical, so
    * the served estimates are bit-identical to a from-scratch
    * [[Sketches.kmvOverlap]] over everything ever admitted — the
    * q105/q106 serve-vs-scratch argument applied to a PAIRWISE statistic.
    * `k` must be the profile's build k (the sketch rows carry ≤ k hashes
    * per group; a larger k here would mistake a full sketch for the exact
    * arm) — VALIDATED against the manifest's persisted `build_k`, not
    * taken on trust. Reads ride the same pinned manifest as [[profile]]. */
  def overlap(
      spark: SparkSession,
      store: TableStore,
      name: String,
      k: Int): DataFrame =
    Sketches.overlapFromSynopses(kmvSynopses(spark, store, name, k, tag = ""), k)

  /** One profile's committed kmv member as estimator-ready synopsis rows
    * `(_g, _sk ascending)`, groups optionally `tag`-prefixed (the
    * cross-store disambiguator — without it, a group name common to two
    * stores would union into ONE synopsis and estimate the merged corpus
    * instead of comparing the two). */
  private def kmvSynopses(
      spark: SparkSession, store: TableStore, name: String, k: Int,
      tag: String): DataFrame = {
    val (m, _) = requireManifest(store, name)
    require(m.buildK < 0 || m.buildK == k,
      s"profile $name was built with k=${m.buildK}, not k=$k — a mismatched " +
        "k flips full sketches into the exact sub-k arm and mis-estimates")
    val g = if (tag.isEmpty) col("group")
      else concat(lit(tag), col("group").cast("string"))
    pinnedRead(spark, store, name, m.kmv, kmvTable(name), "distinct")
      .groupBy(col("group"))
      .agg(sort_array(collect_list(col("hv"))).as("_sk"))
      .select(g.as("_g"), col("_sk"))
  }

  /** CROSS-STORE pairwise overlap: profile A's groups vs profile B's —
    * the "how much of crawl B's vocabulary is already in crawl A" audit
    * across two INDEPENDENTLY maintained profiles, with zero corpus
    * scan on either side. Both stores' pinned kmv members union into one
    * synopsis frame (groups tag-prefixed so same-named groups stay
    * distinct) and flow through the SAME estimator object as
    * [[Sketches.kmvOverlap]] and the one-store [[overlap]] — so two
    * profiles built over disjoint corpora estimate exactly what an
    * ad-hoc [[Sketches.kmvOverlap]] over the concatenated corpora would
    * (KMV sketches are canonical: same rows in, same synopsis out,
    * regardless of which store folded them — spec-verified). Both
    * profiles must share the build `k`; corpus-size-independent by
    * construction (two ≤ groups×k synopsis tables, one broadcast
    * pairing). */
  def overlapStores(
      spark: SparkSession,
      storeA: TableStore, nameA: String,
      storeB: TableStore, nameB: String,
      k: Int,
      tagA: String = "a:",
      tagB: String = "b:"): DataFrame = {
    require(tagA != tagB, "the two store tags must differ")
    Sketches.overlapFromSynopses(
      kmvSynopses(spark, storeA, nameA, k, tagA)
        .unionByName(kmvSynopses(spark, storeB, nameB, k, tagB)), k)
  }
}
