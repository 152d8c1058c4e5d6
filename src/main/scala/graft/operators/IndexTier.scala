package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The control plane every persisted index family shares
  * ([[SignatureIndex]], [[PerceptualIndex]], [[FrameIndex]],
  * [[PostingsIndex]], [[IvfIndex]] and [[CorpusProfile]]): member tables
  * pinned by one manifest, read bucket-pruned. Four decisions live here
  * and nowhere else.
  *
  *  - THE BUCKET-PRUNED TIER READ. A member tier pinned at version N is
  *    probed and pruned with the bucket layout version N was WRITTEN with
  *    ([[TableStore.bucketSpecAt]]), never the table's current layout — a
  *    reader racing a rebucket (or a rollback across one) still opens
  *    every bucket its keys live in. A version written as a legacy plain
  *    layout has no `_bucket` to prune on and serves the full pinned read
  *    (pruning is an optimization, so the full read is result-identical).
  *    A small delta member (the LSM memtable) joins the pruned base
  *    filtered by the same bucket rule, so readers see exactly the rows a
  *    fold-merged tier would hold in the touched buckets.
  *  - THE MANIFEST FORMAT. A manifest is an ordered flat key→value JSON
  *    object of numbers, one `manifest.json` per version of the family's
  *    manifest table, committed with the table store's CAS. A pin is a
  *    version number, -1 for an absent tier; an absent key decodes to the
  *    field's default (`None` for a pin), so a manifest written before a
  *    tier existed stays readable.
  *  - THE LSM MEMBER SET of the signature families ([[SignatureIndex]],
  *    [[PerceptualIndex]], [[FrameIndex]]): a bucketed base tier,
  *    bucketed projection tiers derived from it, a plain `_delta`
  *    memtable and an `_rm` tombstone member. A family describes its set
  *    once as an [[Lsm]]; how that set is served (base ∪ delta ∖
  *    tombstones, whole or pruned), how a drain commits into it and how
  *    a fold or takedown rewrites it are the [[Lsm]]'s.
  *  - THE REVISION-OVERLAY MEMBER SET of the upsert families
  *    ([[IvfIndex]], [[PostingsIndex]]): each base member has an `_ovl`
  *    member whose keys shadow it at read time. A family describes its
  *    set once as an [[Overlay]]; the served read, the insert-only
  *    overlay screen, the upsert commit and the takedown are the
  *    [[Overlay]]'s, and so is its ONE compaction rule: a fold writes
  *    each member's served view (minus and plus the folding batch, if
  *    any), grows bucketed layouts past the per-bucket byte target and
  *    clears the overlays; compaction is the fold with no batch, keeping
  *    at its pin any member whose overlay is empty.
  */
private[graft] object IndexTier {

  // --------------------------------------------------------- bucket layouts

  /** `n` buckets hashed on `keys`, rows sorted by them within each bucket
    * — the layout every index tier uses. */
  def keyed(n: Int, keys: String*): BucketSpec = BucketSpec(n, keys, sortCols = keys)

  /** The layout a REWRITE of `table` keeps: the recorded one, or the
    * family default `keyed(n, keys)` for a legacy plain tier the rewrite
    * upgrades. */
  def layout(store: TableStore, table: String, n: Int, keys: String*): BucketSpec =
    store.bucketSpec(table).getOrElse(keyed(n, keys: _*))

  // ------------------------------------------------------------ bucket probes

  /** The buckets `keys` hash into under `table`'s layout at `pin` — a
    * bounded collect, at most nBuckets distinct values. Empty, with no
    * job, for a plain layout (whose read ignores the list). */
  def touchedBuckets(
      store: TableStore, table: String, pin: Int, keys: DataFrame): Seq[Int] =
    probe(Seq(store.bucketSpecAt(table, pin)), keys).head

  /** BOTH tiers' touched buckets from ONE narrow job over `rows`, which
    * exposes the key columns of both layouts — two probes of a drain
    * fused, one job round-trip saved per micro-batch. Probing from a
    * superset of the keys a read needs is safe: extra buckets read whole
    * extra cells, which pair with nothing. */
  def touchedBucketsPair(
      store: TableStore, a: (String, Int), b: (String, Int),
      rows: DataFrame): (Seq[Int], Seq[Int]) = {
    val Seq(ta, tb) = probe(
      Seq(store.bucketSpecAt(a._1, a._2), store.bucketSpecAt(b._1, b._2)), rows)
    (ta, tb)
  }

  /** ONE narrow job: per-partition dedup via `mapPartitions` + a union of
    * the collected sets instead of `distinct().collect()` — the distinct's
    * exchange would cost two extra stage launches per probe, and each
    * partition contributes at most nBuckets ints per layout, so the
    * collected merge is bounded at any batch size. A plain layout rides a
    * constant column. */
  private def probe(specs: Seq[Option[BucketSpec]], rows: DataFrame): Seq[Seq[Int]] =
    if (specs.forall(_.isEmpty)) specs.map(_ => Nil)
    else {
      val n = specs.size
      val parts = rows
        .select(specs.zipWithIndex.map { case (s, i) =>
          s.map(_.bucketColumn).getOrElse(lit(0)).as(s"_b$i")
        }: _*)
        .queryExecution.toRdd.mapPartitions { it =>
          val sets = Array.fill(n)(new scala.collection.mutable.HashSet[Int])
          it.foreach(r => (0 until n).foreach(i => sets(i).add(r.getInt(i))))
          Iterator.single(sets.map(_.toArray))
        }.collect()
      specs.indices.map(i =>
        if (specs(i).isEmpty) Nil else parts.flatMap(_(i)).distinct.toSeq)
    }

  /** ONE narrow count (per-partition sizes, collected and summed — no
    * aggregation exchange); also materializes the frame's cache pin. */
  def narrowCount(df: DataFrame): Long =
    df.select(lit(1).as("_one")).queryExecution.toRdd
      .mapPartitions { it =>
        var n = 0L; while (it.hasNext) { it.next(); n += 1 }
        Iterator.single(n)
      }.collect().sum

  // ------------------------------------------------------------ pruned reads

  /** `table` at `pin` PRUNED to the `touched` buckets: `_bucket isin(...)`
    * prunes at the directory level, so unread buckets are never opened
    * and the bytes read are ∝ the batch's probe keys, never the corpus
    * ([[graft.PrunedScreenSpec]] measures it). */
  def prunedAt(
      spark: SparkSession, store: TableStore, table: String, pin: Int,
      touched: Seq[Int]): DataFrame =
    prunedWithDelta(spark, store, table, pin, touched, None, identity)

  /** [[prunedAt]] INCLUDING a delta member's contribution: `fromDelta`
    * derives the tier's projection IN-PLAN from the small `delta` frame,
    * filtered by the exact bucket rule the directory pruning applied
    * (hot-cell exactness included: a cell's base and delta rows share one
    * bucket id). No extra job: the delta is a one-to-few-file scan inside
    * the same plan. A plain layout at `pin` serves the FULL pinned read ∪
    * the unfiltered delta projection. */
  def prunedWithDelta(
      spark: SparkSession, store: TableStore, table: String, pin: Int,
      touched: Seq[Int], delta: Option[DataFrame],
      fromDelta: DataFrame => DataFrame): DataFrame = {
    val spec = store.bucketSpecAt(table, pin)
    val base = spec match {
      case None => store.snapshotAt(spark, table, pin)
      case Some(_) =>
        inBuckets(store.snapshotRawAt(spark, table, pin), col("_bucket"), touched)
          .drop("_bucket")
    }
    delta.map(fromDelta) match {
      case None => base
      case Some(d) =>
        base.unionByName(spec.map(s => inBuckets(d, s.bucketColumn, touched)).getOrElse(d))
    }
  }

  private def inBuckets(df: DataFrame, bucket: Column, touched: Seq[Int]): DataFrame =
    if (touched.isEmpty) df.filter(lit(false))
    else df.filter(bucket.isin(touched.map(Integer.valueOf): _*))

  /** The delta member's full (small) frame, when one is pinned. */
  def deltaFrame(
      spark: SparkSession, store: TableStore, table: String,
      pin: Option[Int]): Option[DataFrame] =
    pin.map(store.snapshotAt(spark, table, _))

  /** The broadcast tombstone-id subtraction every served read applies: the
    * tiers keep retired ids' rows until the amortized fold, and readers
    * must see exactly what a served-view projection would hold (hot-cell
    * counts included — a cell's rows all live in one bucket, so a
    * bucket-pruned read sees every cell it reads EXACTLY). */
  private def minusRm(
      spark: SparkSession, store: TableStore, rmTable: String,
      pin: Option[Int])(df: DataFrame): DataFrame =
    pin match {
      case None => df
      case Some(p) => df.join(broadcast(
          store.snapshotAt(spark, rmTable, p).select(col("id"))),
        Seq("id"), "left_anti")
    }

  // ------------------------------------------------------------ chunk banding

  /** The chunk columns of the 64-bit-signature pigeonhole
    * ([[Dedup.hammingBandedPairs]], [[Dedup.videoContainmentAgainst]]):
    * `maxHamming + 1` chunks of `sig`, so two signatures within the budget
    * agree on at least one chunk — the SAME bit slicing as the ad-hoc
    * screens, so pruned candidates equal theirs. */
  def chunkCols(maxHamming: Int): Seq[Column] = {
    val chunks = maxHamming + 1
    val bitsPer = 64 / chunks
    (0 until chunks).map(c =>
      shiftrightunsigned(col("sig"), c * bitsPer).bitwiseAND(lit((1L << bitsPer) - 1)))
  }

  /** The banding projection `(…, chunk, value)` of a frame with a `sig`
    * column — one row per (input row, chunk). */
  def bandedOf(rows: DataFrame, maxHamming: Int): DataFrame =
    rows.select(col("*"),
      posexplode(array(chunkCols(maxHamming): _*)).as(Seq("chunk", "value")))

  // ------------------------------------------------------------ delta commits

  /** The amortized-fold policy of every overlay, delta and tombstone
    * member: fold into the base once the pending bytes pass both `floor`
    * (parquet's fixed per-file overhead must not force tiny tiers to fold
    * every batch) and [[OvlFrac]] of the base tier's bytes. At the 1/8
    * ratio a fold costs ≤ 9/8 base-tier writes amortized over ≥ 1/8
    * base-tier bytes of admitted rows — bounded write amplification, the
    * classic LSM trade. Callers pass file-metadata sizes, so the check
    * runs no Spark job. */
  def foldDue(pendingBytes: Long, baseBytes: Long,
      floor: Long = OvlFloorBytes): Boolean =
    pendingBytes > math.max(floor.toDouble, OvlFrac * baseBytes)

  private[graft] val OvlFloorBytes: Long = 1L << 20
  private[graft] val OvlFrac: Double = 0.125

  // --------------------------------------------------------- LSM member sets

  /** One bucketed tier of an [[Lsm]]: its table and pin (`None` for a
    * tier not written yet — a legacy index's missing projection, which the
    * next rewrite creates), the family-default layout (`buckets` hashed on
    * `keys`), how the tier derives from base rows, and its bytes per delta
    * byte (a fold's growth projection). The base tier derives by
    * `identity` at 1. */
  final case class Tier(
      table: String, pin: Option[Int], buckets: Int, keys: Seq[String],
      derive: DataFrame => DataFrame = identity, byteMult: Long = 1L) {
    /** The buckets `rows` hash into at the pin; none for an unwritten tier,
      * whose read ignores the list. */
    def probe(store: TableStore, rows: DataFrame): Seq[Int] =
      pin.map(touchedBuckets(store, table, _, rows)).getOrElse(Nil)
  }

  /** A signature family's LSM member set as one manifest pins it: the
    * bucketed `base` tier, the bucketed `projections` derived from it, the
    * plain `delta` memtable and the `rm` tombstone member (table, pin).
    * Every operation reads at these pins; a commit or rewrite returns the
    * set at its new pins for the caller to publish in one manifest swap. */
  final case class Lsm(
      base: Tier, projections: Seq[Tier],
      delta: (String, Option[Int]), rm: (String, Option[Int])) {

    private def basePin: Int = base.pin.get // a built set always pins its base

    /** Every member (table, pin) — the set's part of a rollback list. */
    def members: Seq[(String, Option[Int])] =
      (base +: projections).map(t => t.table -> t.pin) ++ Seq(delta, rm)

    private def deltaRows(spark: SparkSession, store: TableStore): Option[DataFrame] =
      deltaFrame(spark, store, delta._1, delta._2)

    /** The SERVED rows: (base ∪ delta) ∖ tombstoned ids — the
      * manifest-consistent view every fold, takedown and full read
      * derives from. */
    def served(spark: SparkSession, store: TableStore): DataFrame = {
      val b = store.snapshotAt(spark, base.table, basePin)
      minusRm(spark, store, rm._1, rm._2)(
        deltaRows(spark, store).map(b.unionByName(_)).getOrElse(b))
    }

    /** The base tier's and `t`'s touched buckets from ONE narrow job
      * ([[touchedBucketsPair]]); an unwritten `t` probes nothing real. */
    def probePair(store: TableStore, t: Tier, rows: DataFrame): (Seq[Int], Seq[Int]) =
      touchedBucketsPair(store, base.table -> basePin, t.table -> t.pin.getOrElse(-1), rows)

    /** Indexed base rows of the `touched` buckets: base ∪ delta WITHOUT the
      * tombstone subtraction — a retired id may not re-enter under its own
      * name until the fold forgets it. The insert-only screen's read and
      * the candidate fetch-back. */
    def indexed(spark: SparkSession, store: TableStore, touched: Seq[Int]): DataFrame =
      prunedWithDelta(spark, store, base.table, basePin, touched,
        deltaRows(spark, store), identity)

    /** Tier `t` of the SERVED view restricted to its `touched` buckets: the
      * pruned read ∪ the same projection derived in-plan from the delta,
      * tombstones subtracted — exactly the rows `t.derive(served)` holds in
      * those buckets (a cell's rows all live in one bucket, so candidates
      * and hot-cell counts match). An unwritten tier (a legacy index)
      * derives from the full served view until its next rewrite. */
    def projected(
        spark: SparkSession, store: TableStore, t: Tier, touched: Seq[Int]): DataFrame =
      t.pin match {
        case None => t.derive(served(spark, store))
        case Some(pin) => minusRm(spark, store, rm._1, rm._2)(
          prunedWithDelta(spark, store, t.table, pin, touched,
            deltaRows(spark, store), t.derive))
      }

    /** A full (re)build: `rows` become the base tier and every projection
      * derives from the COMMITTED base (a parquet read, so the caller's
      * input chain runs once); tier i gets `buckets(i)` buckets, base
      * first. The corpus is replaced wholesale, so the delta and tombstone
      * members clear. */
    def build(
        spark: SparkSession, store: TableStore, rows: DataFrame,
        buckets: Seq[Int]): Lsm = {
      def write(t: Tier, n: Int, df: DataFrame): Tier =
        t.copy(pin = Some(store.writeBucketed(df, t.table, keyed(n, t.keys: _*))))
      val b = write(base, buckets.head, rows)
      val committed = store.snapshotAt(spark, b.table, b.pin.get)
      Lsm(b, projections.zip(buckets.tail).map { case (t, n) =>
        write(t, n, t.derive(committed)) }, delta._1 -> None, rm._1 -> None)
    }

    /** ONE concurrent rewrite of the base and every projection from `kept`
      * (the next served rows), persisted here and materialized first by
      * `materialize` — whose result comes back with the set — so every tier
      * write reads the cache. A FOLD grows each tier's recorded layout past
      * the per-bucket byte target ([[OverlayLock.grownSpec]], projected
      * from the pre-fold bytes plus the delta's times the tier's multiplier
      * — within 2x is enough, the next fold corrects), so pruned reads stay
      * constant-per-bucket as the corpus grows; a takedown keeps the
      * recorded [[layout]]. The delta and tombstone members clear. */
    def rewrite[A](
        spark: SparkSession, store: TableStore, kept: DataFrame, fold: Boolean)(
        materialize: DataFrame => A): (Lsm, A) = {
      val cached = kept.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val a = materialize(cached)
        val grow = delta._2.map(store.byteSizeAt(delta._1, _)).getOrElse(0L)
        val tiers = OverlayLock.inParallel((base +: projections).map { t => () =>
          val spec = layout(store, t.table, t.buckets, t.keys: _*)
          t.copy(pin = Some(store.writeBucketed(t.derive(cached), t.table,
            if (!fold) spec
            else OverlayLock.grownSpec(spark, spec,
              t.pin.map(store.byteSizeAt(t.table, _)).getOrElse(0L) + grow * t.byteMult),
            t.pin.orElse(store.currentVersion(t.table)))))
        }).map(_.asInstanceOf[Tier])
        (Lsm(tiers.head, tiers.tail, delta._1 -> None, rm._1 -> None), a)
      } finally cached.unpersist()
    }

    /** One drain's O(batch ∪ tombstones) member commits: `admitted` rides
      * ONE plain linked append into the delta member — no shuffle, no
      * bucketing, a small compacting rewrite folded in once file counts
      * creep ([[OverlayLock.appendOrCompact]]) — and `retired` ids, when
      * given, merge into the tombstone member concurrently (independent
      * tables). */
    def commit(
        spark: SparkSession, store: TableStore, admitted: DataFrame,
        retired: Option[DataFrame]): Lsm = {
      def appendDelta(): Int = delta._2 match {
        case Some(p) => OverlayLock.appendOrCompact(store, delta._1, p,
          store.snapshotAt(spark, delta._1, p), admitted.coalesce(4))
        case None => store.write(admitted.coalesce(4), delta._1,
          store.currentVersion(delta._1))
      }
      def mergeRm(ids: DataFrame): Int = rm._2 match {
        case Some(p) => store.write(
          store.snapshotAt(spark, rm._1, p).select(col("id"))
            .unionByName(ids).distinct().coalesce(4), rm._1, Some(p))
        case None => store.write(ids.coalesce(4), rm._1, store.currentVersion(rm._1))
      }
      retired match {
        case None => copy(delta = delta._1 -> Some(appendDelta()))
        case Some(r) =>
          val Seq(dv, rv) = OverlayLock.inParallel(Seq(() => appendDelta(), () => mergeRm(r)))
          copy(delta = delta._1 -> Some(dv.asInstanceOf[Int]),
            rm = rm._1 -> Some(rv.asInstanceOf[Int]))
      }
    }

    /** One drain under the byte-priced fold policy: once the pending delta
      * + tombstone bytes pass [[foldDue]] (file-metadata sizes, no Spark
      * job; the floor is conf-overridable as `spark.graft.foldFloorBytes`
      * so tests can fold at toy scale), the served view minus `retired`
      * plus `admitted` is rewritten into every tier; otherwise [[commit]].
      * Its emptiness gate on `retired` is ONE serial narrow count that
      * materializes the pinned screen chain at full drain width first, so
      * the concurrent commits read the cache instead of contending on
      * uncached pins inside a coalesced write (measured on the text
      * keeper: fusing the gate into the commit branches cost +0.5 s per
      * drain). */
    def drain(
        spark: SparkSession, store: TableStore, admitted: DataFrame,
        retired: Option[DataFrame]): Lsm =
      if (foldDue(
          Seq(delta, rm).map { case (t, p) => p.map(store.byteSizeAt(t, _)).getOrElse(0L) }.sum,
          store.byteSizeAt(base.table, basePin),
          spark.conf.getOption("spark.graft.foldFloorBytes")
            .map(_.toLong).getOrElse(OvlFloorBytes))) {
        val s = served(spark, store)
        rewrite(spark, store,
          retired.map(r => s.join(broadcast(r), Seq("id"), "left_anti")).getOrElse(s)
            .unionByName(admitted), fold = true)(_.count())._1
      } else commit(spark, store, admitted, retired.filter(narrowCount(_) > 0L))
  }

  // ------------------------------------------------ revision-overlay sets

  /** One member of an [[Overlay]] set: the base `table` at `pin`, its
    * revision overlay `ovl` (table, pin; `None` = empty), the family
    * default layout (`None` = a plain member) and how the member's rows
    * derive from the family's batch rows. */
  final case class Shadowed(
      table: String, pin: Int, ovl: (String, Option[Int]),
      default: Option[BucketSpec], derive: DataFrame => DataFrame)

  /** A revision-overlay family's member set as one manifest pins it: each
    * member's overlay rows SHADOW its base rows by `key` at read time
    * (`base ∖ overlay-keys ∪ overlay`), so an upsert commits O(batch ∪
    * overlay) bytes. The head member's overlay prices the fold. Every
    * operation reads at these pins; a commit or rewrite returns the set
    * at its new pins for the caller to publish in one manifest swap. */
  final case class Overlay(key: String, tiers: Seq[Shadowed]) {

    def apply(table: String): Shadowed = tiers.find(_.table == table).getOrElse(
      throw new IllegalStateException(s"$table is not built — its index has no such tier yet"))

    /** Every member (table, pin), overlays included — the set's part of a
      * rollback list. */
    def members: Seq[(String, Option[Int])] =
      tiers.flatMap(t => Seq(t.table -> Some(t.pin), t.ovl))

    /** Whether any member's overlay holds rows. */
    def live: Boolean = tiers.exists(_.ovl._2.isDefined)

    /** The ids to drop, `ids`' first column renamed to the key —
      * broadcast, as takedown lists are small by nature. */
    def keysOf(ids: DataFrame): DataFrame =
      broadcast(ids.select(col(ids.columns.head).as(key)).distinct())

    /** The SERVED rows of member `table`: base ∖ overlay-keys ∪ overlay. */
    def served(spark: SparkSession, store: TableStore, table: String): DataFrame =
      merged(spark, store, table, store.snapshotAt(spark, table, this(table).pin))

    /** `base` — a (pruned) read of member `table`'s base — with the
      * overlay merged in. The overlay is compaction-bounded, so its key
      * set broadcasts into the anti-join: the merge costs the base scan
      * plus one broadcast, never a shuffle. */
    def merged(
        spark: SparkSession, store: TableStore, table: String, base: DataFrame): DataFrame =
      this(table).ovl match {
        case (_, None) => base
        case (ovlTable, Some(pin)) => screen(spark, store, table, base)
          .unionByName(store.snapshotAt(spark, ovlTable, pin))
      }

    /** `rows` minus the keys of member `table`'s overlay — the merge's
      * shadowing, and the overlay half of the insert-only screen: an id
      * living only in the overlay must not re-enter the base, or the
      * overlay's shadow would hide the newer row behind the stale
      * re-append. */
    def screen(
        spark: SparkSession, store: TableStore, table: String, rows: DataFrame): DataFrame =
      this(table).ovl match {
        case (_, None) => rows
        case (ovlTable, Some(pin)) => rows.join(broadcast(
          store.snapshotAt(spark, ovlTable, pin).select(col(key)).distinct()),
          Seq(key), "left_anti")
      }

    /** Replace-or-insert `rows` (one per `batchKeys` key). Priced on the
      * head member's PRE-batch overlay (file-metadata sizes, no job): past
      * [[foldDue]] the batch rides the amortized [[fold]]; below it every
      * member's overlay is rewritten concurrently — old overlay minus the
      * batch's keys plus the batch, at most one row-set per key, so the
      * read-time merge needs no recency bookkeeping. The overlay is small
      * by policy, so the wholesale rewrite is O(overlay), never O(corpus);
      * few files per version, since inheriting the batch's shuffle
      * partitioning would creep file counts for no scan benefit. */
    def upsert(
        spark: SparkSession, store: TableStore, batchKeys: DataFrame,
        rows: DataFrame): Overlay = {
      val head = tiers.head
      if (head.ovl._2.exists(p => foldDue(store.byteSizeAt(head.ovl._1, p),
          store.byteSizeAt(head.table, head.pin))))
        fold(spark, store, Some(batchKeys -> rows))
      else copy(tiers = OverlayLock.inParallel(tiers.map { t => () =>
        val (ovlTable, pin) = t.ovl
        val next = pin match {
          case Some(p) => store.snapshotAt(spark, ovlTable, p)
            .join(batchKeys, Seq(key), "left_anti").unionByName(t.derive(rows))
          case None => t.derive(rows)
        }
        t.copy(ovl = ovlTable -> Some(store.write(next.coalesce(8), ovlTable,
          pin.orElse(store.currentVersion(ovlTable)))))
      }).map(_.asInstanceOf[Shadowed]))
    }

    /** THE FOLD, the one amortized corpus-sized rewrite the overlay design
      * pays: each member's served view minus the batch's keys plus its
      * derived batch rows is written, and the overlays clear. A bucketed
      * member grows its recorded layout past the per-bucket byte target
      * ([[OverlayLock.grownSpec]], projected from base + overlay bytes),
      * so pruned reads stay constant-per-bucket as the corpus grows; a
      * legacy plain tier upgrades to the family layout. With no batch this
      * is compaction, which keeps at its pin any member whose overlay is
      * empty. */
    def fold(
        spark: SparkSession, store: TableStore,
        batch: Option[(DataFrame, DataFrame)]): Overlay =
      rewrite(spark, store, tiers.filter(t => batch.isDefined || t.ovl._2.isDefined),
        batch.map(_._1), batch.map(_._2)) { t =>
        recorded(store, t).map(OverlayLock.grownSpec(spark, _,
          store.byteSizeAt(t.table, t.pin) +
            t.ovl._2.map(store.byteSizeAt(t.ovl._1, _)).getOrElse(0L)))
      }

    /** THE TAKEDOWN: each member's served view minus `keys` (a frame of the
      * key column, see [[keysOf]]) is written with its recorded layout, and
      * the overlays clear — a takedown rewrites every corpus-sized member
      * anyway, so the overlay folds in for free. */
    def takedown(spark: SparkSession, store: TableStore, keys: DataFrame): Overlay =
      rewrite(spark, store, tiers, Some(keys), None)(recorded(store, _))

    /** A bucketed member's recorded layout, or its family default for a
      * legacy plain tier the rewrite upgrades; `None` for a plain member. */
    private def recorded(store: TableStore, t: Shadowed): Option[BucketSpec] =
      t.default.map(store.bucketSpec(t.table).getOrElse(_))

    /** Write `members`' served views `∖ minus ∪ derive(plus)` concurrently
      * (independent tables, no shared CAS), each bucketed by `spec` or
      * plain; the rewritten members' overlays clear. */
    private def rewrite(
        spark: SparkSession, store: TableStore, members: Seq[Shadowed],
        minus: Option[DataFrame], plus: Option[DataFrame])(
        spec: Shadowed => Option[BucketSpec]): Overlay = {
      val pins = OverlayLock.inParallel(members.map { t => () =>
        val s = served(spark, store, t.table)
        val kept = minus.map(s.join(_, Seq(key), "left_anti")).getOrElse(s)
        val next = plus.map(r => kept.unionByName(t.derive(r))).getOrElse(kept)
        t.table -> (spec(t) match {
          case Some(b) => store.writeBucketed(next, t.table, b, Some(t.pin))
          case None => store.write(next, t.table, Some(t.pin))
        })
      }).map(_.asInstanceOf[(String, Int)]).toMap
      copy(tiers = tiers.map(t => pins.get(t.table)
        .map(v => t.copy(pin = v, ovl = t.ovl._1 -> None)).getOrElse(t)))
    }
  }

  /** The layout guard of the keeper-capable families: a plain fold on a
    * quality-carrying (KEEPER) index would drop its quality column, and a
    * replace-if-better fold needs one — the two layouts never mix.
    * `index` names the index in the message. */
  def requireLayout(index: String, hasQuality: Boolean, keeper: Boolean, op: String): Unit =
    require(hasQuality == keeper,
      if (hasQuality) s"$index is a KEEPER family (quality-carrying) — $op would drop " +
        "its quality column; admit through admitKeepBestBatch, drained with AdmissionStream.drain"
      else s"$index is a plain family — $op needs a quality-carrying index; " +
        "build it with buildWithQuality")

  // ---------------------------------------------------------------- manifests

  /** A family manifest: its fields in on-disk order. Values are written
    * with `toString` — pins as their version (-1 = absent tier), flags as
    * 1/0. */
  trait Manifest {
    def fields: Seq[(String, Any)]
  }

  /** One decoded manifest; `what` names it in errors. A missing REQUIRED
    * key fails loudly; optional keys decode to their defaults. */
  final class Fields(what: String, json: String) {
    private val kv: Map[String, String] =
      json.trim.stripPrefix("{").stripSuffix("}").split(",").toSeq
        .map(_.split(":", 2))
        .collect { case Array(k, v) => k.trim.stripPrefix("\"").stripSuffix("\"") -> v.trim }
        .toMap
    private def raw(k: String): String = {
      require(kv.contains(k), s"$what missing $k: $json")
      kv(k)
    }
    def long(k: String): Long = raw(k).toLong
    def int(k: String): Int = raw(k).toInt
    def double(k: String): Double = raw(k).toDouble
    def longOr(k: String, dflt: Long): Long = kv.get(k).map(_.toLong).getOrElse(dflt)
    /** A tier pin: absent or negative ⇔ the tier does not exist. */
    def pin(k: String): Option[Int] = Some(longOr(k, -1L)).filter(_ >= 0).map(_.toInt)
    /** A 1/0 flag; absent ⇔ off. */
    def flag(k: String): Boolean = longOr(k, 0L) != 0L
  }

  private val ManifestFile = "manifest.json"

  def encodeManifest(m: Manifest): String =
    m.fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  /** The manifest and the manifest TABLE's version — the CAS anchor a
    * later [[commitManifest]] must carry. The content is read from the
    * v-dir of the version just resolved, NOT via `store.path` (which
    * re-reads `_current`): a commit landing between the two reads would
    * pair v+1 content with anchor v — safe, but every such mismatch is a
    * spurious conflict and an orphan member version. */
  def readManifest[M](store: TableStore, table: String, what: String)(
      decode: Fields => M): Option[(M, Int)] =
    store.currentVersion(table).map { v =>
      val f = Paths.get(store.pathAt(table, v)).resolve(ManifestFile)
      (decode(new Fields(what,
        new String(Files.readAllBytes(f), StandardCharsets.UTF_8))), v)
    }

  /** The single commit point: swap the manifest (CAS against the version
    * the caller read). Member versions committed before this call stay
    * invisible until it succeeds. A pure file op — no Spark job. */
  def commitManifest(
      store: TableStore, table: String, m: Manifest, expected: Option[Int]): Unit =
    store.commitFile(table, ManifestFile,
      encodeManifest(m).getBytes(StandardCharsets.UTF_8), expected)

  /** Roll every pinned member back to its pin, discarding the orphan
    * successors a crashed writer left — every mutation starts here so its
    * member commits CAS cleanly against the pins. */
  def rollbackAll(store: TableStore, tiers: Seq[(String, Option[Int])]): Unit =
    tiers.foreach { case (table, pin) =>
      pin.foreach(OverlayLock.rollbackIfAhead(store, table, _))
    }
}
