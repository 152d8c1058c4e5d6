package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The control plane every persisted index family shares
  * ([[SignatureIndex]], [[PerceptualIndex]], [[FrameIndex]],
  * [[PostingsIndex]], [[IvfIndex]] and [[CorpusProfile]]): member tables
  * pinned by one manifest, read bucket-pruned. Two decisions live here and
  * nowhere else.
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
  def minusRm(
      spark: SparkSession, store: TableStore, rmTable: String,
      pin: Option[Int])(df: DataFrame): DataFrame =
    pin match {
      case None => df
      case Some(p) => df.join(broadcast(
          store.snapshotAt(spark, rmTable, p).select(col("id"))),
        Seq("id"), "left_anti")
    }

  /** base ∖ overlay-keys ∪ overlay — the read-time merge a revision
    * overlay serves through: an overlay row shadows its base row by `key`,
    * keys only in the overlay are inserts. The overlay is
    * compaction-bounded, so its key set broadcasts into the anti-join —
    * the merge costs the base scan plus one broadcast, never a shuffle. */
  def mergedWithOverlay(
      spark: SparkSession, store: TableStore, base: DataFrame,
      ovlTable: String, ovlPin: Option[Int], key: String): DataFrame =
    ovlPin match {
      case None => base
      case Some(pin) =>
        val ovl = store.snapshotAt(spark, ovlTable, pin)
        base.join(broadcast(ovl.select(col(key)).distinct()), Seq(key), "left_anti")
          .unionByName(ovl)
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
    * every batch) and [[IvfIndex.OvlFrac]] of the base tier's bytes —
    * bounded write amplification, the classic LSM trade. Callers pass
    * file-metadata sizes, so the check runs no Spark job. */
  def foldDue(pendingBytes: Long, baseBytes: Long,
      floor: Long = IvfIndex.OvlFloorBytes): Boolean =
    pendingBytes > math.max(floor.toDouble, IvfIndex.OvlFrac * baseBytes)

  /** The memtable write: commit `fresh` to the plain delta member as ONE
    * linked append — no shuffle, no bucketing, O(batch) bytes — folding a
    * small compacting rewrite in once file counts creep
    * ([[OverlayLock.appendOrCompact]]). */
  def appendDelta(
      spark: SparkSession, store: TableStore, table: String, pin: Option[Int],
      fresh: DataFrame): Int =
    pin match {
      case Some(p) => OverlayLock.appendOrCompact(store, table, p,
        store.snapshotAt(spark, table, p), fresh.coalesce(4))
      case None => store.write(fresh.coalesce(4), table, store.currentVersion(table))
    }

  /** Merge retired `ids` into the small tombstone member. */
  def mergeRm(
      spark: SparkSession, store: TableStore, table: String, pin: Option[Int],
      ids: DataFrame): Int =
    pin match {
      case Some(p) => store.write(
        store.snapshotAt(spark, table, p).select(col("id"))
          .unionByName(ids).distinct().coalesce(4), table, Some(p))
      case None => store.write(ids.coalesce(4), table, store.currentVersion(table))
    }

  /** One drain's O(batch ∪ tombstones) member commits: admissions ride ONE
    * plain linked append into the delta member, retirements merge into the
    * tombstone member — independent tables, committed concurrently. The
    * caller publishes the returned (delta, tombstone) pins in one manifest
    * swap. `noRetired` skips the tombstone commit. */
  def commitDeltaAndRm(
      spark: SparkSession, store: TableStore,
      delta: (String, Option[Int]), rm: (String, Option[Int]),
      admitted: DataFrame, retired: DataFrame, noRetired: Boolean): (Int, Option[Int]) = {
    val res = OverlayLock.inParallel(
      Seq(() => appendDelta(spark, store, delta._1, delta._2, admitted)) ++
        (if (noRetired) Nil else Seq(() => mergeRm(spark, store, rm._1, rm._2, retired))))
    (res.head.asInstanceOf[Int],
      if (noRetired) rm._2 else Some(res.last.asInstanceOf[Int]))
  }

  /** Rewrite a revision overlay member: old overlay minus the batch's keys
    * plus the batch — at most one row-set per key, so the read-time merge
    * needs no recency bookkeeping. The overlay is policy-bounded small, so
    * the wholesale rewrite is O(overlay), never O(corpus); few files per
    * version, since inheriting the batch's shuffle partitioning would
    * creep file counts for no scan benefit. */
  def overlayWrite(
      spark: SparkSession, store: TableStore, table: String, pin: Option[Int],
      batchKeys: DataFrame, key: String, rows: DataFrame): Int =
    pin match {
      case Some(p) => store.write(store.snapshotAt(spark, table, p)
        .join(batchKeys, Seq(key), "left_anti").unionByName(rows).coalesce(8),
        table, Some(p))
      case None => store.write(rows.coalesce(8), table)
    }

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
