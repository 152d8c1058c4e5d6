package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, hash, lit, pmod, xxhash64}

/** PK-hash bucketing recorded in a table's manifest: rows live in
  * `_bucket=<pmod(hash(pks), n)>` partition dirs, so an incremental merge
  * only rewrites the buckets its change batch touches and carries every
  * untouched bucket into the next version as a file-level link — the
  * copy-on-write discipline Delta/Iceberg clustered tables use, rebuilt on
  * plain parquet.
  *
  * `sortCols` (optional) records a WITHIN-BUCKET sort order that every
  * writer of the table maintains ([[TableStore.writeBucketed]],
  * [[TableStore.appendRowsBucketed]], [[TableStore.commitBucketMerge]]):
  * rows land sorted by these columns inside each written file, so the
  * parquet row-group min/max statistics are tight and a keyed read that
  * pushes a predicate on them (`doc_id BETWEEN lo AND hi`, a small `IN`
  * set) prunes BELOW the bucket level — the Delta Z-order/clustering
  * idea in its one-dimensional form. */
final case class BucketSpec(
    nBuckets: Int, pks: Seq[String], sortCols: Seq[String] = Nil) {
  def bucketColumn: Column = pmod(hash(pks.map(col): _*), lit(nBuckets))

  /** Sort a bucket-partitioned frame for writing: by bucket first (one
    * file per task-partition stays contiguous), then the declared
    * within-bucket order. Identity when no sort is declared. */
  private[graft] def sortedForWrite(df: DataFrame): DataFrame =
    if (sortCols.isEmpty) df
    else df.sortWithinPartitions((col("_bucket") +: sortCols.map(col)): _*)

  private[graft] def manifestLine: String =
    s"buckets=$nBuckets;pks=${pks.mkString(",")}" +
      (if (sortCols.isEmpty) "" else s";sort=${sortCols.mkString(",")}")
}

/** Two writers raced the same table version: the loser's commit is refused
  * instead of silently overwriting the winner's (last-writer-wins is the
  * one failure mode a versioned store must not have). The table is intact —
  * the thrower's data never reached a live version; re-read and retry. */
final class VersionConflictException(msg: String) extends IllegalStateException(msg)

/** Versioned parquet table with atomic swap — the merge/overwrite substrate
  * (no Delta/Iceberg jar in this environment; SURVEY §7.3).
  *
  * Layout: `<root>/<table>/v<N>/` parquet dirs + `<root>/<table>/_current`
  * manifest holding the live version number (and, for bucketed tables, the
  * [[BucketSpec]]; each version dir also keeps the spec it was written
  * with, [[bucketSpecAt]]). Writers produce the next version's files fully in a
  * private `.staging-*` dir, then commit under a per-table lock: the
  * staging dir is renamed to `v(N+1)` and the manifest repointed with
  * temp-write + atomic rename — readers resolve the manifest first, so
  * they never observe a half-written table. Old versions are pruned after
  * the swap (best-effort; a reader already holding v(N)'s file list
  * finishes safely on local/HDFS-like stores — and hard-linked bucket
  * files survive the prune of the version that first wrote them).
  *
  * Concurrent writers: every commit carries the version the writer
  * RESOLVED when it started (its read snapshot) and is compare-and-swapped
  * against `_current` under the lock — if another writer moved the table
  * first, the commit throws [[VersionConflictException]] instead of
  * last-writer-wins (the reference gets the same safety by serializing
  * through dequeue-delete, sql:185). The losing writer's staging dir is
  * removed; the winner's version and the manifest are never touched. This
  * is optimistic concurrency control as Delta/Iceberg do it, on plain
  * files.
  *
  * At cluster scale the same pattern works on any store with atomic rename
  * (HDFS); on S3 the manifest swap maps to a conditional PUT and staging
  * to a key prefix.
  */
object TableStore {
  /** A dead-owner commit lock is only broken once it is at least this old —
    * the documented grace period: guards a waiter reading the pid while the
    * owner is mid-create, and pid-reuse just after a crash. Commit holds the
    * lock for file-metadata ops only, so a healthy hold is milliseconds. */
  val LockBreakGraceMs: Long = 2000L

  /** `.staging-*` dirs untouched this long are crash debris (their writer
    * either committed — the dir would be renamed away — or died) and are
    * swept on the next prune. Generous vs any plausible parquet write. */
  val StaleStagingMs: Long = 30L * 60 * 1000
}

class TableStore(val root: String) {
  Files.createDirectories(Paths.get(root))

  private def tableDir(name: String) = Paths.get(root, name)
  private def manifest(name: String) = tableDir(name).resolve("_current")

  private def manifestLines(name: String): Seq[String] =
    if (Files.exists(manifest(name)))
      new String(Files.readAllBytes(manifest(name)), StandardCharsets.UTF_8)
        .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    else Seq.empty

  def currentVersion(name: String): Option[Int] =
    manifestLines(name).headOption.map(_.toInt)

  /** The bucketing recorded for this table, if any (manifest line 2:
    * `buckets=<n>;pks=<a,b>`). */
  def bucketSpec(name: String): Option[BucketSpec] =
    manifestLines(name).drop(1).headOption.flatMap(parseSpec)

  /** The bucketing version `v` was WRITTEN with — the layout a reader
    * pinned at `v` must prune with, which a later rebucket or rollback
    * does not change. Each commit records it as `v<N>/_spec` (empty for a
    * plain version); a version committed before that file existed falls
    * back to the table's current manifest line. */
  def bucketSpecAt(name: String, v: Int): Option[BucketSpec] = {
    val f = versionPath(name, v).resolve("_spec")
    if (Files.exists(f))
      parseSpec(new String(Files.readAllBytes(f), StandardCharsets.UTF_8).trim)
    else bucketSpec(name)
  }

  private def parseSpec(line: String): Option[BucketSpec] =
    Some(line).collect {
      case s if s.startsWith("buckets=") =>
        val parts = s.split(";").map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
        BucketSpec(parts("buckets").toInt, parts("pks").split(",").toSeq,
          parts.get("sort").map(_.split(",").toSeq).getOrElse(Nil))
    }

  def exists(name: String): Boolean = currentVersion(name).isDefined

  def path(name: String): String =
    currentVersion(name) match {
      case Some(v) => tableDir(name).resolve(s"v$v").toString
      case None => throw new IllegalStateException(s"table $name does not exist under $root")
    }

  private def versionPath(name: String, v: Int): Path = tableDir(name).resolve(s"v$v")

  /** Directory of a SPECIFIC version — the file-read sibling of
    * [[snapshotAt]]: an overlay that resolved [[currentVersion]] must read
    * that version's files from its own dir, not re-resolve [[path]] (a
    * commit landing between the two reads would pair v+1 content with a
    * CAS anchor of v — safe but a source of avoidable spurious conflicts). */
  private[graft] def pathAt(name: String, v: Int): String =
    versionPath(name, v).toString

  private def requireVersion(name: String): Int =
    currentVersion(name).getOrElse(
      throw new IllegalStateException(s"table $name does not exist under $root"))

  /** The version's declared schema, when one was committed by
    * [[widenSchema]] — applied at read time so data files written BEFORE a
    * widening (absent the new columns) surface them as nulls. None for
    * tables whose files are the schema authority (the normal case). */
  def declaredSchema(name: String): Option[org.apache.spark.sql.types.StructType] =
    declaredSchemaAt(name, requireVersion(name))

  private def declaredSchemaAt(
      name: String, v: Int): Option[org.apache.spark.sql.types.StructType] = {
    val f = versionPath(name, v).resolve("_schema.json")
    if (Files.exists(f))
      Some(org.apache.spark.sql.types.DataType
        .fromJson(new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    else None
  }

  /** Version-pinned parquet readers, memoized per (session, table,
    * version): a committed version dir is immutable, but building a
    * reader over it is NOT free — the file listing, footer schema read
    * and relation resolution cost tens of milliseconds of driver time
    * (sometimes a schema-inference job), and a single admission drain
    * builds the same pinned reads many times over. The key carries the
    * dir's mtime so a version number recreated after a rollback (same
    * `vN`, different files — the CAS-retry path) never serves a stale
    * file list; existence is re-checked on every hit because [[prune]]
    * deletes superseded dirs. Bounded by wholesale clear — entries are
    * plans, not data, and stores are per-overlay-root. */
  private val readerMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def parquetAt(spark: SparkSession, name: String, v: Int): DataFrame = {
    val dir = versionPath(name, v)
    if (!Files.exists(dir))
      throw new IllegalStateException(
        s"table $name has no version v$v under $root (pruned or never committed)")
    val key = System.identityHashCode(spark) + "#" + name + "#" + v + "#" +
      Files.getLastModifiedTime(dir).toMillis
    if (readerMemo.size > 256) readerMemo.clear()
    readerMemo.computeIfAbsent(key, _ =>
      declaredSchemaAt(name, v) match {
        case Some(s) => spark.read.schema(s).parquet(dir.toString)
        case None => spark.read.parquet(dir.toString)
      })
  }

  /** Read the table with its logical schema (the `_bucket` layout column,
    * when present, stays internal). */
  def read(spark: SparkSession, name: String): DataFrame = {
    val df = readRaw(spark, name)
    if (bucketSpec(name).isDefined) df.drop("_bucket") else df
  }

  /** Snapshot read for read-modify-write: resolve the manifest ONCE and
    * return both the DataFrame pinned to that version's files and the
    * version number — the `expected` a later [[write]] must CAS against.
    * Resolving again at write time (the old default) opens a window where
    * a commit landing between read and write passes the version check and
    * the concurrent winner's rows are silently lost. */
  def snapshot(spark: SparkSession, name: String): (DataFrame, Int) = {
    val v = requireVersion(name)
    val df = parquetAt(spark, name, v)
    (if (bucketSpec(name).isDefined) df.drop("_bucket") else df, v)
  }

  /** [[snapshot]] keeping the `_bucket` layout column — the
    * read-modify-write sibling of [[readRaw]]. */
  def snapshotRaw(spark: SparkSession, name: String): (DataFrame, Int) = {
    val v = requireVersion(name)
    (parquetAt(spark, name, v), v)
  }

  /** Read a SPECIFIC committed version — the manifest-resolved read a
    * multi-table overlay (e.g. [[CorpusProfile]]'s profile manifest)
    * needs: the overlay pins each member table's version, and readers
    * must see exactly those pins rather than whatever `_current` points
    * at, because a writer that crashed after committing a member table
    * but before the overlay-manifest swap leaves an orphan successor
    * version no manifest references. Only the current version and its
    * immediate predecessor are retained by [[prune]], so a valid pin is
    * always readable. */
  def snapshotAt(spark: SparkSession, name: String, version: Int): DataFrame = {
    val df = parquetAt(spark, name, version)
    if (bucketSpec(name).isDefined) df.drop("_bucket") else df
  }

  /** [[snapshotAt]] keeping the `_bucket` layout column — the versioned
    * sibling of [[readRaw]], for overlay readers that prune a pinned
    * bucketed member to the buckets a key batch can touch
    * (`filter(col("_bucket").isin(...))` prunes at the directory level,
    * so the bytes read are ∝ the touched buckets, never the corpus). */
  def snapshotRawAt(spark: SparkSession, name: String, version: Int): DataFrame =
    parquetAt(spark, name, version)

  /** Whether this version's files still exist on disk — lets overlay
    * recovery distinguish "orphans above the pin" (roll back) from "pin
    * itself pruned" (skip the rollback; a fresh write + overlay swap is
    * the repair). */
  def hasVersion(name: String, version: Int): Boolean =
    Files.exists(versionPath(name, version))

  /** Roll the table back to `version`, discarding any later (orphaned)
    * versions — the recovery primitive for multi-table overlays: a
    * writer that commits member tables and then fails before its
    * overlay-manifest swap leaves successors no reader can resolve; the
    * redelivered write first rolls each member back to its pinned
    * version so the refold derives from committed-visible state and the
    * CAS anchors line up again. Keeping members at most one version
    * ahead of their pins is also what keeps the pins inside [[prune]]'s
    * retention window. The `_current` repoint is atomic; orphan dirs are
    * swept after it (a crash in between leaves junk dirs that the next
    * commit's existing-dest cleanup removes). No-op when already at
    * `version`. */
  def rollbackTo(name: String, version: Int): Unit = withTableLock(name) {
    val cur = requireVersion(name)
    if (cur != version) {
      require(cur > version,
        s"cannot roll $name forward from v$cur to v$version")
      if (!Files.exists(versionPath(name, version)))
        throw new IllegalStateException(
          s"table $name cannot roll back to pruned version v$version")
      val tmp = tableDir(name).resolve("_current.tmp")
      val body = version.toString + bucketSpecAt(name, version)
        .map("\n" + _.manifestLine).getOrElse("")
      Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, manifest(name), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      ((version + 1) to cur).foreach { w =>
        try deleteRecursively(versionPath(name, w))
        catch { case _: java.io.IOException => () }
      }
    }
  }

  /** Read a bucketed table INCLUDING the `_bucket` partition column, so
    * callers can prune to touched buckets (`filter(col("_bucket").isin…)`
    * prunes at the directory level — unread buckets are never opened). */
  def readRaw(spark: SparkSession, name: String): DataFrame =
    parquetAt(spark, name, requireVersion(name))

  /** Metadata-only schema evolution — the `ALTER TABLE ADD COLUMN` of this
    * store: commit a next version whose data files are hard links of the
    * current ones plus a declared schema widened by `extra` (forced
    * nullable; inserted before the `_bucket` partition column when
    * present). No data is read or written — O(files) link ops, exactly
    * what a 100 TB widen must cost — and readers resolve the new columns
    * to null for pre-widen files. A later full rewrite
    * ([[write]]/[[writeBucketed]]) makes the files authoritative again. */
  def widenSchema(
      spark: SparkSession,
      name: String,
      extra: Seq[org.apache.spark.sql.types.StructField]): Int = {
    require(extra.nonEmpty, "widenSchema needs at least one new column")
    val cur = currentVersion(name).getOrElse(
      throw new IllegalStateException(s"table $name does not exist"))
    val curDir = tableDir(name).resolve(s"v$cur")
    val current = declaredSchema(name)
      .getOrElse(spark.read.parquet(curDir.toString).schema)
    val clash = extra.map(_.name).intersect(current.fieldNames.toSeq)
    require(clash.isEmpty, s"widenSchema collision on ${clash.mkString(", ")}")
    val (dataCols, partCols) = current.fields.toSeq.partition(_.name != "_bucket")
    val widened = org.apache.spark.sql.types.StructType(
      dataCols ++ extra.map(_.copy(nullable = true)) ++ partCols)
    val dest = newStaging(name)
    stagingWrite(dest) {
      linkTree(curDir, dest)
      Files.write(dest.resolve("_schema.json"),
        widened.json.getBytes(StandardCharsets.UTF_8))
    }
    commitStaged(name, Some(cur), dest, bucketSpec(name))
  }

  /** Mirror `src`'s version layout into `dst` as hard links (copy
    * fallback): top-level and `_bucket=N` part-files. */
  private def linkTree(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    val stream = Files.list(src)
    try stream.iterator().forEachRemaining { f =>
      val n = f.getFileName.toString
      if (Files.isDirectory(f)) {
        if (n.startsWith("_bucket=")) linkTree(f, dst.resolve(n))
      } else if (n.startsWith("part-")) linkOrCopy(f, dst.resolve(n))
    } finally stream.close()
  }

  /** Write `df` as the next version and atomically swap the manifest.
    *
    * `expected` is the CAS anchor — the version this writer's inputs were
    * read from. The default (resolve at write time) is only safe for blind
    * writes that derive nothing from the table's current contents;
    * read-modify-write callers MUST pass the version [[snapshot]] gave
    * them, or a commit landing between their read and this write is
    * silently overwritten (ADVICE r5: last-writer-wins on the race). */
  def write(df: DataFrame, name: String): Int =
    write(df, name, currentVersion(name))

  def write(df: DataFrame, name: String, expected: Option[Int]): Int = {
    val staging = newStaging(name)
    stagingWrite(staging) {
      df.write.mode("overwrite").parquet(staging.toString)
    }
    commitStaged(name, expected, staging, None)
  }

  /** Append-only commit for a PLAIN table: write ONLY `rows` as new part
    * files and carry every part file of the `expected` version into the
    * next version as a hard link (copy fallback) — the LSM discipline
    * that makes maintaining a large corpus-sized table O(batch) per
    * append instead of O(corpus): the [[IvfIndex]]/[[PostingsIndex]]
    * member unions previously re-wrote the whole stored table for every
    * admitted micro-batch, which a 100 TB index cannot pay. The caller's
    * read snapshot (`expected`) is both the link source and the CAS
    * anchor, exactly like [[commitBucketMerge]]. `rows`' schema must
    * match the stored files' (same writer, same shape — the family
    * operators guarantee it).
    *
    * File counts grow by the batch write's partitioning each append;
    * [[compactPlain]] (already wired into the admission paths) bounds
    * them. Returns the new version. */
  def appendRows(rows: DataFrame, name: String, expected: Int): Int = {
    // a bucketed table's data lives in _bucket=N/ subdirs: the top-level
    // part-file carry below would silently drop every bucket (and the
    // spec=None commit would lose the layout) — fail loudly instead
    require(bucketSpec(name).isEmpty,
      s"$name is bucketed — appendRows only supports plain tables; " +
        "use commitBucketMerge for copy-on-write bucket appends")
    val curDir = versionPath(name, expected)
    val staging = newStaging(name)
    stagingWrite(staging) {
      rows.write.mode("overwrite").parquet(staging.toString)
      // carry the old parts AFTER the write: "overwrite" would have
      // cleared pre-existing files from the staging dir. A concurrent
      // writer advancing the table TWICE during our Spark write lets
      // prune delete the expected version's dir — that is the version
      // conflict the caller's retry loop understands, not an IO bug
      try {
        val stream = Files.list(curDir)
        try stream.iterator().forEachRemaining { f =>
          val n = f.getFileName.toString
          if (n.startsWith("part-")) linkOrCopy(f, staging.resolve(n))
        } finally stream.close()
        // declared schema stays in force for the carried pre-widen files
        val sf = curDir.resolve("_schema.json")
        if (Files.exists(sf))
          Files.copy(sf, staging.resolve("_schema.json"), StandardCopyOption.REPLACE_EXISTING)
      } catch {
        case e: java.nio.file.NoSuchFileException =>
          throw new VersionConflictException(
            s"table $name v$expected was pruned while this append staged " +
              s"(concurrent writers advanced the table) — re-read and retry: $e")
      }
    }
    commitStaged(name, Some(expected), staging, None)
  }

  /** [[appendRows]] for a BUCKETED table: write ONLY `rows` (the
    * `_bucket` layout column is computed here) as new part files inside
    * their bucket dirs and carry every part file of the `expected`
    * version — all buckets — into the next version as hard links (copy
    * fallback). O(batch) data written + O(files) metadata ops, exactly
    * [[appendRows]]'s LSM discipline with the bucket layout preserved,
    * so keyed readers keep their directory-level pruning across appends.
    * Per-bucket file counts grow by ~1 per append;
    * [[graft.operators.OverlayLock.appendOrCompactBucketed]] bounds them.
    * Returns the new version. */
  def appendRowsBucketed(rows: DataFrame, name: String, expected: Int): Int = {
    val spec = bucketSpec(name).getOrElse(throw new IllegalStateException(
      s"$name is not bucketed — use appendRows for plain tables"))
    val curDir = versionPath(name, expected)
    val staging = newStaging(name)
    stagingWrite(staging) {
      // pinned partition count, capped below nBuckets: an append writes at
      // most one file per touched bucket either way, and its cost is
      // dominated by per-TASK parquet writer setup (~150 ms measured) on
      // one end and by serialized per-FILE writer opens (~20 ms each) on
      // the other — 1 task serializes ~nBuckets opens (measured ~1.3 s),
      // nBuckets tasks pay nBuckets setups. 16 tasks × a few opens each is
      // the measured sweet spot for micro-batch appends, and a bulk append
      // still splits by bucket across those tasks. NOT an AQE-coalesced
      // adaptive count: size-based coalescing sees "tiny" and serializes
      // the opens.
      spec.sortedForWrite(rows.withColumn("_bucket", spec.bucketColumn)
          .repartition(math.min(spec.nBuckets, 16), col("_bucket")))
        .write.mode("overwrite").partitionBy("_bucket").parquet(staging.toString)
      // carry the old parts AFTER the write (the appendRows rationale:
      // "overwrite" clears pre-existing staging files); part-file names
      // embed the writing job's UUID, so links never collide with the
      // batch's fresh files inside a shared _bucket=N dir
      try {
        linkTree(curDir, staging)
        val sf = curDir.resolve("_schema.json")
        if (Files.exists(sf))
          Files.copy(sf, staging.resolve("_schema.json"), StandardCopyOption.REPLACE_EXISTING)
      } catch {
        case e: java.nio.file.NoSuchFileException =>
          throw new VersionConflictException(
            s"table $name v$expected was pruned while this append staged " +
              s"(concurrent writers advanced the table) — re-read and retry: $e")
      }
    }
    commitStaged(name, Some(expected), staging, Some(spec))
  }

  /** Commit a DRIVER-written single file as the table's next version —
    * the same staging + CAS + atomic-swap path as [[write]], with no
    * Spark job: for tiny control-plane tables (e.g. [[CorpusProfile]]'s
    * profile manifest) whose content is one metadata record. Readers
    * resolve [[path]]/[[currentVersion]] and read the file directly. */
  def commitFile(
      name: String, fileName: String, bytes: Array[Byte],
      expected: Option[Int]): Int = {
    val staging = newStaging(name)
    stagingWrite(staging) {
      Files.createDirectories(staging)
      Files.write(staging.resolve(fileName), bytes)
    }
    commitStaged(name, expected, staging, None)
  }

  /** Full write of a bucketed table: one hash shuffle on the bucket column
    * at load time buys every later merge its bucket pruning. */
  def writeBucketed(df: DataFrame, name: String, spec: BucketSpec): Int =
    writeBucketed(df, name, spec, currentVersion(name))

  def writeBucketed(
      df: DataFrame, name: String, spec: BucketSpec, expected: Option[Int]): Int = {
    val staging = newStaging(name)
    stagingWrite(staging) {
      spec.sortedForWrite(df.withColumn("_bucket", spec.bucketColumn)
          .repartition(spec.nBuckets, col("_bucket")))
        .write.mode("overwrite").partitionBy("_bucket").parquet(staging.toString)
    }
    commitStaged(name, expected, staging, Some(spec))
  }

  /** Run a staging-dir producing `body`; on ANY failure the half-written
    * staging dir is deleted before rethrowing, so an aborted write (e.g.
    * IncrementalMerge's optimistic narrow pass hitting drift) never
    * orphans a `.staging-*` dir (ADVICE r5). [[prune]] additionally
    * sweeps age-stale staging dirs as a crash backstop. */
  private def stagingWrite(staging: Path)(body: => Unit): Unit =
    try body catch {
      case e: Throwable =>
        try deleteRecursively(staging) catch { case _: java.io.IOException => () }
        throw e
    }

  /** Copy-on-write merge commit for a bucketed table: `rewritten` holds the
    * new contents of ONLY the touched buckets (with `_bucket` present); all
    * other buckets are carried into the next version as hard links (copy
    * fallback) — file metadata ops, no data read or written. At cluster
    * scale this step is the manifest-level file reuse every table format
    * does; on a local/HDFS store links give the same O(files) cost.
    *
    * `filesPerBucket` is the write-parallelism knob: 1 (default) writes one
    * file per touched bucket — right at test scale; at cluster scale a
    * touched bucket can be ~10 GB, so callers raise it to split each
    * bucket's write across that many tasks (sub-splitting by PK hash).
    * File counts then grow per merge — [[compact]] bounds them. */
  def commitBucketMerge(
      rewritten: DataFrame,
      name: String,
      touched: Set[Int],
      filesPerBucket: Int = 1): Int =
    commitBucketMerge(rewritten, name, touched, filesPerBucket, requireVersion(name))

  /** As above with an explicit CAS anchor: `expected` is the version the
    * caller's `rewritten` rows were derived from ([[snapshot]]) — both the
    * carried-bucket link source and the commit's compare-and-swap use it,
    * so a concurrent commit between the caller's read and this write
    * conflicts instead of being silently merged over. */
  def commitBucketMerge(
      rewritten: DataFrame,
      name: String,
      touched: Set[Int],
      filesPerBucket: Int,
      expected: Int): Int = {
    require(filesPerBucket >= 1, "filesPerBucket must be >= 1")
    val spec = bucketSpec(name).getOrElse(
      throw new IllegalStateException(s"$name is not bucketed"))
    val cur = expected
    val curDir = tableDir(name).resolve(s"v$cur")
    val dest = newStaging(name)
    val distributed =
      if (filesPerBucket == 1)
        rewritten.repartition(math.max(1, touched.size), col("_bucket"))
      else // sub-split each bucket by PK hash: parallel write, k files/bucket.
        // xxhash64, NOT hash: `_bucket` is already pmod(hash(pks), nBuckets),
        // so a Murmur3 sub-key would be correlated with it (degenerately so
        // when filesPerBucket == nBuckets: one combo per bucket, no split).
        rewritten.repartition(math.max(1, touched.size) * filesPerBucket,
          col("_bucket"), pmod(xxhash64(spec.pks.map(col): _*), lit(filesPerBucket.toLong)))
    stagingWrite(dest) {
      spec.sortedForWrite(distributed)
        .write.mode("overwrite").partitionBy("_bucket").parquet(dest.toString)
      (0 until spec.nBuckets).filterNot(touched).foreach { b =>
        val src = curDir.resolve(s"_bucket=$b")
        if (Files.isDirectory(src)) {
          val dst = dest.resolve(s"_bucket=$b")
          Files.createDirectories(dst)
          val stream = Files.list(src)
          try stream.iterator().forEachRemaining { f =>
            if (f.getFileName.toString.startsWith("part-")) linkOrCopy(f, dst.resolve(f.getFileName))
          } finally stream.close()
        }
      }
      // carry a declared schema forward: linked pre-widen buckets still lack
      // the widened columns, so the read-time null fill must stay in force
      val sf = curDir.resolve("_schema.json")
      if (Files.exists(sf))
        Files.copy(sf, dest.resolve("_schema.json"), StandardCopyOption.REPLACE_EXISTING)
    }
    commitStaged(name, Some(cur), dest, Some(spec))
  }

  /** Part-file count of the current version of a PLAIN (unbucketed)
    * table — the health metric [[compactPlain]] reads. Pure file-metadata
    * op, O(files). */
  def fileCount(name: String): Int = {
    val verDir = Paths.get(path(name))
    val stream = Files.list(verDir)
    try {
      var n = 0
      stream.iterator().forEachRemaining(f =>
        if (f.getFileName.toString.startsWith("part-")) n += 1)
      n
    } finally stream.close()
  }

  /** Total part-file bytes of a SPECIFIC committed version (top-level and
    * `_bucket=N` files) — the size probe overlay-compaction policies read.
    * Pure file-metadata op, O(files); never opens a parquet footer. */
  def byteSizeAt(name: String, version: Int): Long = {
    def walk(dir: Path): Long = {
      if (!Files.isDirectory(dir)) return 0L
      val stream = Files.list(dir)
      try {
        var total = 0L
        stream.iterator().forEachRemaining { f =>
          val n = f.getFileName.toString
          if (Files.isDirectory(f)) { if (n.startsWith("_bucket=")) total += walk(f) }
          else if (n.startsWith("part-")) total += Files.size(f)
        }
        total
      } finally stream.close()
    }
    walk(versionPath(name, version))
  }

  /** Compaction for PLAIN tables — the sibling of [[compact]] for tables
    * maintained by whole-version rewrites (e.g. a signature index under a
    * per-micro-batch append cadence, where each union write inherits the
    * previous version's scan partitions and file counts creep upward):
    * when the current version holds more than `maxFiles` part files,
    * rewrite the same rows into `targetFiles` files as a CAS-protected
    * next version. The check is a directory listing — cheap enough to run
    * after every append — and a concurrent writer beats the compaction at
    * the CAS rather than losing rows to it.
    *
    * @return the new version, or None when already within the bound */
  def compactPlain(
      spark: SparkSession,
      name: String,
      maxFiles: Int = 64,
      targetFiles: Int = 8): Option[Int] = {
    require(bucketSpec(name).isEmpty,
      s"$name is bucketed — use compact(), which preserves the layout")
    require(targetFiles >= 1 && maxFiles >= targetFiles,
      s"need maxFiles >= targetFiles >= 1, got $maxFiles/$targetFiles")
    if (fileCount(name) <= maxFiles) None
    else {
      val (df, readVersion) = snapshot(spark, name)
      Some(write(df.repartition(targetFiles), name, Some(readVersion)))
    }
  }

  /** Per-bucket part-file counts of the current version — the health
    * metric compaction decisions read. Pure file-metadata op, O(files). */
  def bucketFileCounts(name: String): Map[Int, Int] = {
    val spec = bucketSpec(name).getOrElse(
      throw new IllegalStateException(s"$name is not bucketed"))
    val verDir = Paths.get(path(name))
    (0 until spec.nBuckets).flatMap { b =>
      val dir = verDir.resolve(s"_bucket=$b")
      if (!Files.isDirectory(dir)) None
      else {
        val stream = Files.list(dir)
        try Some(b -> {
          var n = 0
          stream.iterator().forEachRemaining(f =>
            if (f.getFileName.toString.startsWith("part-")) n += 1)
          n
        }) finally stream.close()
      }
    }.toMap
  }

  /** Compaction — the maintenance operator every copy-on-write layout needs
    * (Delta OPTIMIZE / Iceberg rewrite_data_files): rewrite every bucket
    * whose part-file count exceeds `maxFilesPerBucket` into ONE file, as a
    * new version through the same copy-on-write commit (healthy buckets
    * ride along as hard links; readers never observe a half-compacted
    * table). Without it, parallel merge writes (`filesPerBucket` > 1)
    * accumulate files in hot buckets until scan planning and open() costs
    * dominate — the classic small-file problem at CDC polling cadence.
    *
    * @return the new version, or None when every bucket is already within
    *         the threshold (no-op: no data read, no version created)
    */
  def compact(
      spark: SparkSession,
      name: String,
      maxFilesPerBucket: Int = 8): Option[Int] = {
    val oversized = bucketFileCounts(name).filter(_._2 > maxFilesPerBucket).keySet
    if (oversized.isEmpty) None
    else {
      // dir-level pruning: only oversized buckets are opened and rewritten;
      // snapshot so the commit CASes against the version the counts and
      // rows came from (compact racing a merge must lose, not clobber)
      val (raw, readVersion) = snapshotRaw(spark, name)
      val rows = raw
        .filter(col("_bucket").isin(oversized.toSeq.map(Integer.valueOf): _*))
      Some(commitBucketMerge(rows, name, oversized, 1, readVersion))
    }
  }

  private def linkOrCopy(src: Path, dst: Path): Unit =
    try Files.createLink(dst, src)
    catch {
      case _: UnsupportedOperationException | _: java.io.IOException =>
        Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    }

  /** A fresh private staging dir for one writer's next-version files.
    * Dot-prefixed so [[prune]]'s `v<N>` scan never matches it, and unique
    * per writer so two concurrent writers of the same table can never
    * clobber each other's files mid-write (both writing literally to
    * `v(N+1)`, the pre-CAS layout's quiet hazard). */
  private[graft] def newStaging(name: String): Path = {
    Files.createDirectories(tableDir(name))
    tableDir(name).resolve(s".staging-${java.util.UUID.randomUUID()}")
  }

  /** Commit `staging` as the table's next version — the compare-and-swap.
    *
    * `expected` is the version the writer resolved when it STARTED (None
    * for a create). Under the per-table lock: if `_current` still equals
    * `expected`, the staging dir is renamed to `v(expected+1)` and the
    * manifest swapped; if another writer moved the table first, the commit
    * throws [[VersionConflictException]] and the staging files are
    * deleted — the winner's version is never touched and readers are
    * unaffected throughout. */
  private[graft] def commitStaged(
      name: String,
      expected: Option[Int],
      staging: Path,
      spec: Option[BucketSpec]): Int =
    try withTableLock(name) {
      val cur = currentVersion(name)
      if (cur != expected)
        throw new VersionConflictException(
          s"table $name moved to v${cur.getOrElse(0)} while this writer " +
            s"prepared v${expected.getOrElse(0) + 1} from v${expected.getOrElse(0)} — " +
            "concurrent writer won; re-read and retry")
      val next = expected.getOrElse(0) + 1
      val dest = tableDir(name).resolve(s"v$next")
      // a crashed pre-CAS writer can have left a dead v(next) dir; it was
      // never committed (manifest still points at `expected`), so clear it
      if (Files.exists(dest)) deleteRecursively(dest)
      // the version's own layout travels with its files ([[bucketSpecAt]])
      Files.write(staging.resolve("_spec"),
        spec.map(_.manifestLine).getOrElse("").getBytes(StandardCharsets.UTF_8))
      Files.move(staging, dest, StandardCopyOption.ATOMIC_MOVE)
      val tmp = tableDir(name).resolve("_current.tmp")
      val body = next.toString +
        spec.map("\n" + _.manifestLine).getOrElse("")
      Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, manifest(name), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      prune(name, keep = next)
      next
    } finally {
      // loser (or any failure past the write): drop the orphaned staging
      if (Files.exists(staging))
        try deleteRecursively(staging) catch { case _: java.io.IOException => () }
    }

  /** Tiny critical section around the manifest CAS: an exclusive-create
    * lock file carrying the owner pid. Held only for the rename + manifest
    * swap (file metadata ops), never during data writes. A lock whose
    * recorded owner process is gone is broken after
    * [[TableStore.LockBreakGraceMs]] (crash recovery); acquisition times
    * out loudly rather than deadlocking.
    *
    * Breaking is ATOMIC (ADVICE r5): the stale lock is renamed aside to a
    * unique name first — two waiters racing the break can't both succeed,
    * because only one rename wins — and the owner pid is re-verified from
    * the renamed file before it is discarded. Without the rename, waiter A
    * could deleteIfExists the NEW lock waiter B just created after B broke
    * the same stale lock, letting two writers into the critical section at
    * once. The grace period guards against breaking a lock whose pid was
    * read mid-create and against pid-reuse immediately after a crash. */
  private def withTableLock[A](name: String)(body: => A): A = {
    val lock = tableDir(name).resolve("_commit.lock")
    val deadline = System.currentTimeMillis() + 30000L
    var acquired = false
    while (!acquired) {
      try {
        Files.write(lock, ProcessHandle.current().pid().toString
          .getBytes(StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        acquired = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val staleAndDead =
            try {
              val pid = new String(Files.readAllBytes(lock),
                StandardCharsets.UTF_8).trim.toLong
              val age = System.currentTimeMillis() -
                Files.getLastModifiedTime(lock).toMillis
              age > TableStore.LockBreakGraceMs && !ProcessHandle.of(pid).isPresent
            } catch { case _: Exception => false } // racing deletion → just retry
          if (staleAndDead) breakStaleLock(name, lock)
          else if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(
              s"could not acquire commit lock for table $name within 30s " +
                s"(held by a live process per $lock)")
          else Thread.sleep(10)
      }
    }
    try body finally Files.deleteIfExists(lock)
  }

  /** Break `lock` atomically: rename it aside (losers of the rename race
    * see NoSuchFile and simply re-loop), re-verify the owner from the
    * renamed file, and only then discard it. If the re-read says the owner
    * is alive after all (pid misread under a partial write, or reuse), the
    * lock is restored — unless a new holder already took its place, in
    * which case the aside copy is simply dropped. */
  private def breakStaleLock(name: String, lock: Path): Unit = {
    val aside = tableDir(name).resolve(s".lockbreak-${java.util.UUID.randomUUID()}")
    try {
      Files.move(lock, aside, StandardCopyOption.ATOMIC_MOVE)
      val stillDead =
        try {
          val pid = new String(Files.readAllBytes(aside),
            StandardCharsets.UTF_8).trim.toLong
          !ProcessHandle.of(pid).isPresent
        } catch { case _: Exception => true } // unreadable lock = junk; break it
      if (stillDead) Files.deleteIfExists(aside)
      else
        try Files.move(aside, lock, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.io.IOException => Files.deleteIfExists(aside); () }
    } catch {
      case _: java.io.IOException => () // another breaker won the rename; re-loop
    }
  }

  /** Best-effort removal of superseded versions, RETAINING the most recent
    * superseded one (`keep - 1`): a concurrent writer that snapshotted the
    * previous version may still be scanning its files for a staging write —
    * pruning it mid-scan fails that job with FileNotFoundException instead
    * of the [[VersionConflictException]] its retry loop understands
    * (ADVICE r5). One retained version bounds the storage overhead at ≤2×
    * the live table while closing the window for any writer that started
    * within one commit of the head; older stragglers are handled by
    * [[graft.streaming.CdcStream.withConflictRetry]] treating a missing
    * input file during a staged write as a retryable conflict.
    *
    * Also sweeps `.staging-*` dirs untouched for [[StaleStagingMs]] — the
    * crash backstop for writers that died between staging and commit (the
    * in-process failure path already cleans up via `stagingWrite`). */
  private def prune(name: String, keep: Int): Unit = {
    val dir = tableDir(name)
    if (Files.exists(dir)) {
      val now = System.currentTimeMillis()
      val stream = Files.list(dir)
      try {
        stream.iterator().forEachRemaining { p =>
          val n = p.getFileName.toString
          if (n.startsWith("v") && n.drop(1).forall(_.isDigit)
              && n.drop(1).toInt != keep && n.drop(1).toInt != keep - 1) {
            try deleteRecursively(p) catch { case _: java.io.IOException => () }
          } else if (n.startsWith(".staging-")) {
            try {
              if (now - Files.getLastModifiedTime(p).toMillis > TableStore.StaleStagingMs)
                deleteRecursively(p)
            } catch { case _: java.io.IOException => () }
          }
        }
      } finally stream.close()
    }
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().forEachRemaining(deleteRecursively) finally s.close()
    }
    Files.deleteIfExists(p)
  }
}
