package graft.operators

/** Shared concurrency discipline for multi-table OVERLAYS — families of
  * member tables whose visibility is governed by one pinned manifest:
  * every persisted index family ([[SignatureIndex]], [[PerceptualIndex]],
  * [[FrameIndex]], [[PostingsIndex]], [[IvfIndex]]) and [[CorpusProfile]].
  * Their manifests and bucket-pruned tier reads live in ONE place,
  * [[IndexTier]]; this object holds the locking, retry, parallel-commit
  * and compaction policies those families share. [[mutate]] is the
  * families' single write discipline: every overlay mutation runs
  * through it, under the in-process lock and the bounded retry.
  *
  * Member tables commit as independent per-table CAS swaps, so two
  * in-process writers racing the same overlay can SPLIT the wins — each
  * takes one member CAS and loses another — and then both abort: the
  * round-11 livelock, where a batch was admitted by neither racer. The
  * JVM-wide per-overlay mutex here closes that schedule outright for
  * in-process writers; the manifest CAS stays in force as the
  * cross-process backstop, where [[retryOnConflict]] turns a split-win
  * into a rollback-and-redo instead of an abort.
  */
private[graft] object OverlayLock {

  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()

  /** The families' single write discipline: run one overlay mutation
    * under the JVM-wide mutation mutex for (`scope`, overlay `name`) in
    * `store`, redoing it through [[retryOnConflict]]. Every mutating entry
    * point of every overlay family goes through here, each under its
    * family's `scope` string. The mutex is keyed by the store ROOT (not
    * instance), so two store handles over one directory share it, and is
    * reentrant: overlay operations delegate to one another (e.g. a stale
    * build decision falls through to append) under the same lock. */
  def mutate[A](store: TableStore, scope: String, name: String)(attempt: => A): A = {
    val lock = locks.computeIfAbsent(
      scope + "#" + store.root + "#" + name,
      _ => new java.util.concurrent.locks.ReentrantLock())
    lock.lock()
    try retryOnConflict(attempt) finally lock.unlock()
  }

  /** Attempts per mutation before a conflict is rethrown. */
  private val MaxAttempts = 3

  /** The one conflict-retry loop: run `attempt`, redoing it on
    * [[VersionConflictException]] up to [[MaxAttempts]] times in total and
    * rethrowing the last conflict. A conflict means a cross-process peer
    * moved a member table or the manifest under us — the next attempt
    * re-reads the manifest, rolls back the split-win orphans, and
    * re-derives from committed-visible state. Bounded: overlay writers
    * are designed to be singular per deployment, so a persistent loser
    * should fail loudly rather than loop against a livelocking peer.
    *
    * A FileNotFoundException anywhere in the failure's cause chain is the
    * SAME conflict wearing a different face (ADVICE r5): the staged scan
    * was reading a version a concurrent winner's commit pruned out from
    * under it. TableStore retains one superseded version to narrow that
    * window, but a writer more than one commit behind can still hit it —
    * re-reading and retrying is exactly the right recovery. */
  def retryOnConflict[A](attempt: => A): A = {
    def prunedUnderneath(t: Throwable): Boolean = {
      var cur = t
      var depth = 0
      while (cur != null && depth < 16) {
        if (cur.isInstanceOf[java.io.FileNotFoundException] ||
            cur.getClass.getSimpleName.contains("FileNotFound")) return true
        cur = cur.getCause
        depth += 1
      }
      false
    }
    var n = 0
    while (true) {
      try return attempt
      catch {
        case e: Throwable if e.isInstanceOf[VersionConflictException] || prunedUnderneath(e) =>
          n += 1
          if (n >= MaxAttempts) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** A bucket holding this many part files at an append's pin is
    * compacted by that append ([[appendOrCompact]]). */
  private val MaxFilesPerBucket = 8

  /** Commit an overlay member's append at its manifest `pin`, in the
    * layout that version was written with ([[TableStore.bucketSpecAt]]).
    * The common path is an O(batch) linked write ([[TableStore.appendRows]]:
    * new part files + hard links of the pinned version — a 100 TB member
    * never gets rewritten to admit a micro-batch). Once the pinned
    * version's files creep, the append folds a compaction in instead:
    *  - plain: past `maxFiles` part files, a compacting full rewrite of
    *    stored ∪ fresh at `targetFiles` files — amortized to one rewrite
    *    every ~`maxFiles` appends;
    *  - bucketed: once any bucket holds [[MaxFilesPerBucket]] files, ONLY
    *    the oversized buckets plus the batch's own buckets are read and
    *    rewritten (one file each) while every healthy bucket carries as
    *    hard links ([[TableStore.commitBucketMerge]]) — never a
    *    full-corpus rewrite of cold buckets.
    * One version step either way, so the caller's manifest pin stays
    * inside the prune retention window; the caller publishes the returned
    * version via its manifest swap as usual. */
  def appendOrCompact(
      spark: org.apache.spark.sql.SparkSession,
      store: TableStore,
      table: String,
      pin: Int,
      fresh: org.apache.spark.sql.DataFrame,
      maxFiles: Int = 64,
      targetFiles: Int = 8): Int = {
    import org.apache.spark.sql.functions.col
    store.bucketSpecAt(table, pin) match {
      case None =>
        if (store.partFiles(table, pin).size <= maxFiles) store.appendRows(fresh, table, pin)
        else store.write(store.snapshotAt(spark, table, pin).unionByName(fresh)
          .repartition(targetFiles), table, Some(pin))
      case Some(spec) =>
        // rebucket-on-append: an APPEND-ONLY tier never passes through an
        // amortized fold, so [[grownSpec]]'s per-bucket byte invariant must
        // hook the append path itself or per-bucket bytes grow without
        // bound (the pure-append corpus case). The check is one
        // file-metadata walk; growth rehashes every bucket id, so it rides
        // a full rewrite at the grown layout — amortized the same way as
        // the fold-side growth (bytes double between rewrites).
        val grown = grownSpec(spark, spec, store.byteSizeAt(table, pin))
        lazy val oversized = store.bucketFileCountsAt(table, pin)
          .filter(_._2 >= MaxFilesPerBucket).keySet
        if (grown.nBuckets != spec.nBuckets)
          store.writeBucketed(store.snapshotAt(spark, table, pin).unionByName(fresh),
            table, grown, Some(pin))
        else if (oversized.isEmpty) store.appendRows(fresh, table, pin)
        else {
          val freshB = fresh.withColumn("_bucket", spec.bucketColumn)
          // bounded collect: at most nBuckets distinct values
          val freshBuckets = freshB.select(col("_bucket")).distinct()
            .collect().map(_.getInt(0)).toSet
          val touched = oversized ++ freshBuckets
          val storedTouched = store.snapshotRawAt(spark, table, pin)
            .filter(col("_bucket").isin(touched.toSeq.map(Integer.valueOf): _*))
          store.commitBucketMerge(storedTouched.unionByName(freshB), table,
            touched, 1, pin)
        }
    }
  }

  /** Daemon pool for concurrent member-table commits; sized generously —
    * tasks are Spark actions that spend their time blocked on executors,
    * not on these threads. */
  private lazy val commitPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-overlay-commit")
        t.setDaemon(true)
        t
      }))

  /** Run INDEPENDENT member-table commits of one overlay swap concurrently
    * — each tier append is its own small Spark job, and serializing them
    * stacks fixed job latency onto every micro-batch drain; different
    * member tables never share a CAS or a commit lock, so their staging
    * writes compose. Waits for ALL tasks to settle before returning or
    * throwing, so a failed attempt never leaves a straggler commit racing
    * the caller's rollback-and-retry. When several tasks fail, a
    * [[VersionConflictException]] is rethrown in preference to any other
    * error (else the first failure): every retry loop catches only that
    * exception, so a conflict must not hide behind an incidental error. */
  private[graft] def inParallel(tasks: Seq[() => Any]): Seq[Any] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.util.{Failure, Try}
    implicit val ec: scala.concurrent.ExecutionContext = commitPool
    val settled = Await.result(
      Future.sequence(tasks.map(t => Future(Try(t())))), Duration.Inf)
    val failures = settled.collect { case Failure(e) => e }
    failures.find(_.isInstanceOf[VersionConflictException])
      .orElse(failures.headOption).foreach(e => throw e)
    settled.map(_.get)
  }

  /** Rebucket-at-fold policy: the constant-per-bucket-bytes rule the
    * pruned-read proofs assume, as CODE instead of scaladoc advice. A
    * bucketed tier's count is pinned at build time; a genuinely growing
    * corpus would otherwise silently violate the sizing invariant every
    * bucket-pruned screen depends on (bytes per touched bucket grow with
    * the corpus). Every AMORTIZED FOLD — the one moment the tier is
    * rewritten wholesale anyway — doubles the bucket count until the
    * tier's projected bytes fit `spark.graft.targetBucketBytes` per
    * bucket (default 64 MiB — the clustered-table file-size class;
    * deployments size it to their scan-granularity target). Growth is
    * monotone and costs nothing extra: the fold was already writing
    * every row, and the new count is recorded in the table manifest so
    * every later read derives its touched buckets from the grown
    * layout. The no-growth case returns the spec unchanged. */
  private[graft] def grownSpec(
      spark: org.apache.spark.sql.SparkSession,
      spec: BucketSpec, projectedBytes: Long): BucketSpec = {
    val target = spark.conf.getOption("spark.graft.targetBucketBytes")
      .map(_.toLong).getOrElse(64L << 20)
    var n = spec.nBuckets
    while (projectedBytes / n > target && n < (1 << 20)) n *= 2
    if (n == spec.nBuckets) spec else spec.copy(nBuckets = n)
  }

  /** Roll a member table back to its manifest pin when (and only when)
    * orphan successors sit above it AND the pinned version still exists.
    * Both guards matter in degenerate repair states: a pin AHEAD of the
    * current version (rolling "forward" is impossible) and a pin whose
    * files were pruned by stacked orphan commits (the caller's fresh
    * write + manifest swap is itself the repair). */
  def rollbackIfAhead(store: TableStore, table: String, pin: Int): Unit =
    if (store.currentVersion(table).exists(_ > pin) &&
        store.hasVersion(table, pin))
      store.rollbackTo(table, pin)
}
