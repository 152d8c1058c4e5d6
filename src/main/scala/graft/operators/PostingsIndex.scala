package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Persisted BM25 postings index — the RETRIEVAL-side analogue of
  * [[IvfIndex]]'s maintain-then-serve discipline (and of the reference's
  * incremental state maintenance, control_migration_schema_script.sql:244,
  * 412–416): pay the one (doc, term) shuffle ONCE at build, then fold
  * arriving batches into committed state and serve every later probe
  * batch from the stored postings. This is exactly what
  * [[Retrieval.bm25Against]] cannot do — it rebuilds the inverted index
  * inside every invocation, a cost a 100 TB decontamination-audit corpus
  * pays once, here.
  *
  * Storage (member tables of one family, pinned by `<name>_manifest` —
  * the [[CorpusProfile]]/[[IvfIndex]] overlay pattern, third instance):
  *
  *  - `<name>_postings` — `(doc_id, dl, term, tf)`: the inverted index in
  *    long form, doc length denormalized so scoring never joins it back;
  *  - `<name>_docs` — `(doc_id, dl, terms)`: one row per indexed document
  *    (INCLUDING zero-token docs, which never reach postings but count
  *    toward N/avgdl — the corpus-stats source and the insert-only
  *    membership anchor), carrying the doc's DISTINCT term list so every
  *    per-doc bookkeeping read (an upsert's exact-df subtraction, a
  *    takedown's) resolves from this one tier instead of scanning the
  *    postings. The tier is HASH-BUCKETED by doc_id ([[BucketSpec]]), so
  *    keyed reads prune to the batch's buckets at the directory level —
  *    bytes read per revision batch are ∝ the touched buckets, never the
  *    corpus (size buckets to a constant byte target as the corpus
  *    grows, the standard clustered-table rule);
  *  - `<name>_termstats` — `(term, df)`: per-term document frequency,
  *    maintained by CELL-WISE SUM (append adds the fresh docs' distinct
  *    terms, takedown subtracts exactly) so serving never re-aggregates
  *    the vocabulary from postings; TERM-HASH-BUCKETED so a serve read
  *    prunes to the query's term buckets ([[termDfForTerms]]) — the
  *    vocabulary is ∝ corpus under Heaps' law, and scoring only ever
  *    needs the query's terms;
  *  - `<name>_manifest` — every member's version + the streaming
  *    admission gate's `last_batch_id`, swapped once per mutation.
  *
  * Every piece of this state is EXACTLY mergeable — postings/docs rows
  * union disjointly (insert-only by doc id), df counts are sums — so
  * build-then-append equals a from-scratch build bit-for-bit, and unlike
  * the KMV/level sketches the takedown is exact: [[remove]] anti-joins
  * the doc rows and subtracts their df contributions, no rebuild needed.
  * The declared query (q111) proves mergeability the strong way: build
  * on 90% of the corpus, append the other 10%, and serving must
  * hash-match the FULL-corpus [[Retrieval.bm25Against]] oracle (q97's
  * SQL verbatim).
  *
  * Scale shape: build/append pay one (doc, term) exchange over their
  * input (never over history); state is Σ dl postings rows; serving
  * joins the tiny probe-term set (broadcast) onto the stored postings —
  * scored volume Σ_t df(t), never probes × corpus — plus a bucket-pruned
  * read of the query's termstats buckets; the corpus counters (N, Σdl) come
  * straight from the manifest, zero Spark jobs. The scoring tail is
  * [[Retrieval.bm25ScoreAndTopK]], shared with the ad-hoc path, so the
  * served scores are bit-identical to a fresh index build.
  */
object PostingsIndex {

  private def postingsTable(name: String) = s"${name}_postings"
  private def docsTable(name: String) = s"${name}_docs"
  private def termStatsTable(name: String) = s"${name}_termstats"
  // revision-overlay members: the replacement postings/doc rows an
  // [[upsert]] admits, shadowing their base doc_ids at read time —
  // committed bytes per revision batch are O(batch ∪ overlay), never a
  // rewrite of the corpus-sized base (the [[IvfIndex]] overlay, applied
  // to the lexical tier; termstats stays an authoritative merge-rewrite
  // because it is vocabulary-sized, not corpus-sized)
  private def ovlPostingsTable(name: String) = s"${name}_postings_ovl"
  private def ovlDocsTable(name: String) = s"${name}_docs_ovl"
  // termstats DELTA member: per-term df adjustments (positive from fresh
  // docs, negative from replaced/removed ones) committed O(batch-terms)
  // per drain and merged into the authoritative table only at the
  // amortized fold — the overlay discipline applied to the one remaining
  // super-batch-sized per-drain WRITE (the vocabulary grows with the
  // corpus under Heaps' law, so the old per-drain merge-rewrite of
  // `_termstats` was ∝ vocabulary, not ∝ batch)
  private def dltTermStatsTable(name: String) = s"${name}_termstats_dlt"
  private def manifestTable(name: String) = s"${name}_manifest"

  /** Default STARTING doc_id-hash bucket count for the docs tier —
    * deliberately small (a keyed read opens one file per touched
    * bucket); every amortized fold doubles it past the per-bucket byte
    * target ([[OverlayLock.grownSpec]]), so the pruned-read invariant
    * holds at any corpus size without manual sizing. */
  val DocBuckets: Int = 8

  /** Small batches additionally push their EXACT id set into the scan
    * (Spark plants it as a parquet In / min-max range filter), so a
    * key-local revision batch prunes below the bucket level through the
    * sorted layout's tight row-group stats; past this many distinct ids
    * the read pushes the batch's min-max RANGE instead (a thousands-
    * literal In costs more in plan/eval than its pruning buys, and a
    * wide batch defeats row-group stats anyway). */
  val MaxIdPushdown: Long = 512L

  /** Default STARTING term-hash bucket count for the termstats tier —
    * the same grow-at-fold rule as [[DocBuckets]], keyed by term so a
    * serve read prunes to the QUERY's term buckets
    * ([[termDfForTerms]]). */
  val TermBuckets: Int = 8

  /** Default STARTING term-hash bucket count for the POSTINGS tier
    * itself — the termstats treatment applied to the corpus-sized
    * inverted index: BM25 scoring only ever joins the QUERY's terms
    * onto the postings, so a term-bucketed layout lets every serve read
    * prune to the query's term buckets at the directory level instead
    * of scanning Σ dl postings rows per probe batch. Same
    * grow-at-fold rule as the other tiers ([[OverlayLock.grownSpec]]).
    * Doc-keyed mutations (remove, the upsert fold) rewrite the tier
    * wholesale anyway, so the term layout costs them nothing extra. */
  val PostBuckets: Int = 8

  // ---------------------------------------------------------------- manifest

  /** Member pins + the admission gate + the CORPUS COUNTERS. N and Σdl
    * are exact mergeable sums, so they ride in the manifest instead of
    * costing every serve a full docs-table scan + aggregate: build sets
    * them, append adds the fresh batch's, remove subtracts the dropped
    * docs' — always in the same swap as the rows they describe. The
    * counters and termstats describe the SERVED corpus (base ∖ overlay
    * ids ∪ overlay); `ovl*` pins are the revision overlay (`None` =
    * empty). */
  private[graft] final case class BmManifest(
      postings: Int, docs: Int, termStats: Int,
      nDocs: Long, sumDl: Long, lastBatchId: Long = -1L,
      ovlPostings: Option[Int] = None, ovlDocs: Option[Int] = None,
      dltTermStats: Option[Int] = None) extends IndexTier.Manifest {
    def fields: Seq[(String, Any)] = Seq("postings_v" -> postings,
      "docs_v" -> docs, "termstats_v" -> termStats, "n_docs" -> nDocs,
      "sum_dl" -> sumDl, "ovl_postings_v" -> ovlPostings.getOrElse(-1),
      "ovl_docs_v" -> ovlDocs.getOrElse(-1),
      "dlt_termstats_v" -> dltTermStats.getOrElse(-1), "last_batch_id" -> lastBatchId)
  }

  /** `(count, Σdl)` of a `(doc_id, dl, ...)` frame — one tiny aggregate,
    * paid per MUTATION so serving never pays it. */
  private def docCounters(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Absent overlay/delta pins = a pre-overlay manifest (older persisted
    * index): empty overlay, not an error. */
  private[graft] def readManifest(
      store: TableStore, name: String): Option[(BmManifest, Int)] =
    IndexTier.readManifest(store, manifestTable(name), "postings manifest") { f =>
      BmManifest(f.int("postings_v"), f.int("docs_v"), f.int("termstats_v"),
        f.long("n_docs"), f.long("sum_dl"), f.long("last_batch_id"),
        f.pin("ovl_postings_v"), f.pin("ovl_docs_v"), f.pin("dlt_termstats_v"))
    }

  private def requireManifest(store: TableStore, name: String): (BmManifest, Int) =
    readManifest(store, name).getOrElse(throw new IllegalStateException(
      s"postings index $name has no manifest — build it first"))

  private def mutate[A](store: TableStore, name: String)(attempt: => A): A =
    OverlayLock.mutate(store, "bm25", name)(attempt)

  /** The revision-overlay set at `m`'s pins, keyed by `doc_id`: the
    * postings `(doc_id, dl, term, tf)` bucketed on `term`, then the docs
    * `(doc_id, dl, terms)` bucketed on `doc_id`, both derived from
    * tokenized `(doc_id, _toks, dl)` rows. */
  private def overlay(name: String, m: BmManifest): IndexTier.Overlay =
    IndexTier.Overlay("doc_id", Seq(
      IndexTier.Shadowed(postingsTable(name), m.postings, ovlPostingsTable(name) -> m.ovlPostings,
        Some(IndexTier.keyed(PostBuckets, "term")), postingsOf),
      IndexTier.Shadowed(docsTable(name), m.docs, ovlDocsTable(name) -> m.ovlDocs,
        Some(IndexTier.keyed(DocBuckets, "doc_id")), docRowsOf)))

  /** `m` at the pins of `o`. */
  private def pinned(name: String, m: BmManifest, o: IndexTier.Overlay): BmManifest = {
    val (p, d) = (o(postingsTable(name)), o(docsTable(name)))
    m.copy(postings = p.pin, ovlPostings = p.ovl._2, docs = d.pin, ovlDocs = d.ovl._2)
  }

  /** Roll every member back to its pin: the overlay set, termstats and its
    * delta. */
  private def rollback(store: TableStore, name: String, m: BmManifest): Unit =
    IndexTier.rollbackAll(store, overlay(name, m).members ++ Seq(
      termStatsTable(name) -> Some(m.termStats), dltTermStatsTable(name) -> m.dltTermStats))

  /** Raw `(term, df)` rows of base ∪ delta, UNMERGED and UNCLAMPED — the
    * single source every served/folded df view groups and clamps ONCE
    * (double-clamping forgives a transiently negative cell before a later
    * positive delta lands, over-counting relative to a one-shot merge). */
  private def rawTermRows(
      spark: SparkSession, store: TableStore, name: String, m: BmManifest): DataFrame = {
    val base = store.snapshotAt(spark, termStatsTable(name), m.termStats)
    m.dltTermStats match {
      case None => base
      case Some(pin) =>
        base.unionByName(store.snapshotAt(spark, dltTermStatsTable(name), pin))
    }
  }

  /** The served `(term, df)` view: authoritative base ⊕ the delta member
    * (cell-wise sum, non-positive cells dropped — exact arithmetic, so a
    * served df is bit-equal to the old per-drain merge-rewrite's). */
  private def termDfAt(
      spark: SparkSession, store: TableStore, name: String, m: BmManifest): DataFrame =
    m.dltTermStats match {
      case None => store.snapshotAt(spark, termStatsTable(name), m.termStats)
      case Some(_) =>
        rawTermRows(spark, store, name, m)
          .groupBy(col("term")).agg(greatest(sum(col("df")), lit(0L)).as("df"))
          .filter(col("df") > 0)
    }

  /** [[termDfAt]] PRUNED to the buckets in `touched` (the query terms'
    * termstats buckets) — the serve read BM25 scoring actually needs:
    * scoring touches only the QUERY'S terms, so on a term-bucketed
    * termstats layout the base read opens only those buckets
    * (directory-level pruning) and the delta filters by the same rule —
    * every served term's df is exact, and the vocabulary-sized
    * base⊕delta merge never runs at query time. At 100 TB the
    * vocabulary is billions of terms (Heaps' law); this keeps the last
    * per-query vocab-sized read off the serve path. A legacy plain layout
    * serves the full merge. */
  private def termDfForBuckets(
      spark: SparkSession, store: TableStore, name: String, m: BmManifest,
      touched: Seq[Int]): DataFrame = {
    val rows = IndexTier.prunedWithDelta(spark, store, termStatsTable(name),
      m.termStats, touched,
      IndexTier.deltaFrame(spark, store, dltTermStatsTable(name), m.dltTermStats),
      identity)
    if (m.dltTermStats.isEmpty) rows
    else rows.groupBy(col("term")).agg(greatest(sum(col("df")), lit(0L)).as("df"))
      .filter(col("df") > 0)
  }

  /** The served POSTINGS pruned to the buckets in `touched` (the query
    * terms' postings buckets): the base read opens only those buckets —
    * never Σ dl rows per probe batch — and the compaction-bounded
    * revision overlay merges in unpruned (small by policy; rows outside
    * the query's terms are dropped by the scoring join). A legacy plain
    * layout serves the full merged read. */
  private def postingsForBuckets(
      spark: SparkSession, store: TableStore, name: String, m: BmManifest,
      touched: Seq[Int]): DataFrame =
    overlay(name, m).merged(spark, store, postingsTable(name),
      IndexTier.prunedAt(spark, store, postingsTable(name), m.postings, touched))

  /** Commit a per-term df adjustment (`delta` — positive and/or negative
    * rows, already grouped by term) under the overlay discipline: the
    * common path rewrites only the compaction-bounded DELTA member
    * (O(batch-terms ∪ delta) bytes); past `max(1 MiB, base/8)` of
    * pre-batch delta bytes the drain rides one amortized fold that
    * merges base ⊕ delta ⊕ batch into the authoritative table and
    * clears the pin. Returns the (termStats, dltTermStats) pins to
    * publish. */
  private def commitTermDelta(
      spark: SparkSession, store: TableStore, name: String, m: BmManifest,
      delta: DataFrame): (Int, Option[Int]) = {
    val deltaFull = m.dltTermStats.exists(pin => IndexTier.foldDue(
      store.byteSizeAt(dltTermStatsTable(name), pin),
      store.byteSizeAt(termStatsTable(name), m.termStats)))
    if (deltaFull) {
      // fold from the RAW base ∪ delta ∪ batch union with ONE final
      // clamp — clamping the served view first and again after the batch
      // merge would forgive a transiently negative cell before a later
      // positive delta lands (over-counting vs a one-shot merge).
      // Rebucket-at-fold: the term count grows with the vocabulary
      // (Heaps' law), so the fold doubles the bucket count past the
      // per-bucket byte target ([[OverlayLock.grownSpec]]).
      val projected = store.byteSizeAt(termStatsTable(name), m.termStats) +
        m.dltTermStats.map(store.byteSizeAt(dltTermStatsTable(name), _))
          .getOrElse(0L)
      val tv = store.writeBucketed(
        rawTermRows(spark, store, name, m).unionByName(delta)
          .groupBy(col("term")).agg(greatest(sum(col("df")), lit(0L)).as("df"))
          .filter(col("df") > 0),
        termStatsTable(name),
        OverlayLock.grownSpec(spark,
          IndexTier.layout(store, termStatsTable(name), TermBuckets, "term"), projected),
        Some(m.termStats))
      (tv, None)
    } else {
      val dv = m.dltTermStats match {
        case Some(pin) => store.write(
          store.snapshotAt(spark, dltTermStatsTable(name), pin)
            .unionByName(delta)
            .groupBy(col("term")).agg(sum(col("df")).as("df"))
            .filter(col("df") =!= 0).coalesce(4),
          dltTermStatsTable(name), Some(pin))
        case None => store.write(delta.filter(col("df") =!= 0).coalesce(4),
          dltTermStatsTable(name), store.currentVersion(dltTermStatsTable(name)))
      }
      (m.termStats, Some(dv))
    }
  }

  /** Base docs rows PRUNED to the buckets `keys` can hash into — the
    * keyed read every per-batch bookkeeping path goes through:
    * `_bucket isin(...)` prunes at the directory level, so unread
    * buckets are never opened and the bytes read are ∝ the batch's
    * buckets rather than the corpus ([[PrunedReadSpec]] measures it).
    * A pre-r16 plain layout falls back to the full scan. */
  private def baseDocsForKeys(
      spark: SparkSession, store: TableStore, name: String, m: BmManifest,
      keys: DataFrame): DataFrame =
    IndexTier.prunedAt(spark, store, docsTable(name), m.docs,
      IndexTier.touchedBuckets(store, docsTable(name), m.docs, keys))

  /** SERVED (overlay-merged) docs rows of exactly `batchIds`' ids — ONE
    * bucket-pruned keyed read feeding both the replaced-doc counters and
    * the exact-df subtraction. `touched` is the batch's precomputed
    * bucket list (ignored by a plain pre-r16 layout's full scan);
    * `idPredicate` is the batch's pushed key predicate (an In set or a
    * min-max range — superset-safe, so applying it before the semi-join
    * only prunes), which the sorted-within-bucket layout turns into
    * parquet row-group skips. */
  private def servedDocsForIds(
      spark: SparkSession, store: TableStore, name: String, m: BmManifest,
      batchIds: DataFrame, touched: Seq[Int],
      idPredicate: Option[org.apache.spark.sql.Column]): DataFrame = {
    val base = IndexTier.prunedAt(spark, store, docsTable(name), m.docs, touched)
    overlay(name, m).merged(spark, store, docsTable(name),
      idPredicate.map(base.filter).getOrElse(base))
      .join(batchIds, Seq("doc_id"), "left_semi")
  }

  // -------------------------------------------------------------- tokenizing

  /** `(doc_id, dl, _toks)` — the SAME tokenization as
    * [[Retrieval.bm25Against]] (and its oracle), or served scores drift.
    *
    * Deduplicated BY DOC ID within the input: doc ids are this index's
    * primary key, and a batch carrying the same id twice (at-least-once
    * upstream delivery, two staged files in one trigger) must index it
    * ONCE — the stored-ids anti-join alone only screens against history.
    * Without this, a doubled row permanently inflates N, df and every
    * served score. The winner among conflicting duplicate texts is the
    * md5-smallest token stream — deterministic under any partitioning
    * (the same canonicalization trick as the sampling/seeding draws);
    * [[IvfIndex.assign]] gets the equivalent guarantee structurally from
    * its per-id argmax. */
  private def tokenized(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        filter(TextFunctions.tokens(col(textCol)), t => length(t) > 0).as("_toks"))
      .groupBy(col("doc_id"))
      .agg(min_by(col("_toks"), md5(concat_ws(" ", col("_toks")))).as("_toks"))
      .withColumn("dl", size(col("_toks")).cast("long"))

  /** `(doc_id, dl, terms)` docs rows of a tokenized frame — the doc's
    * DISTINCT terms ride in the row so df bookkeeping never needs the
    * postings tier. */
  private def docRowsOf(tok: DataFrame): DataFrame =
    tok.select(col("doc_id"), col("dl"),
      array_distinct(col("_toks")).as("terms"))

  /** `(doc_id, dl, term, tf)` postings of a tokenized frame — the one
    * (doc, term) exchange. */
  private def postingsOf(tok: DataFrame): DataFrame =
    tok.select(col("doc_id"), col("dl"), explode(col("_toks")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term")) // dl functional on doc_id
      .agg(count(lit(1)).as("tf"))

  /** `(term, df)` of a tokenized frame — one row per doc, so df counts
    * each doc's DISTINCT terms in one term-keyed aggregate, without the
    * postings' (doc, term) exchange. */
  private def termDfOf(tok: DataFrame): DataFrame =
    tok.select(explode(array_distinct(col("_toks"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))

  // ------------------------------------------------------------------ build

  /** Tokenize `df`, pay the one (doc, term) shuffle, and commit all three
    * member tables + the manifest swap. Rebuilding an existing index
    * replaces every member (the admission gate survives, as in
    * [[IvfIndex.build]]). `docBuckets` is the docs tier's doc_id-hash
    * bucket count — size it to a constant per-bucket byte target at
    * scale so revision-batch reads stay corpus-size-independent. */
  def build(
      df: DataFrame,
      idCol: String,
      textCol: String,
      store: TableStore,
      name: String,
      docBuckets: Int = DocBuckets): Unit =
    mutate(store, name) {
      val prev = readManifest(store, name)
      prev.foreach { case (m, _) => rollback(store, name, m) }
      val spark = df.sparkSession
      // pinned: the docs write and the postings write would otherwise
      // each re-run the tokenize + dedupe chain end-to-end
      val tok = tokenized(df, idCol, textCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val dv = store.writeBucketed(docRowsOf(tok), docsTable(name),
          IndexTier.keyed(docBuckets, "doc_id"))
        // postings are TERM-bucketed so serve reads prune to the
        // query's term buckets ([[postingsForTerms]])
        val pv = store.writeBucketed(postingsOf(tok), postingsTable(name),
          IndexTier.keyed(PostBuckets, "term"))
        val tv = store.writeBucketed(termDfOf(tok),
          termStatsTable(name), IndexTier.keyed(TermBuckets, "term"))
        val (n, sdl) = docCounters(store.snapshotAt(spark, docsTable(name), dv))
        IndexTier.commitManifest(store, manifestTable(name),
          BmManifest(pv, dv, tv, n, sdl,
            prev.map(_._1.lastBatchId).getOrElse(-1L)),
          prev.map(_._2))
      } finally tok.unpersist()
    }

  // ----------------------------------------------------------- append/remove

  /** Fold a document batch into the committed index — no rescan of
    * history. INSERT-ONLY by doc id (the [[IvfIndex.append]] contract):
    * a re-sent id — even with changed text — is a no-op; upserts go
    * through [[remove]] + append. */
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
    if (stamp.exists(_ <= m.lastBatchId)) return false
    rollback(store, name, m)
    // pinned twice: tok feeds the bucket-list collect AND the screen;
    // fresh's four consumers below (docs append, postings, termstats
    // delta, counters) would otherwise each re-run the tokenize +
    // dedupe + stored-ids anti-join chain end-to-end — the same hygiene
    // rationale as bm25Against's postings pin
    val tok = tokenized(batch, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // insert-only against the SERVED id set: base docs AND the revision
    // overlay's. The stored-ids screen reads ONLY the buckets the batch's
    // ids hash into — a batch can only collide with history inside its
    // own buckets
    val fresh = overlay(name, m).screen(spark, store, docsTable(name), tok.join(
        baseDocsForKeys(spark, store, name, m, tok).select(col("doc_id")),
        Seq("doc_id"), "left_anti"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one aggregate over the pinned batch FIRST: it materializes the
      // fresh cache, so the three concurrent member commits below read it
      // instead of racing to compute it
      val (dn, dsdl) = docCounters(fresh)
      // O(batch) member commits for the corpus-sized tables: only the
      // fresh rows are written, the pinned version's files carry as links
      // (the compacting variants fold a rewrite in when counts creep);
      // termstats rides its O(batch-terms) delta member. The three
      // members are independent tables (no shared CAS), so their commits
      // run concurrently — serializing them stacks three fixed job
      // latencies onto every micro-batch drain (the
      // [[OverlayLock.inParallel]] rationale).
      val freshPostings = postingsOf(fresh)
      val Seq(dvA, pvA, tvA) = OverlayLock.inParallel(Seq(
        () => OverlayLock.appendOrCompactBucketed(spark, store,
          docsTable(name), m.docs, docRowsOf(fresh)),
        // term-bucketed layout preserved across appends (legacy plain
        // postings keep the linked-append path until a full rewrite)
        () => if (store.bucketSpec(postingsTable(name)).isDefined)
          OverlayLock.appendOrCompactBucketed(spark, store,
            postingsTable(name), m.postings, freshPostings)
        else OverlayLock.appendOrCompact(store, postingsTable(name), m.postings,
          store.snapshotAt(spark, postingsTable(name), m.postings), freshPostings),
        // df merge is CELL-WISE SUM — the one sketch-free mergeable tier;
        // committed as an O(batch-terms) delta, folded amortized
        () => commitTermDelta(spark, store, name, m, termDfOf(fresh))))
      val dv = dvA.asInstanceOf[Int]
      val pv = pvA.asInstanceOf[Int]
      val (tv, dltv) = tvA.asInstanceOf[(Int, Option[Int])]
      IndexTier.commitManifest(store, manifestTable(name),
        m.copy(postings = pv, docs = dv, termStats = tv, dltTermStats = dltv,
          nDocs = m.nDocs + dn, sumDl = m.sumDl + dsdl,
          lastBatchId = stamp.getOrElse(m.lastBatchId)), Some(mv))
      true
    } finally { fresh.unpersist(); tok.unpersist() }
  }

  /** UPSERT: replace-or-insert the batch's documents in ONE manifest
    * swap — the re-crawl path ([[append]] is deliberately insert-only, so
    * a revised document would otherwise need [[remove]] + [[append]]:
    * two commit points, a reader-visible window where the doc is ABSENT
    * from retrieval, and a crash between them that loses it entirely).
    * The batch's doc/posting rows land in the REVISION OVERLAY — small
    * members whose doc_ids shadow the base at read time — while term dfs
    * adjust by (fresh − removed) exactly and the global counters
    * likewise; the single swap publishes all of it: a concurrent query
    * scores the old revision or the new one, never neither.
    *
    * Cost shape: committed bytes are O(batch ∪ overlay) + O(vocabulary)
    * for the termstats merge-rewrite — the corpus-sized base tiers are
    * untouched until the overlay outgrows the policy bound and folds
    * (the one amortized rewrite). Bytes READ are batch-proportional too:
    * the exact df subtraction resolves the replaced docs' old term lists
    * from the doc_id-bucketed docs tier, pruned to the batch's buckets
    * at the directory level — never a corpus-wide postings scan
    * ([[PrunedReadSpec]] measures it). Returns how many documents were
    * replaced (present before the upsert). */
  def upsert(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      store: TableStore,
      name: String): Long =
    mutate(store, name) {
      upsertStamped(spark, batch, idCol, textCol, store, name, None)._2
    }

  /** The gated fold behind [[upsert]] and [[admitUpsertBatch]] — same
    * single-swap replace-or-insert into the revision overlay, optionally
    * recording `stamp` as the admitted batchId in the SAME swap (the
    * exactly-once argument of [[appendStamped]], applied to revisions).
    * @return (folded, docsReplaced) — folded false iff `stamp` was
    *         already admitted */
  private def upsertStamped(
      spark: SparkSession, batch: DataFrame, idCol: String, textCol: String,
      store: TableStore, name: String, stamp: Option[Long]): (Boolean, Long) = {
    val (m, mv) = requireManifest(store, name)
    if (stamp.exists(_ <= m.lastBatchId)) return (false, 0L)
    rollback(store, name, m)
    val fresh = tokenized(batch, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val batchIds = broadcast(fresh.select(col("doc_id")).distinct())
      // one control-plane action over the (pinned) batch: its counters
      // AND its bucket list — collect_set is bounded by the bucket count
      val bucketExpr = store.bucketSpecAt(docsTable(name), m.docs).map(_.bucketColumn)
      val freshStats = fresh.agg(
        count(lit(1)), coalesce(sum(col("dl")), lit(0L)),
        collect_set(bucketExpr.getOrElse(lit(-1))),
        min(col("doc_id")), max(col("doc_id"))).head()
      val (addN, addSdl) = (freshStats.getLong(0), freshStats.getLong(1))
      val touched = freshStats.getSeq[Int](2)
      // the batch's pushed key predicate: a bounded-collect In set for
      // small batches (Spark plants it — or its min-max rewrite — in the
      // parquet scan, where the sorted-within-bucket layout skips row
      // groups), the min-max range otherwise
      val idPredicate: Option[org.apache.spark.sql.Column] =
        if (addN == 0L) Some(lit(false))
        else if (addN <= MaxIdPushdown)
          Some(col("doc_id").isin(
            fresh.select(col("doc_id")).collect().map(_.get(0)).toIndexedSeq: _*))
        else if (freshStats.isNullAt(3)) None
        else Some(col("doc_id")
          .between(lit(freshStats.get(3)), lit(freshStats.get(4))))
      // exact bookkeeping needs the replaced docs' SERVED state: dl for
      // the counters and old DISTINCT terms for the df subtraction —
      // both live in the docs tier's rows, so this is ONE keyed read,
      // bucket-pruned to the batch's buckets AND key-predicate-pruned
      // inside them, pinned batch-sized so the counters and the
      // subtraction don't re-run it
      val replacedDocs = servedDocsForIds(spark, store, name, m, batchIds,
          touched, idPredicate)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
      val (rmN, rmSdl) = docCounters(replacedDocs)
      // termstats: df delta = fresh − removed, cell-wise (exact
      // subtraction, the remove-path arithmetic composed with append's
      // merge), committed O(batch-terms) into the delta member; the
      // removed side explodes the replaced docs' stored term lists —
      // already distinct per doc, so df is a row count
      val removedTermDf = replacedDocs
        .select(explode(col("terms")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val termDelta = termDfOf(fresh)
        .unionByName(removedTermDf.withColumn("df", -col("df")))
        .groupBy(col("term")).agg(sum(col("df")).as("df"))
      // the termstats-delta commit and the overlay set's commit (its
      // overlay rewrites, or the amortized fold) are independent tables
      // (no shared CAS) — run them concurrently instead of stacking their
      // fixed job latencies onto every revision drain (fresh and
      // replacedDocs are pinned AND materialized above, so the concurrent
      // jobs read the cache rather than racing to compute it)
      val Seq(tvA, setA) = OverlayLock.inParallel(Seq(
        () => commitTermDelta(spark, store, name, m, termDelta),
        () => overlay(name, m).upsert(spark, store, batchIds, fresh)))
      val (tv, dltv) = tvA.asInstanceOf[(Int, Option[Int])]
      IndexTier.commitManifest(store, manifestTable(name),
        pinned(name, m, setA.asInstanceOf[IndexTier.Overlay]).copy(
          termStats = tv, dltTermStats = dltv,
          nDocs = m.nDocs + addN - rmN, sumDl = m.sumDl + addSdl - rmSdl,
          lastBatchId = stamp.getOrElse(m.lastBatchId)),
        Some(mv))
      (true, rmN)
      } finally replacedDocs.unpersist()
    } finally fresh.unpersist()
  }

  /** Maintenance operator: fold the revision overlay AND the termstats
    * delta into their base tiers now (one rewrite each + one swap),
    * regardless of the automatic policies. Counters already describe the
    * served view. No-op when both overlays are empty. */
  def compactOverlay(spark: SparkSession, store: TableStore, name: String): Unit =
    mutate(store, name) {
      val (m, mv) = requireManifest(store, name)
      val set = overlay(name, m)
      if (set.live || m.dltTermStats.isDefined) {
        rollback(store, name, m)
        val tv =
          if (m.dltTermStats.isEmpty) m.termStats
          else store.writeBucketed(termDfAt(spark, store, name, m),
            termStatsTable(name),
            IndexTier.layout(store, termStatsTable(name), TermBuckets, "term"),
            Some(m.termStats))
        IndexTier.commitManifest(store, manifestTable(name),
          pinned(name, m, set.fold(spark, store, None))
            .copy(termStats = tv, dltTermStats = None), Some(mv))
      }
    }

  /** EXACT takedown — what the non-subtractive sketch tiers cannot do:
    * postings/doc rows anti-join away and the removed docs' df
    * contributions subtract precisely (counts clamped at zero, zero rows
    * dropped), so remove ∘ append is the identity on the index state.
    * `ids` is broadcast — takedown lists are small by nature. Returns
    * how many documents were removed. */
  def remove(
      spark: SparkSession,
      ids: DataFrame,
      store: TableStore,
      name: String): Long =
    mutate(store, name) {
      val (m, mv) = requireManifest(store, name)
      rollback(store, name, m)
      val set = overlay(name, m)
      val drop = set.keysOf(ids)
      val removedDocs = set.served(spark, store, docsTable(name))
        .join(drop, Seq("doc_id"), "left_semi")
      val (rmN, rmSdl) = docCounters(removedDocs)
      val next = pinned(name, m, set.takedown(spark, store, drop))
      // df subtraction from the removed docs' stored term lists — a
      // takedown rewrites the authoritative table anyway, so the
      // termstats delta folds in here and its pin clears; merged from
      // the RAW base ∪ delta union with ONE final clamp (the
      // commitTermDelta fold rationale)
      val tv = store.writeBucketed(
        rawTermRows(spark, store, name, m)
          .unionByName(removedDocs.select(explode(col("terms")).as("term"))
            .groupBy(col("term")).agg(count(lit(1)).as("df"))
            .withColumn("df", -col("df")))
          .groupBy(col("term")).agg(greatest(sum(col("df")), lit(0L)).as("df"))
          .filter(col("df") > 0),
        termStatsTable(name),
        IndexTier.layout(store, termStatsTable(name), TermBuckets, "term"),
        Some(m.termStats))
      IndexTier.commitManifest(store, manifestTable(name),
        next.copy(termStats = tv, dltTermStats = None,
          nDocs = m.nDocs - rmN, sumDl = m.sumDl - rmSdl), Some(mv))
      rmN
    }

  // --------------------------------------------------------------- admission

  /** Exactly-once micro-batch admission — the batchId gate rides in the
    * family manifest ([[CorpusProfile.admitBatch]]'s argument verbatim):
    * tier advances and the gate record are one atomic swap, so a crash
    * mid-fold is invisible and the redelivered batch folds exactly once.
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

  /** Exactly-once micro-batch UPSERT admission — [[admitBatch]]'s gate
    * with [[upsert]]'s fold: a stream of document REVISIONS (re-crawls,
    * edits) replaces each arriving doc atomically, and the batchId gate
    * riding in the same manifest swap makes redelivery fold exactly once
    * — which [[admitBatch]]'s insert-only fold could not give revisions
    * (a replayed revision would be a no-op only because the id exists,
    * silently keeping the OLD text if the crash landed between swap and
    * sink). Returns true when folded, false when skipped as a replay. */
  def admitUpsertBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      store: TableStore,
      name: String): Boolean =
    mutate(store, name) {
      upsertStamped(spark, batch, idCol, textCol, store, name, Some(batchId))._1
    }

  // ----------------------------------------------------------------- serving

  /** The served postings `(doc_id, dl, term, tf)` (manifest-pinned,
    * revision-overlay merged). */
  def postings(spark: SparkSession, store: TableStore, name: String): DataFrame = {
    val (m, _) = requireManifest(store, name)
    overlay(name, m).served(spark, store, postingsTable(name))
  }

  /** Top-`k` stored documents for EVERY probe, served entirely from
    * committed state: corpus counters straight from the manifest (no
    * docs-table scan), the probe terms joined to the maintained df
    * table, and the shared [[Retrieval.bm25ScoreAndTopK]] tail over the
    * stored postings — the same math, broadcast structure and FP
    * summation order as [[Retrieval.bm25Against]], minus its per-call
    * index build. Every member resolves from ONE manifest read. Output
    * schema matches: `(probe_id, doc_id, n_match_terms, bm25)`. */
  def topK(
      spark: SparkSession,
      probes: DataFrame,
      probeIdCol: String,
      probeTermsCol: String,
      store: TableStore,
      name: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      maxDfFrac: Double = 1.0)(implicit caches: CacheScope): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0,
      s"maxDfFrac must be in (0, 1], got $maxDfFrac")
    val (m, _) = requireManifest(store, name)
    // ONE fused probe job over the query's normalized term keys (the
    // same lower+filter normalization probeTerms applies, so the key
    // set covers every term the joins will look up), then BOTH serve
    // reads — the per-term dfs AND the postings themselves — prune to
    // the query's term buckets at the directory level: scored volume is
    // Σ_t df(t) over the query's terms, and the bytes READ are ∝ the
    // query's buckets, never the corpus (Σ dl postings rows)
    val termKeys = probes.select(explode(col(probeTermsCol)).as("term"))
      .select(lower(col("term")).as("term"))
      .filter(length(col("term")) > 0)
    val (tsTouched, postTouched) = IndexTier.touchedBucketsPair(store,
      termStatsTable(name) -> m.termStats, postingsTable(name) -> m.postings, termKeys)
    val post = postingsForBuckets(spark, store, name, m, postTouched)
      .select(col("doc_id"), col("dl").as("_dl"), col("term"), col("tf").as("_tf"))
    // corpus stats come from the MANIFEST counters — zero Spark jobs; the
    // docs table is the membership/rebuild source, never a serve-time scan
    val stats = spark.range(1)
      .select(lit(m.nDocs).as("_n"), lit(m.sumDl).as("_sum_dl"))
    val termDf = termDfForBuckets(spark, store, name, m, tsTouched)
      .select(col("term"), col("df").as("_df"))
    Retrieval.bm25ScoreAndTopK(post,
      Retrieval.probeTerms(probes, probeIdCol, probeTermsCol, termDf, stats, maxDfFrac),
      k, k1, b)
  }
}
