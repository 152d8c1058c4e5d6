package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Product-quantized tier of the persisted [[IvfIndex]] — the third
  * storage tier of the same index (float → int8 → PQ codes), and the
  * reference-analogous state-maintenance story
  * (control_migration_schema_script.sql:244, 412–416) at PQ compression:
  * the model trains ONCE on the stored corpus and every later probe,
  * append, and takedown serves from committed state. This is what the
  * ad-hoc [[Pq]] entry points cannot do — they retrain codebooks inside
  * every invocation, a cost a 100 TB corpus pays exactly once, here.
  *
  * Storage (two more member tables of the index family, pinned by the
  * SAME `<name>_manifest` as the float and int8 tiers — one manifest
  * read resolves every tier, one swap publishes any mutation):
  *
  *  - `<name>_pq_codebook` — the trained model `(sub, code, c_v)`:
  *    m × nCodes × subDim doubles, kilobytes, read once per query and
  *    shipped as the [[org.apache.spark.sql.graft.PqAdcScore]] constant;
  *  - `<name>_pq_codes` — the encoded corpus `(id, cell, n_codes)`: `m`
  *    small integers per vector (16 bytes at the declared operating
  *    point vs 64 int8 bytes vs 512 float bytes — the scan-byte budget
  *    that makes a wide probe affordable).
  *
  * Scale shape: probes rank cells against the BROADCAST shared centroids
  * (one narrow window over batch × nCells candidate rows); candidates are
  * an equi-join on `cell` against the codes table — each stored vector
  * lives in exactly one cell, so no dedup exchange; ADC scoring is the
  * native codegen fold, one m-byte code row per pair; only the
  * `shortlist` survivors per query touch the float table, as narrow
  * id-equi-joins. [[IvfIndex.append]]/[[IvfIndex.remove]]/
  * [[IvfIndex.build]] keep this tier in lockstep with its siblings
  * inside their own manifest swap — encoding an arriving batch against
  * the stored codebook is refit-free, the same discipline as the int8
  * tier's re-quantization.
  */
object PqIndex {

  private[operators] def codebookTableName(name: String) = s"${name}_pq_codebook"
  private[operators] def codesTableName(name: String) = s"${name}_pq_codes"

  /** Whether the index's manifest declares a PQ tier. */
  def exists(store: TableStore, name: String): Boolean =
    IvfIndex.readManifest(store, name).exists(_._1.pqCodes.isDefined)

  /** The stored codebook `(sub, code, c_v)` as committed
    * (manifest-pinned read). */
  def codebook(spark: SparkSession, store: TableStore, name: String): DataFrame =
    codebookAt(spark, store, name, IvfIndex.requireManifest(store, name)._1)

  private[operators] def codebookAt(
      spark: SparkSession, store: TableStore, name: String,
      m: IvfIndex.IvfManifest): DataFrame =
    store.snapshotAt(spark, codebookTableName(name), m.pqCodebook.getOrElse(noTier(name)))

  /** The encoded corpus `(id, cell, n_codes)` as served (manifest-pinned,
    * revision-overlay merged). */
  def codes(spark: SparkSession, store: TableStore, name: String): DataFrame = {
    val (m, _) = IvfIndex.requireManifest(store, name)
    if (m.pqCodes.isEmpty) noTier(name)
    IvfIndex.overlay(store, name, m).served(spark, store, codesTableName(name))
  }

  private def noTier(name: String): Nothing =
    throw new IllegalStateException(
      s"index $name has no PQ tier — run PqIndex.buildStored first")

  /** Train PQ codebooks on the index's STORED float corpus and commit
    * model + codes as member versions published by ONE manifest swap —
    * after this, serving never retrains: probes read `<name>_pq_codes`,
    * and [[IvfIndex.append]] encodes arriving batches against the
    * committed codebook. Training is [[Pq]]'s grouped Lloyd
    * (md5-smallest seeds, `iterations` assignment/mean rounds) over the
    * stored vectors' unit forms — deterministic given the corpus, so the
    * committed state replays in SQL exactly like its siblings. */
  def buildStored(
      spark: SparkSession,
      store: TableStore,
      name: String,
      m: Int,
      nCodes: Int,
      iterations: Int)(implicit caches: CacheScope): Unit =
    OverlayLock.mutate(store, "ivf", name) {
      val (man, mv) = IvfIndex.requireManifest(store, name)
      IvfIndex.rollback(store, name, man)
      // train + encode over the SERVED float view: revision-overlay rows
      // are first-class corpus, and the fresh codes tier covering them
      // lets its own overlay clear in the same swap
      val stored = IvfIndex.overlay(store, name, man)
        .served(spark, store, IvfIndex.vectorsTable(name))
      val dim = stored.select(size(col("v"))).head().getInt(0)
      require(dim % m == 0, s"dim $dim must divide into $m subspaces")
      val subDim = dim / m
      val unit = unitized(stored)
      val (subs, cb) = Pq.trainCodebooks(unit.select(col("id"), col("u")),
        m, subDim, nCodes, iterations)
      val cbDf = Pq.codebookFrame(spark, cb)
      val cbV = store.write(cbDf.select(col("sub"), col("code"), col("c_v")),
        codebookTableName(name))
      val arr = Pq.codesToArray(Pq.assignCodes(subs, broadcast(cbDf)))
      val pcV = store.write(
        arr.join(unit.select(col("id"), col("cell")), Seq("id"))
          .select(col("id"), col("cell"), col("n_codes")), codesTableName(name))
      IndexTier.commitManifest(store, IvfIndex.manifestTable(name),
        man.copy(pqCodebook = Some(cbV), pqCodes = Some(pcV),
          ovlPqCodes = None), Some(mv))
    }

  /** `(id, cell, u)` unit forms of a stored-shape `(id, v, cell)` frame.
    * Zero-norm vectors have no direction and are dropped — the same guard
    * as every trainer in the family. */
  private def unitized(stored: DataFrame): DataFrame =
    stored.withColumn("nrm", l2Norm(col("v")))
      .filter(col("nrm") > 0)
      .withColumn("u", transform(col("v"), x => x / col("nrm")))

  /** Driver-side copy of a codebook frame plus the flat-array layout
    * parameters the native scorer needs. `stride` is the smallest power
    * layout that indexes every committed code — derived from the stored
    * rows, so serving needs no out-of-band model config. */
  private def loadCodebookRows(
      cbRows: DataFrame): (Seq[(Int, Int, Seq[Double])], Int, Int, Int) = {
    val rows = cbRows.collect()
    require(rows.nonEmpty, "empty PQ codebook")
    val cb = rows.map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2): Seq[Double])).toSeq
    val m = cb.map(_._1).max + 1
    val stride = cb.map(_._2).max + 1
    val subDim = cb.head._3.length
    (cb, m, stride, subDim)
  }

  /** Encode an already-cell-assigned `(id, v, cell)` frame against a
    * committed codebook frame → `(id, cell, n_codes)`. Refit-free and
    * deterministic; the PQ member's derive in [[IvfIndex.overlay]] — a
    * batch encode on append, upsert and fold, a full re-encode in
    * [[IvfIndex.build]]/[[IvfIndex.repairTiers]] after a refit. */
  private[operators] def encodeAssigned(
      spark: SparkSession,
      assigned: DataFrame,
      cbRows: DataFrame): DataFrame = {
    val (cb, m, _, subDim) = loadCodebookRows(cbRows)
    val unit = unitized(assigned)
    val subs = Pq.subvectors(unit.select(col("id"), col("u")), m, subDim)
    val arr = Pq.codesToArray(
      Pq.assignCodes(subs, broadcast(Pq.codebookFrame(spark, cb))))
    arr.join(unit.select(col("id"), col("cell")), Seq("id"))
      .select(col("id"), col("cell"), col("n_codes"))
  }

  /** Two-stage QUALITY serving from the PQ tier (the [[Pq.topKRefined]]
    * shortlist-and-refine applied to COMMITTED state): stored codes rank a
    * `shortlist` per query by native ADC at `nProbe` cells, then exact
    * cosine on the stored float table re-ranks only the shortlist.
    * Recall is the float path's at the same probe width — quantization
    * error is confined to shortlist membership — while the candidate scan
    * reads m-byte code rows, the cheapest tier the index stores. Every
    * tier (codebook, codes, centroids, float corpus) resolves from ONE
    * manifest read, so the answer can never straddle a concurrent
    * mutation's swap. Output schema matches [[IvfIndex.topK]]:
    * `(vec_id, neighbor_id, cosine, rank)`, exact cosine. */
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
    val (man, _) = IvfIndex.requireManifest(store, name)
    val (cb, m, stride, subDim) = loadCodebookRows(codebookAt(spark, store, name, man))
    val flat = Pq.flatCodebook(cb, m, stride, subDim)

    val q = IvfIndex.probeQueries(batch, idCol, vecCol)
      .withColumn("q_u", transform(col("q_v"), x => x / col("q_nrm")))
    val probes = IvfIndex.probeCells(q, IvfIndex.centroidModel(spark, store, name, man), nProbe)
      .select(col("q_id"), col("q_u"), col("cell"))

    // candidates: one row per (query, stored code row) in the probed
    // cells — a stored vector lives in exactly one cell, so each pair
    // arises once; scoring is the codegen ADC fold, no per-pair state
    val set = IvfIndex.overlay(store, name, man)
    val codeRows = set.served(spark, store, codesTableName(name))
    val scored = probes.join(codeRows, Seq("cell"))
      .filter(col("q_id") =!= col("id"))
      .select(col("q_id").as("vec_id"), col("id").as("neighbor_id"),
        org.apache.spark.sql.graft.PqAdcScore.pq_adc_score(
          col("q_u"), col("n_codes"), flat.toIndexedSeq, stride, subDim).as("score"))
    val short = scored
      .groupBy(col("vec_id"))
      .agg(org.apache.spark.sql.graft.TopKPairs
        .top_k_pairs(col("score"), col("neighbor_id"), shortlist).as("tk"))
      .select(col("vec_id"), explode(col("tk")).as("e"))
      .select(col("vec_id"), col("e.neighbor_id").as("neighbor_id"))

    // exact re-rank of the shortlist on the stored float tier
    val corpus = set.served(spark, store, IvfIndex.vectorsTable(name))
      .select(col("id").as("neighbor_id"), col("v").as("n_v"))
      .withColumn("n_nrm", l2Norm(col("n_v")))
    Similarity.exactRerank(short,
      q.select(col("q_id").as("vec_id"), col("q_v"), col("q_nrm")), corpus, k)
  }
}
