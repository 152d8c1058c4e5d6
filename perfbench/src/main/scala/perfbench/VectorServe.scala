package perfbench

import java.nio.file.Path
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{CacheScope, IvfIndex, TableStore}

/** Similarity serving with writes beside the reads, over two clustered
  * collections: `large`, whose float tier is above Spark's default 10 MB
  * broadcast threshold, and `small`, whose tier is below it. Each read is
  * one `IvfIndex.topK` request of 16 query vectors with k = 10; reads
  * alternate between the collections. Every 4th operation is an
  * `IvfIndex.upsert` of 256 vectors into `large`, half replacing existing
  * ids and half new. Recall is measured against an exact top-10 over the
  * benchmark's own copy of each collection, upserts included.
  *
  * Reads fall in three request classes: `small`, `large`, and
  * `large_after_write`, the first read of `large` after an upsert, which
  * pays for picking up the new version (about half as long again as a
  * read of a version already read). The operation order is fixed, so each
  * class has the same share in every run. */
object VectorServe extends Workload {
  val name = "vector_serve"
  val Dim = 64
  val K = 10
  val QueriesPerRequest = 16
  val UpsertSize = 256
  val WriteEvery = 4
  val NProbe = 4
  val KMeansIterations = 2
  /** Spark's default `spark.sql.autoBroadcastJoinThreshold`. */
  val BroadcastThreshold: Long = 10L * 1024 * 1024

  final case class Collection(
      name: String, size: Int, clusters: Int, cells: Int)

  def collections(scale: Double): Seq[Collection] = Seq(
    Collection("large", math.max(2000, math.round(32000 * scale).toInt), 64, 64),
    Collection("small", math.max(500, math.round(5000 * scale).toInt), 16, 16))

  /** Cluster centres: standard normal coordinates. */
  def centers(seed: Long, n: Int): Array[Array[Float]] = {
    val rng = new SplittableRandom(seed)
    Array.fill(n)(Array.fill(Dim)(gaussian(rng).toFloat))
  }

  def gaussian(rng: SplittableRandom): Double = {
    // Box–Muller; SplittableRandom has no nextGaussian of its own
    val u = 1.0 - rng.nextDouble()
    val v = rng.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * v)
  }

  /** Vector `id` of a collection: a centre chosen by the vector's own
    * generator plus noise. A pure function of (seed, id), so Spark tasks
    * and the benchmark's copy generate the same vectors. */
  def vectorOf(seed: Long, id: Long, cs: Array[Array[Float]]): Array[Float] = {
    val rng = new SplittableRandom(seed ^ (id * 0x9E3779B97F4A7C15L))
    val c = cs(rng.nextInt(cs.length))
    Array.tabulate(Dim)(j => (c(j) + 0.35 * gaussian(rng)).toFloat)
  }

  /** The benchmark's own copy of a collection, for exact search. */
  final class Copy(initial: Int) {
    private var data = new Array[Float](initial * Dim)
    private var norms = new Array[Float](initial)
    private var ids = new Array[Long](initial)
    private var n = 0
    private val index = mutable.LongMap.empty[Int]

    def size: Int = n
    def idAt(i: Int): Long = ids(i)
    def contains(id: Long): Boolean = index.contains(id)

    def put(id: Long, v: Array[Float]): Unit = {
      val slot = index.getOrElse(id, {
        if (n == ids.length) {
          data = java.util.Arrays.copyOf(data, data.length * 2)
          norms = java.util.Arrays.copyOf(norms, norms.length * 2)
          ids = java.util.Arrays.copyOf(ids, ids.length * 2)
        }
        index(id) = n; ids(n) = id; n += 1; n - 1
      })
      System.arraycopy(v, 0, data, slot * Dim, Dim)
      var s = 0.0
      v.foreach(x => s += x.toDouble * x)
      norms(slot) = math.sqrt(s).toFloat
    }

    /** Ids of the k nearest vectors to `q` by cosine similarity. */
    def topK(q: Array[Float], k: Int): Set[Long] = {
      val heap = mutable.PriorityQueue.empty[(Double, Long)](Ordering.by[(Double, Long), Double](x => -x._1))
      var qn = 0.0
      q.foreach(x => qn += x.toDouble * x)
      qn = math.sqrt(qn)
      var i = 0
      while (i < n) {
        var dot = 0.0
        var j = 0
        val off = i * Dim
        while (j < Dim) { dot += q(j) * data(off + j); j += 1 }
        val cos = dot / (qn * norms(i))
        if (heap.size < k) heap.enqueue((cos, ids(i)))
        else if (cos > heap.head._1) { heap.dequeue(); heap.enqueue((cos, ids(i))) }
        i += 1
      }
      heap.map(_._2).toSet
    }
  }

  /** Three upserts at least, so `write_p50_s` is a median. */
  override val minOps: Int = 3 * WriteEvery

  def setup(spark: SparkSession, dir: Path, seed: Long, scale: Double): Instance =
    new VectorInstance(spark, dir, seed, scale)

  final class VectorInstance(spark: SparkSession, dir: Path, seed: Long, scale: Double)
      extends Instance {
    import spark.implicits._
    private val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 3)
    private val store = new TableStore(dir.resolve("store").toString)
    val storeRoot: Path = dir.resolve("store")
    private val colls = collections(scale)
    private val cs = colls.map(c => c.name -> centers(seed * 31 + c.clusters, c.clusters)).toMap
    private val copies = colls.map(c => c.name -> new Copy(c.size + 64 * UpsertSize)).toMap
    private var nextId = colls.map(_.size).max.toLong
    private var reads = 0L
    private var writtenSinceRead = false

    // inputs reach graft only as generated parquet files
    colls.foreach { c =>
      val cc = cs(c.name)
      val s = seed + c.size
      val file = dir.resolve("input").resolve(c.name).toString
      spark.range(0L, c.size.toLong, 1L, 8).as[Long]
        .map(id => (id, vectorOf(s, id, cc))).toDF("id", "v")
        .write.parquet(file)
      (0L until c.size.toLong).foreach(id => copies(c.name).put(id, vectorOf(s, id, cc)))
      implicit val scope: CacheScope = new CacheScope
      try IvfIndex.build(spark.read.parquet(file), "id", "v", c.cells, KMeansIterations, store, c.name)
      finally scope.release()
      // the workload's premise: one float tier on each side of the
      // broadcast threshold (tiny self-test sizes are exempt)
      val tier = s"${c.name}_vectors"
      val bytes = store.byteSizeAt(tier, store.currentVersion(tier).get)
      require(scale < 1.0 || (bytes > BroadcastThreshold) == (c.name == "large"),
        s"${c.name}'s float tier is $bytes bytes, on the wrong side of $BroadcastThreshold")
    }

    private def fresh(coll: String): Array[Float] =
      vectorOf(rng.nextLong(), 0L, cs(coll))

    def op(i: Int, tracer: Option[Tracer]): OpOutcome =
      if (i % WriteEvery == WriteEvery - 1) upsert(i, tracer) else read(i, tracer)

    private def read(i: Int, tracer: Option[Tracer]): OpOutcome = {
      val coll = if (reads % 2 == 0) "large" else "small"
      reads += 1
      val group = if (coll == "large" && writtenSinceRead) "large_after_write" else coll
      if (coll == "large") writtenSinceRead = false
      val qs = (0 until QueriesPerRequest).map(j => (-(reads * QueriesPerRequest + j), fresh(coll)))
      val (result, secs, w0, w1) = Workload.timed(tracer, i.toLong, s"vector_serve.topk.$coll") {
        try {
          val q: DataFrame = qs.toDF("id", "v")
          Right(Workload.span(tracer, s"operators.ivf.topk_$coll", "operators.ivf")(
            IvfIndex.topK(spark, q, "id", "v", store, coll, K, NProbe).collect()))
        } catch { case scala.util.control.NonFatal(e) => Left(Workload.describe(e)) }
      }
      var recall = 0.0
      val error = result match {
        case Left(e) => Some(e)
        case Right(rows) =>
          val got = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
          val copy = copies(coll)
          val bad = qs.filter { case (q, _) =>
            got.get(q).forall(n => n.size != K || !n.forall(copy.contains))
          }
          recall = qs.map { case (q, v) =>
            (copy.topK(v, K) intersect got.getOrElse(q, Set.empty)).size.toDouble / K
          }.sum / qs.size
          if (bad.isEmpty && rows.length == QueriesPerRequest * K) None
          else Some(s"request $i on $coll: ${bad.size} queries without $K known neighbours")
      }
      OpOutcome("op", secs, w0, w1, QueriesPerRequest.toLong, error, recall, group = group)
    }

    private def upsert(i: Int, tracer: Option[Tracer]): OpOutcome = {
      val copy = copies("large")
      val replaced = mutable.LinkedHashSet.empty[Long]
      while (replaced.size < UpsertSize / 2) replaced += copy.idAt(rng.nextInt(copy.size))
      val added = (0 until UpsertSize / 2).map { _ => nextId += 1; nextId }
      val rows = (replaced.toSeq ++ added).map(id => (id, fresh("large")))
      val (result, secs, w0, w1) = Workload.timed(tracer, i.toLong, "vector_serve.upsert") {
        try Right(Workload.span(tracer, "operators.ivf.upsert", "operators.ivf")(
          IvfIndex.upsert(spark, rows.toDF("id", "v"), "id", "v", store, "large")))
        catch { case scala.util.control.NonFatal(e) => Left(Workload.describe(e)) }
      }
      rows.foreach { case (id, v) => copy.put(id, v) }
      writtenSinceRead = true
      val error = result match {
        case Left(e) => Some(e)
        case Right(n) if n != replaced.size => Some(s"upsert $i replaced $n ids, expected ${replaced.size}")
        case _ => None
      }
      OpOutcome("write", secs, w0, w1, 0L, error, if (error.isEmpty) 1.0 else 0.0)
    }
  }
}
