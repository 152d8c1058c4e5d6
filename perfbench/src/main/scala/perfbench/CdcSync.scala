package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.meta.{MetaStore, TableMeta}
import graft.operators.{FullLoad, IncrementalMerge, Orchestrator, TableStore}
import graft.plans.SyncPlanner
import graft.plans.SyncPlanner.WorkItem
import graft.sources.StageListing

/** The reference's scheduled CDC sync cycle over a DMS-layout stage:
  * `<stage>/<schema>/<table>/LOAD00000001.csv` plus change files
  * `2<7 digits>-<9 digits>.csv` whose rows lead with an I/U/D op. Each
  * operation lands one change file per table and runs one
  * `Orchestrator.runCycle` with four workers. Staged files are never
  * deleted, so listing cost grows over a run.
  *
  * Tables vary in what graft's behaviour depends on: `hot` (bucketed,
  * Zipf-skewed keys, so one key repeats within a batch), `trickle` (64
  * buckets, a few dozen changes, so touched-bucket pruning skips most
  * buckets), `plain` (unbucketed: every merge rewrites the table) and
  * `reload` (a fresh LOAD file every third cycle, from the fourth on: the
  * full-load-then-merge path). The first three cycles are incremental on
  * every table, so the cycles an untraced run times are all of one kind. */
object CdcSync extends Workload {
  val name = "cdc_sync"
  val Workers = 4
  val ReloadEvery = 3

  private val stageName = "s1"
  private val dbSchema = "app"

  val schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("k", IntegerType),
    StructField("v", LongType), StructField("s", StringType)))

  final case class TableDef(
      name: String, buckets: Option[Int], rows: Int, changes: Int,
      zipf: Boolean, reloads: Boolean)

  def tableDefs(scale: Double): Seq[TableDef] = {
    def n(x: Double, min: Int) = math.max(min, math.round(x * scale).toInt)
    Seq(
      TableDef("hot", Some(16), n(100000, 200), n(4000, 40), zipf = true, reloads = false),
      TableDef("trickle", Some(64), n(100000, 200), n(32, 4), zipf = false, reloads = false),
      TableDef("plain", None, n(100000, 200), n(1000, 10), zipf = false, reloads = false),
      TableDef("reload", Some(8), n(100000, 200), n(300, 6), zipf = false, reloads = true))
  }

  /** One table row past its key. */
  final case class Row(k: Int, v: Long, s: String)

  /** The same order-independent checksum graft's tables are checked with:
    * CRC-32 of `id|k|v|s`, summed over rows (no overflow below 2^31 rows). */
  def crc(id: Long, r: Row): Long = {
    val c = new java.util.zip.CRC32()
    c.update(s"$id|${r.k}|${r.v}|${r.s}".getBytes(StandardCharsets.UTF_8))
    c.getValue
  }

  /** The in-benchmark fold of a table's change log: the target state
    * after a full load of `snapshot` and every change applied in file
    * order, then row order. Applying changes one by one is the same as
    * keeping the latest row per key (I→U→D of one key ends deleted; a D
    * for an unseen key is a no-op; I or U of any key upserts), which is
    * the merge the reference runs (sql:382–397). Count and checksum are
    * maintained as rows change. */
  final class Oracle {
    val rows = mutable.LongMap.empty[Row]
    var checksum = 0L

    def count: Long = rows.size.toLong

    def load(snapshot: Iterable[(Long, Row)]): Unit = {
      rows.clear(); checksum = 0L
      snapshot.foreach { case (id, r) => put(id, r) }
    }

    def put(id: Long, r: Row): Unit = {
      rows.get(id).foreach(old => checksum -= crc(id, old))
      rows(id) = r
      checksum += crc(id, r)
    }

    def apply(op: Char, id: Long, r: Row): Unit = op match {
      case 'D' => rows.remove(id).foreach(old => checksum -= crc(id, old))
      case _ => put(id, r)
    }
  }

  /** Zipf(s) sampler over ranks 0..n-1 by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(rng: SplittableRandom): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
  def randomRow(rng: SplittableRandom): Row = {
    val len = 12 + rng.nextInt(9)
    val sb = new StringBuilder(len)
    (0 until len).foreach(_ => sb += alphabet.charAt(rng.nextInt(alphabet.length)))
    Row(rng.nextInt(1000), rng.nextLong() & 0xffffffffffL, sb.toString)
  }

  def csvLine(op: Option[Char], id: Long, r: Row): String =
    op.map(o => s"$o,").getOrElse("") + s"$id,${r.k},${r.v},${r.s}"

  /** Write lines to `file` through a temp name, so a lister never sees a
    * half-written file. Returns the bytes written. */
  def writeLines(file: Path, lines: Iterator[String]): Long = {
    val tmp = file.resolveSibling("." + file.getFileName + ".tmp")
    val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(tmp), StandardCharsets.UTF_8), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    Files.move(tmp, file, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    Files.size(file)
  }

  def setup(spark: SparkSession, dir: Path, seed: Long, scale: Double): Instance = {
    val inst = new CdcInstance(spark, dir, seed, scale)
    inst.initialLoad()
    inst
  }

  final class CdcInstance(spark: SparkSession, dir: Path, seed: Long, scale: Double)
      extends Instance {
    private val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    private val stageDir = dir.resolve("stage")
    private val metaStore = new MetaStore(dir.resolve("meta").toString)
    private val store = new TableStore(dir.resolve("warehouse").toString)
    val storeRoot: Path = dir.resolve("warehouse")
    private val stages = Map(stageName -> stageDir.toString)
    private val defs = tableDefs(scale)
    private val oracles = defs.map(d => d.name -> new Oracle).toMap
    private val nextId = mutable.Map(defs.map(d => d.name -> d.rows.toLong): _*)
    private val zipf = defs.filter(_.zipf).map(d => d.name -> new Zipf(d.rows, 1.1)).toMap
    // every change row of a reloading table, in file order: a full load
    // resets the watermark, so the merge replays all of them
    private val history = mutable.Map.empty[String, mutable.ArrayBuffer[(Char, Long, Row)]]
    private var stagedFiles = 0
    private var cycle = 0

    private def tableDir(t: String) = stageDir.resolve(dbSchema).resolve(t)
    private def fullPath(t: String) = tableDir(t).toString
    private def targetName(t: String) = s"${dbSchema}_$t"
    private val schemas = defs.map(d => fullPath(d.name) -> schema).toMap

    /** Land a LOAD snapshot for `d` (replacing any earlier one, as a DMS
      * reload task does) and return its rows and bytes. */
    private def landSnapshot(d: TableDef): (Seq[(Long, Row)], Long) = {
      Files.createDirectories(tableDir(d.name))
      val rows = (0L until d.rows.toLong).map(id => id -> randomRow(rng))
      val file = tableDir(d.name).resolve("LOAD00000001.csv")
      val prevMtime = if (Files.exists(file)) Files.getLastModifiedTime(file).toMillis else 0L
      val bytes = writeLines(file, rows.iterator.map { case (id, r) => csvLine(None, id, r) })
      // the planner sees a reload by a newer full-load mtime
      Files.setLastModifiedTime(file,
        FileTime.fromMillis(math.max(System.currentTimeMillis(), prevMtime + 2000L)))
      stagedFiles += (if (prevMtime == 0L) 1 else 0)
      (rows, bytes)
    }

    def initialLoad(): Unit = {
      defs.foreach { d =>
        val (rows, _) = landSnapshot(d)
        oracles(d.name).load(rows)
        if (d.reloads) history(d.name) = mutable.ArrayBuffer.empty
        metaStore.upsert(TableMeta(fullPath = fullPath(d.name), dbTable = d.name,
          dbSchema = dbSchema, stage = stageName, primaryKeys = "id",
          additionalConfig = d.buckets.map(b => s"""{"buckets": $b}""").getOrElse("{}")))
      }
      val rep = Orchestrator.runCycle(spark, stages, metaStore, store, schemas, workers = Workers)
      require(rep.items.map(_._1.loadType).distinct == Seq("F") && rep.items.size == defs.size,
        s"initial cycle should fully load every table, got ${rep.items.map(_._1)}")
    }

    /** The change batch for one table: Zipf-skewed or uniform keys over the
      * live key range, 80% updates, 10% deletes, 10% inserts of new keys. */
    private def changes(d: TableDef): Seq[(Char, Long, Row)] =
      (0 until d.changes).map { _ =>
        val u = rng.nextDouble()
        if (u < 0.10) {
          val id = nextId(d.name); nextId(d.name) = id + 1
          ('I', id, randomRow(rng))
        } else {
          val id = zipf.get(d.name) match {
            // rank → key through a fixed stride, so hot keys spread over buckets
            case Some(z) => (z.sample(rng).toLong * 7919L) % d.rows
            case None => rng.nextLong(nextId(d.name))
          }
          (if (u < 0.20) 'D' else 'U', id, randomRow(rng))
        }
      }

    /** Compare every target's row count and checksum with the fold, all
      * tables in one job. */
    override def check(): Option[String] = {
      val got = defs.map { d =>
        spark.read.schema(schema).parquet(store.path(targetName(d.name))).select(lit(d.name).as("t"),
          crc32(concat_ws("|", col("id").cast("string"), col("k").cast("string"),
            col("v").cast("string"), col("s")).cast("binary")).as("c"))
      }.reduce(_ union _)
        .groupBy("t").agg(count(lit(1)), sum(col("c")))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val bad = defs.flatMap { d =>
        val o = oracles(d.name)
        val (n, c) = got.getOrElse(d.name, (0L, 0L))
        if (n == o.count && c == o.checksum) None
        else Some(s"${d.name}: rows $n vs ${o.count}, checksum $c vs ${o.checksum}")
      }
      if (bad.isEmpty) None else Some(bad.mkString("; "))
    }

    def op(i: Int, tracer: Option[Tracer]): OpOutcome = {
      cycle += 1
      val fileName = f"20261017-$cycle%09d.csv"
      var landedBytes = 0L
      var changeRows = 0L
      var mergeInput = 0L
      val reloadCycle = i > 0 && i % ReloadEvery == 0
      defs.foreach { d =>
        val batch = changes(d)
        if (d.reloads && reloadCycle) {
          val (rows, bytes) = landSnapshot(d)
          landedBytes += bytes
          history(d.name) ++= batch
          oracles(d.name).load(rows)
          history(d.name).foreach { case (op, id, r) => oracles(d.name)(op, id, r) }
          mergeInput += history(d.name).size
        } else {
          batch.foreach { case (op, id, r) => oracles(d.name)(op, id, r) }
          history.get(d.name).foreach(_ ++= batch)
          mergeInput += batch.size
        }
        landedBytes += writeLines(tableDir(d.name).resolve(fileName),
          batch.iterator.map { case (op, id, r) => csvLine(Some(op), id, r) })
        stagedFiles += 1
        changeRows += batch.size
      }
      val (result, secs, w0, w1) = Workload.timed(tracer, i.toLong, "cdc_sync.cycle") {
        try tracer match {
          case None =>
            val rep = Orchestrator.runCycle(spark, stages, metaStore, store, schemas, workers = Workers)
            Right((rep.items.size, rep.items.count(_._1.loadType != "I"), -1L))
          case Some(t) => tracedCycle(t)
        } catch { case scala.util.control.NonFatal(e) => Left(Workload.describe(e)) }
      }
      val error = result.left.toOption.orElse(check())
      val counters = result.toOption.map { case (items, full, applied) =>
        Map("plans.items" -> items.toDouble, "plans.full_reloads" -> full.toDouble,
          "operators.merge.rows_applied" -> applied.toDouble)
      }.getOrElse(Map.empty) ++ Map(
        "sources.files_listed" -> stagedFiles.toDouble,
        "sources.csv_bytes_landed" -> landedBytes.toDouble,
        "operators.merge.change_rows" -> mergeInput.toDouble)
      OpOutcome("op", secs, w0, w1, changeRows, error,
        if (error.isEmpty) 1.0 else 0.0, counters,
        group = if (reloadCycle) "reload" else "incremental")
    }

    /** `Orchestrator.runCycle` recomposed from the public functions it
      * calls, in the same order and with the same worker count, each call
      * in a span. Returns (work items, full loads, rows the merges applied). */
    private def tracedCycle(t: Tracer): Either[String, (Int, Int, Long)] = {
      val metas = t.span("meta.load", "meta")(metaStore.loadAll())
      val listing = t.span("sources.list", "sources")(StageListing.listAll(spark, stages))
      val items = t.span("plans.plan", "plans")(
        SyncPlanner.plan(listing, SyncPlanner.metaDf(spark, metas)))
      val queue = new ConcurrentLinkedQueue[WorkItem](items.asJava)
      val failures = new ConcurrentLinkedQueue[String]()
      val applied = new java.util.concurrent.atomic.AtomicLong(0L)
      val parent = t.here
      val pool = java.util.concurrent.Executors.newFixedThreadPool(Workers)
      try {
        val drainers = (1 to Workers).map { w =>
          pool.submit(new Runnable {
            def run(): Unit = {
              spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"graft-worker-$w")
              var item = queue.poll()
              while (item != null) {
                try {
                  def meta() = t.under(parent, "meta.load", "meta")(metaStore.get(item.fullPath))
                    .getOrElse(throw new IllegalStateException(s"no metadata for ${item.fullPath}"))
                  def full(m: TableMeta) = t.under(parent, "operators.merge.full_load", "operators.merge")(
                    FullLoad.run(spark, m, stages(m.stage), store, metaStore, schemas(m.fullPath)))
                  def inc(m: TableMeta) = t.under(parent, "operators.merge.incremental", "operators.merge")(
                    IncrementalMerge.run(spark, m, stages(m.stage), store, metaStore))
                  item.loadType match {
                    case "F" => full(meta())
                    case "I" => applied.addAndGet(math.max(0L, inc(meta())))
                    case "B" => full(meta()); applied.addAndGet(math.max(0L, inc(meta())))
                    case other => throw new IllegalArgumentException(s"unknown load type $other")
                  }
                } catch {
                  case scala.util.control.NonFatal(e) =>
                    failures.add(s"${item.fullPath}: ${Workload.describe(e)}")
                }
                item = queue.poll()
              }
            }
          })
        }
        drainers.foreach(_.get())
      } finally pool.shutdown()
      if (!failures.isEmpty) Left(failures.asScala.mkString("; "))
      else Right((items.size, items.count(_.loadType != "I"), applied.get()))
    }
  }
}
