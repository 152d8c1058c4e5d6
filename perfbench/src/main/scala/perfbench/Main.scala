package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Runs one workload against graft and prints its metrics.
  *
  * {{{
  * Main --workload <cdc_sync|admission|vector_serve> --seed <n> --seconds <s>
  *      --trace <0|1> [--cpus <n>]
  * }}}
  *
  * One JVM, one `local[cpus]` Spark session (cpus defaults to the host's
  * processors). The workload is set up `setups` times from the same seed
  * (the median is `setup_s`), then operations run closed-loop with one
  * client until their timed regions add up to `--seconds`, and at least
  * the workload's `minOps` of them. Every output is
  * checked against the benchmark's own answer, outside the timed region.
  *
  * With `--trace 1` every other operation is traced: it runs through the
  * public functions its entry point composes, each call in a span, with a
  * Spark listener and a store walk around it; the untraced operations in
  * between give the tracing overhead. The last stdout line is the result
  * object; a full report (and the spans) goes to `--out`. */
object Main {

  /** `scale`, `setups` and `minOps` have no flag: a command-line run
    * always uses the full sizes, two set-ups and the workload's minimum
    * operation count; the self-tests shrink them. */
  final case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean, cpus: Int,
      scale: Double = 1.0, setups: Int = 2, minOps: Option[Int] = None,
      work: Path = Paths.get("perfbench/.work").toAbsolutePath,
      out: Path = Paths.get("perfbench/out").toAbsolutePath)

  def parseArgs(argv: Array[String]): Args = {
    val flags = Set("workload", "seed", "seconds", "trace", "cpus")
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") && flags(k.drop(2)) => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(
      workload = req("workload"), seed = req("seed").toLong, seconds = req("seconds").toInt,
      trace = req("trace") == "1",
      cpus = kv.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  def session(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def loadavg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8)
      .split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector.reverse.foreach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(f =>
        try Files.size(f) catch { case _: java.io.IOException => 0L }).sum
      finally s.close()
    }

  /** What the traced run learned about one traced operation. */
  final case class Traced(
      outcome: OpOutcome, selfByName: Map[String, Double], spanDurs: Map[String, Seq[Double]],
      rootSelf: Double, rootDur: Double, spark: Map[String, Double], store: StoreWalker.Delta)

  final case class Result(
      correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)],
      report: Map[String, Any])

  private val jvmStart = System.nanoTime()
  private val phases = mutable.LinkedHashMap.empty[String, Double]
  /** Record the seconds since JVM start at which a run phase ended. */
  def phase(name: String): Unit = phases(name) = (System.nanoTime() - jvmStart) / 1e9

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val runDir = a.work.resolve(s"${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}-${ProcessHandle.current().pid()}")
    Files.createDirectories(runDir)
    val spark = session(a.cpus, runDir)
    phase("session")
    val result =
      try run(spark, Workload.byName(a.workload), a, runDir)
      finally { spark.stop(); deleteTree(runDir) }
    phase("stopped")
    System.err.println(s"[perfbench] phases (s since JVM start): $phases")
    Files.createDirectories(a.out)
    Files.write(a.out.resolve(s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"),
      Json(result.report).getBytes(StandardCharsets.UTF_8))
    result.metrics.foreach { case (n, v, u) => println(f"[perfbench] $n%-42s $v%.6g $u") }
    println(Json(mutable.LinkedHashMap(
      "correct" -> result.correct, "attempted" -> result.attempted, "failed" -> result.failed,
      "metrics" -> mutable.LinkedHashMap(result.metrics.map { case (n, v, u) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u)
      }: _*))))
    System.exit(0)
  }

  def run(spark: SparkSession, w: Workload, a: Args, runDir: Path): Result = {
    val sc = spark.sparkContext
    val loadBefore = loadavg()
    val setupSecs = mutable.ArrayBuffer.empty[Double]
    var inst: Instance = null
    // Set-up time is an end-to-end metric; the traced run sets up once.
    // The first set-up in a fresh JVM also pays for class loading, JIT
    // compilation and Spark's code generation, as a sync job's first cycle
    // does; the second runs warm.
    val setups = if (a.trace) 1 else a.setups
    (0 until setups).foreach { r =>
      val dir = runDir.resolve(s"setup-$r")
      val t0 = System.nanoTime()
      val i = w.setup(spark, dir, a.seed, a.scale)
      setupSecs += (System.nanoTime() - t0) / 1e9
      if (r < setups - 1) deleteTree(dir) else inst = i
    }
    phase("setups")
    val setupError = inst.check()

    val listener = if (a.trace) Some(new LayerListener) else None
    listener.foreach(sc.addSparkListener)
    val tracer = if (a.trace) Some(new Tracer(sc)) else None
    val gc0 = gcMillis()
    heapPools.foreach(_.resetPeakUsage())

    val outcomes = mutable.ArrayBuffer.empty[(OpOutcome, Boolean, Double)] // (outcome, traced, loadavg)
    val traced = mutable.ArrayBuffer.empty[(Int, OpOutcome, StoreWalker.Delta)]
    var timed = 0.0
    // how many operations run depends on how fast they are; the store size
    // and answer quality are read after a fixed number, so they depend on
    // the seed alone. A traced run traces every other operation, so it
    // makes twice as many.
    val minOps = a.minOps.getOrElse(w.minOps * (if (a.trace) 2 else 1))
    var storeMbAtMin = 0.0
    val loopStart = System.nanoTime()
    val wallLimit = 2.5 * a.seconds + 90
    // the traced run compares traced with untraced operations, so neither
    // side may hold the run's cold first operation: it runs untimed
    var i = 0
    val warm = if (a.trace) { i = 1; Some(inst.op(0, None)) } else None
    while ((timed < a.seconds || outcomes.size < minOps) &&
        (System.nanoTime() - loopStart) / 1e9 < wallLimit) {
      val traceThis = tracer.isDefined && i % 2 == 1
      val before = if (traceThis) Some(StoreWalker.snapshot(inst.storeRoot)) else None
      val o = inst.op(i, if (traceThis) tracer else None)
      before.foreach(b => traced += ((i, o, StoreWalker.diff(b, StoreWalker.snapshot(inst.storeRoot)))))
      outcomes += ((o, traceThis, loadavg()))
      timed += o.seconds
      i += 1
      if (outcomes.size == minOps) storeMbAtMin = dirBytes(inst.storeRoot) / 1e6
    }
    phase("timed_loop")
    val gcSecs = (gcMillis() - gc0) / 1000.0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
    val endSnap = StoreWalker.snapshot(inst.storeRoot)
    val loadAfter = loadavg()

    val all = outcomes.map(_._1).toSeq
    // the set-up check and a traced run's warm-up operation count as attempts
    val pre = setupError +: warm.map(_.error).toSeq
    val preErrors = pre.flatten
    val attempted = all.size + pre.size
    val failed = all.count(!_.ok) + preErrors.size
    val ops = all.filter(_.kind == "op")
    val writes = all.filter(_.kind == "write")
    val opsTimed = if (a.trace) outcomes.filter(x => !x._2 && x._1.kind == "op").map(_._1).toSeq
      else ops
    val tails = byGroup(opsTimed).map { case (g, xs) => g -> Stats.tail(xs) }
    val evidence = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "scale" -> a.scale, "master" -> sc.master, "default_parallelism" -> sc.defaultParallelism,
      "host_cpus" -> Runtime.getRuntime.availableProcessors(), "pid" -> ProcessHandle.current().pid(),
      "child_processes" -> ProcessHandle.current().children().count(),
      "task_threads_alive" -> Thread.getAllStackTraces.keySet.asScala
        .count(_.getName.startsWith("Executor task launch worker")),
      "loadavg_before" -> loadBefore, "loadavg_after" -> loadAfter,
      "loadavg_per_op" -> outcomes.map(_._3), "jvm_gc_s" -> gcSecs, "jvm_heap_peak_mb" -> heapPeakMb,
      "phases_s" -> phases.clone(), "setup_s_each" -> setupSecs, "ops" -> all.size, "op_latencies_s" -> all.map(_.seconds),
      "op_tail" -> tails.map { case (g, t) => g -> Map("value" -> t.value,
        "percentile" -> t.percentile, "samples" -> t.samples, "beyond" -> t.beyond) },
      "failed_frac" -> failed.toDouble / attempted,
      "errors" -> (preErrors ++ all.flatMap(_.error)).take(20))

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val itemsPerS = all.map(_.items).sum / all.map(_.seconds).sum
        Seq(
          ("setup_s", Stats.median(setupSecs.toSeq), "s"),
          ("op_p50_s", groupMedian(opsTimed), "s"),
          ("items_per_s", itemsPerS, "1/s"),
          ("write_p50_s", Stats.median((if (writes.nonEmpty) writes else ops).map(_.seconds)), "s"),
          ("recall_at_10", Stats.mean(all.take(minOps).filter(_.kind == "op").map(_.quality)), "ratio"),
          ("store_mb", storeMbAtMin, "MB"))
      } else {
        listener.foreach(_ => org.apache.spark.perfbench.ListenerBusAccess.drain(sc))
        layerMetrics(w, tracer.get, listener.get, traced.toSeq, outcomes.toSeq, endSnap,
          gcSecs, heapPeakMb)
      }
    val spans = tracer.map(_.spans).getOrElse(Nil)
    // each span's own Spark jobs, by the job group it set
    val bySpan = listener.map(l => jobsBySpan(spans, l)).getOrElse(Map.empty)
    val stray = listener.map { l =>
      val attributed = bySpan.values.flatten.map(_.id).toSet
      traced.map(t => strayJobs(t._2, attributed, l).size).sum
    }.getOrElse(0)
    if (a.trace) evidence("trace_jobs_outside_spans") = stray
    val report = evidence ++ Map(
      "metrics" -> metrics.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
      "spans" -> spans.map { s =>
        val t = LayerListener.totals(bySpan.getOrElse(s.id, Nil))
        Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name, "layer" -> s.layer,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs, "spark_jobs" -> t("jobs"),
          "executor_cpu_s" -> t("cpu"), "input_bytes" -> t("input"),
          "shuffle_write_bytes" -> t("shw"))
      })
    val tailNote = tails.map { case (g, t) =>
      f"${if (g.isEmpty) "" else g + " "}p${t.percentile}%.0f of ${t.samples} samples (${t.beyond} beyond)"
    }.mkString(", ")
    println(s"[perfbench] ${w.name}: ${all.size} operations, $failed failed, tail $tailNote, " +
      f"loadavg $loadBefore%.2f→$loadAfter%.2f, gc $gcSecs%.2fs, master ${sc.master}" +
      (if (a.trace) s", $stray jobs in traced operations outside any span" else ""))
    (preErrors ++ all.flatMap(_.error)).take(5).foreach(e => println(s"[perfbench] error: $e"))
    Result(failed == 0, attempted, failed, metrics, report.toMap)
  }

  /** Latencies by request class. */
  def byGroup(ops: Seq[OpOutcome]): Map[String, Seq[Double]] =
    ops.groupBy(_.group).map { case (g, xs) => g -> xs.map(_.seconds) }

  /** The median latency of a request mix: with one class the median; with
    * several classes in fixed shares the classes' medians weighted by their
    * shares, since a pooled median of distinct latency clusters falls in
    * the gap between them and jumps with a single sample. */
  def groupMedian(ops: Seq[OpOutcome]): Double =
    if (ops.isEmpty) 0.0
    else byGroup(ops).values.map(xs => Stats.median(xs) * xs.size).sum / ops.size

  /** The jobs each span submitted itself (not its children's): those
    * whose job group ([[Tracer]] sets it around the span's call) names the
    * span and that started inside the span's window. */
  def jobsBySpan(spans: Seq[Span], listener: LayerListener): Map[Long, Seq[LayerListener.Job]] = {
    val byId = spans.map(s => s.id -> s).toMap
    listener.all.flatMap(j => Tracer.spanOf(j.group).flatMap(byId.get)
      .filter(s => j.startMs >= s.wallStartMs && j.startMs <= s.wallEndMs).map(s => s.id -> j))
      .groupBy(_._1).map { case (id, js) => id -> js.map(_._2) }
  }

  /** Jobs that started while traced operation `o` ran but belong to no
    * span: submitted from a pooled thread that kept another call's job
    * group, or none. They count toward the operation, not toward a layer. */
  def strayJobs(o: OpOutcome, attributed: Set[Int], listener: LayerListener): Seq[LayerListener.Job] =
    listener.all.filter(j => j.startMs >= o.startMs && j.startMs <= o.endMs && !attributed(j.id))

  /** The per-layer metrics of a traced run (README lists each one).
    * Times are medians over traced operations of the time the operation
    * spent in that layer's spans (self time); counts and bytes are means
    * per traced operation; fractions are ratios of totals. */
  def layerMetrics(
      w: Workload, tracer: Tracer, listener: LayerListener,
      traced: Seq[(Int, OpOutcome, StoreWalker.Delta)], outcomes: Seq[(OpOutcome, Boolean, Double)],
      endSnap: StoreWalker.Snapshot, gcSecs: Double, heapPeakMb: Double)
      : Seq[(String, Double, String)] = {
    val spans = tracer.spans
    val self = Tracer.selfTimes(spans)
    val byOp = spans.groupBy(_.op)
    val bySpan = jobsBySpan(spans, listener)
    val attributed = bySpan.values.flatten.map(_.id).toSet
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def mean(xs: Seq[Double]) = Stats.mean(xs)
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b

    // spark: the operation's jobs (those of all its spans, and stray jobs
    // that ran inside its window); bySpanName: the jobs of each named
    // span, for the layers' own engine figures
    final case class Rec(o: OpOutcome, d: StoreWalker.Delta, selfS: Map[String, Double],
        durs: Map[String, Seq[Double]], rootFrac: Double, spark: Map[String, Double],
        bySpanName: Map[String, Map[String, Double]], stray: Int)
    val recs = traced.map { case (i, o, d) =>
      val ss = byOp.getOrElse(i.toLong, Nil)
      val kids = ss.filter(_.parent != 0L)
      val root = ss.find(_.parent == 0L)
      val stray = strayJobs(o, attributed, listener)
      val jobs = ss.flatMap(s => bySpan.getOrElse(s.id, Nil)) ++ stray
      val covered = Tracer.unionLength(jobs.map(j =>
        (math.max(j.startMs, o.startMs), math.min(if (j.endMs < 0) o.endMs else j.endMs, o.endMs))))
      val sp = LayerListener.totals(jobs) + ("gap" -> math.max(0.0, o.seconds - covered / 1e3))
      Rec(o, d,
        kids.groupBy(_.name).map { case (n, xs) => n -> xs.map(x => self(x.id) / 1e9).sum },
        kids.groupBy(_.name).map { case (n, xs) => n -> xs.map(_.durNs / 1e9) },
        root.map(r => ratio(self(r.id).toDouble, r.durNs.toDouble)).getOrElse(0.0), sp,
        kids.groupBy(_.name).map { case (n, xs) =>
          n -> LayerListener.totals(xs.flatMap(x => bySpan.getOrElse(x.id, Nil))) }, stray.size)
    }
    def perOp(n: String) = recs.map(_.selfS.getOrElse(n, 0.0))
    def calls(n: String) = recs.flatMap(_.durs.getOrElse(n, Nil))
    def counter(n: String) = mean(recs.map(_.o.counters.getOrElse(n, 0.0)))
    def sumCounter(n: String) = recs.map(_.o.counters.getOrElse(n, 0.0)).sum
    def sparkMed(k: String) = med(recs.map(_.spark(k)))
    def spanSpark(name: String, k: String) =
      med(recs.map(_.bySpanName.get(name).map(_(k)).getOrElse(0.0)))
    def folds(table: String) = mean(recs.map(r => if (r.d.newVersions.contains(table)) 1.0 else 0.0))
    val untraced = outcomes.filter(x => !x._2 && x._1.kind == "op").map(_._1)
    val tracedOps = recs.filter(_.o.kind == "op").map(_.o)
    // the overhead compares like with like: request classes (a reload
    // cycle, a collection) that both sides ran
    val common = untraced.map(_.group).toSet intersect tracedOps.map(_.group).toSet
    val untracedP50 = groupMedian(untraced.filter(o => common(o.group)).toSeq)
    val tracedP50 = groupMedian(tracedOps.filter(o => common(o.group)))
    val composition = recs.map(r => Seq("operators.dedup", "operators.sigindex.screen",
      "operators.sigindex.append").map(r.selfS.getOrElse(_, 0.0)).sum)
    val reads = recs.filter(r => r.o.kind == "op" && w == VectorServe)

    Seq(
      ("sources.list_s", med(perOp("sources.list")), "s"),
      ("sources.files_listed", counter("sources.files_listed"), "count"),
      ("sources.csv_bytes_landed", counter("sources.csv_bytes_landed"), "bytes"),
      ("plans.plan_s", med(perOp("plans.plan")), "s"),
      ("plans.items", counter("plans.items"), "count"),
      ("plans.full_reloads", counter("plans.full_reloads"), "count"),
      ("meta.load_s", med(perOp("meta.load")), "s"),
      ("operators.merge.s", med(perOp("operators.merge.incremental")), "s"),
      ("operators.merge.full_load_s", med(calls("operators.merge.full_load")), "s"),
      ("operators.merge.jobs", spanSpark("operators.merge.incremental", "jobs"), "count"),
      ("operators.merge.cpu_s", spanSpark("operators.merge.incremental", "cpu"), "s"),
      ("operators.merge.change_rows", counter("operators.merge.change_rows"), "count"),
      ("operators.merge.rows_applied", counter("operators.merge.rows_applied"), "count"),
      ("operators.merge.applied_frac",
        ratio(sumCounter("operators.merge.rows_applied"), sumCounter("operators.merge.change_rows")), "ratio"),
      ("operators.store.commits", mean(recs.map(_.d.commits.toDouble)), "count"),
      ("operators.store.bytes_written", mean(recs.map(_.d.bytesWritten.toDouble)), "bytes"),
      ("operators.store.files_written", mean(recs.map(_.d.filesWritten.toDouble)), "count"),
      ("operators.store.files_linked", mean(recs.map(_.d.filesLinked.toDouble)), "count"),
      ("operators.store.buckets_rewritten_frac",
        ratio(recs.map(_.d.bucketsRewritten).sum, recs.map(_.d.bucketsTotal).sum), "ratio"),
      ("operators.store.compactions", mean(recs.map(_.d.compactions.toDouble)), "count"),
      ("operators.store.live_files", endSnap.liveFiles.toDouble, "count"),
      ("operators.store.bytes_on_disk", endSnap.bytesOnDisk.toDouble, "bytes"),
      ("operators.dedup.s", med(perOp("operators.dedup")), "s"),
      ("operators.dedup.rows_out_frac", counter("operators.dedup.rows_out_frac"), "ratio"),
      ("operators.dedup.jobs", spanSpark("operators.dedup", "jobs"), "count"),
      ("operators.dedup.cpu_s", spanSpark("operators.dedup", "cpu"), "s"),
      ("operators.sigindex.screen_s", med(perOp("operators.sigindex.screen")), "s"),
      ("operators.sigindex.screen_jobs", spanSpark("operators.sigindex.screen", "jobs"), "count"),
      ("operators.sigindex.screen_cpu_s", spanSpark("operators.sigindex.screen", "cpu"), "s"),
      ("operators.sigindex.append_s", med(perOp("operators.sigindex.append")), "s"),
      ("operators.sigindex.append_jobs", spanSpark("operators.sigindex.append", "jobs"), "count"),
      ("operators.sigindex.append_cpu_s", spanSpark("operators.sigindex.append", "cpu"), "s"),
      ("operators.sigindex.admitted_frac", counter("operators.sigindex.admitted_frac"), "ratio"),
      ("operators.sigindex.folds", folds(s"${Admission.IndexName}_sigs"), "count"),
      ("streaming.drain_overhead_s",
        if (w == Admission) untracedP50 - med(composition) else 0.0, "s"),
      ("streaming.batches", mean(untraced.map(_.counters.getOrElse("streaming.batches", 0.0))), "count"),
      ("operators.ivf.topk_small_s", med(calls("operators.ivf.topk_small")), "s"),
      ("operators.ivf.topk_large_s", med(calls("operators.ivf.topk_large")), "s"),
      ("operators.ivf.upsert_s", med(calls("operators.ivf.upsert")), "s"),
      ("operators.ivf.input_bytes_per_request", med(reads.map(_.spark("input"))), "bytes"),
      ("operators.ivf.shuffle_bytes_per_request", med(reads.map(_.spark("shw"))), "bytes"),
      ("operators.ivf.overlay_folds", folds("large_vectors"), "count"),
      ("spark.jobs", sparkMed("jobs"), "count"),
      ("spark.stages", sparkMed("stages"), "count"),
      ("spark.tasks", sparkMed("tasks"), "count"),
      ("spark.executor_cpu_s", sparkMed("cpu"), "s"),
      ("spark.executor_run_s", sparkMed("run"), "s"),
      ("spark.input_bytes", sparkMed("input"), "bytes"),
      ("spark.shuffle_read_bytes", sparkMed("shr"), "bytes"),
      ("spark.shuffle_write_bytes", sparkMed("shw"), "bytes"),
      ("spark.spill_bytes", sparkMed("spill"), "bytes"),
      ("spark.failed_tasks", sparkMed("failed"), "count"),
      ("spark.driver_gap_s", sparkMed("gap"), "s"),
      ("spark.max_concurrent_tasks", listener.maxConcurrentTasks.toDouble, "count"),
      ("jvm.gc_s", gcSecs, "s"),
      ("jvm.heap_peak_mb", heapPeakMb, "MB"),
      ("trace.op_p50_untraced_s", untracedP50, "s"),
      ("trace.op_p50_traced_s", tracedP50, "s"),
      ("trace.overhead_frac", ratio(tracedP50 - untracedP50, untracedP50), "ratio"),
      ("trace.unattributed_frac", med(recs.map(_.rootFrac)), "ratio"),
      ("trace.jobs_outside_spans", mean(recs.map(_.stray.toDouble)), "count"))
  }
}
