package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** The benchmark's own checks, cheap enough to run before trusting it:
  * the tail-percentile helper, self time over nested and overlapping spans,
  * the CDC fold oracle on a hand-worked batch, the inode-based
  * written/linked split, and a tiny-size smoke run of every workload in
  * both modes. Exits non-zero on the first failure. The build runs the
  * `--quick` form, which smoke-runs the traced mode only.
  *
  * {{{ python3 perfbench/run.py --selftest }}} */
object SelfTest {
  private var checks = 0

  private def expect(cond: Boolean, what: => String): Unit = {
    checks += 1
    if (!cond) throw new AssertionError(what)
  }

  def tails(): Unit = {
    val t100 = Stats.tail((1 to 100).map(_.toDouble))
    expect(t100 == Stats.Tail(90.0, 90.0, 100, 10), s"tail of 1..100: $t100")
    val t30 = Stats.tail((1 to 30).map(_.toDouble))
    expect(t30.value == 20.0 && t30.beyond == 10 && t30.samples == 30, s"tail of 1..30: $t30")
    // too few samples for ten beyond the median: the median is the tail
    val t15 = Stats.tail((1 to 15).map(_.toDouble))
    expect(t15.value == 8.0 && t15.percentile == 50.0 && t15.beyond == 7, s"tail of 1..15: $t15")
    expect(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median of an even sample")
  }

  def selfTimes(): Unit = {
    def s(id: Long, parent: Long, a: Long, b: Long) = Span(id, parent, 1, s"s$id", "l", a, b, a, b)
    // root 0..100; child 10..40 with grandchild 20..30; two overlapping
    // workers 50..80 and 60..90; a child that overruns its parent is clipped
    val spans = Seq(s(1, 0, 0, 100), s(2, 1, 10, 40), s(3, 2, 20, 30),
      s(4, 1, 50, 80), s(5, 1, 60, 90), s(6, 1, 95, 120))
    val self = Tracer.selfTimes(spans)
    expect(self(1) == 100 - 30 - 40 - 5, s"root self time ${self(1)}")
    expect(self(2) == 20 && self(3) == 10 && self(4) == 30 && self(5) == 30,
      s"self times $self")
    expect(Tracer.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (21L, 22L))) == 20,
      "union of overlapping intervals")
    expect(Tracer.spanOf(Tracer.group(42L)).contains(42L) && Tracer.spanOf("other").isEmpty,
      "job group names its span")
  }

  def cdcOracle(): Unit = {
    import CdcSync.{Oracle, Row}
    val o = new Oracle
    o.load(Seq(1L -> Row(1, 10L, "a"), 2L -> Row(2, 20L, "b")))
    val base = o.checksum
    // empty batch: nothing changes
    Seq.empty[(Char, Long, Row)].foreach { case (op, id, r) => o(op, id, r) }
    expect(o.count == 2 && o.checksum == base, "empty batch")
    // I→U→D of one key in one batch ends deleted; D of a never-seen key is
    // a no-op; U of key 2 replaces it (latest wins)
    Seq(('I', 7L, Row(7, 70L, "x")), ('U', 7L, Row(8, 80L, "y")), ('D', 7L, Row(8, 80L, "y")),
      ('D', 99L, Row(0, 0L, "z")), ('U', 2L, Row(3, 30L, "c")), ('U', 2L, Row(4, 40L, "d")))
      .foreach { case (op, id, r) => o(op, id, r) }
    expect(o.count == 2 && o.rows(1L) == Row(1, 10L, "a") && o.rows(2L) == Row(4, 40L, "d") &&
      !o.rows.contains(7L) && !o.rows.contains(99L), s"fold result ${o.rows}")
    expect(o.checksum == CdcSync.crc(1L, Row(1, 10L, "a")) + CdcSync.crc(2L, Row(4, 40L, "d")),
      "checksum follows the rows")
  }

  def storeSplit(tmp: Path): Unit = {
    val v1 = Files.createDirectories(tmp.resolve("t/v1/_bucket=0"))
    Files.createDirectories(tmp.resolve("t/v1/_bucket=1"))
    Files.write(tmp.resolve("t/_current"), "1\nbuckets=2;pks=id".getBytes)
    Files.write(v1.resolve("part-a"), Array.fill[Byte](100)(1))
    Files.write(tmp.resolve("t/v1/_bucket=1/part-b"), Array.fill[Byte](50)(2))
    val before = StoreWalker.snapshot(tmp)
    // v2 rewrites bucket 0 and links bucket 1
    val v2 = Files.createDirectories(tmp.resolve("t/v2/_bucket=0"))
    Files.createDirectories(tmp.resolve("t/v2/_bucket=1"))
    Files.write(v2.resolve("part-c"), Array.fill[Byte](70)(3))
    Files.createLink(tmp.resolve("t/v2/_bucket=1/part-b"), tmp.resolve("t/v1/_bucket=1/part-b"))
    Files.write(tmp.resolve("t/_current"), "2\nbuckets=2;pks=id".getBytes)
    val d = StoreWalker.diff(before, StoreWalker.snapshot(tmp))
    expect(d.filesWritten == 1 && d.filesLinked == 1 && d.bytesWritten == 70, s"split $d")
    expect(d.bucketsRewritten == 1 && d.bucketsTotal == 2 && d.commits == 1, s"buckets $d")
  }

  /** Run every workload at a tiny size. A traced run interleaves untraced
    * and traced operations, so `tracedOnly` still covers every path. */
  def smoke(work: Path, tracedOnly: Boolean): Unit = {
    val spark = Main.session(2, work)
    try {
      for (w <- Workload.all; trace <- if (tracedOnly) Seq(true) else Seq(false, true)) {
        val a = Main.Args(w.name, 11L, 1, trace, cpus = 2, scale = 0.02, setups = 1,
          minOps = if (tracedOnly) Some(2) else None, work = work, out = work.resolve("out"))
        val r = Main.run(spark, w, a, work.resolve(s"${w.name}-$trace"))
        expect(r.correct && r.failed == 0 && r.attempted >= 2,
          s"smoke ${w.name} trace=$trace: ${r.report.get("errors")}")
        expect(r.metrics.forall(m => !m._2.isNaN), s"smoke ${w.name}: NaN metric")
        if (trace) expect(r.metrics.exists(m => m._1 == "spark.jobs" && m._2 > 0),
          s"smoke ${w.name}: no Spark job attributed to a traced operation")
      }
    } finally spark.stop()
  }

  /** `--quick` smoke-runs the traced mode only (the build's check). */
  def main(argv: Array[String]): Unit = {
    val work = Files.createTempDirectory("perfbench-selftest")
    try {
      tails(); selfTimes(); cdcOracle(); storeSplit(work.resolve("store"))
      println(s"[selftest] unit checks passed ($checks)")
      smoke(work.resolve("smoke"), tracedOnly = argv.contains("--quick"))
      println(s"[selftest] all $checks checks passed")
    } catch {
      case e: Throwable =>
        println(s"[selftest] FAILED: ${e.getMessage}")
        e.printStackTrace()
        Main.deleteTree(work)
        System.exit(1)
    }
    Main.deleteTree(work)
    System.exit(0)
  }
}
