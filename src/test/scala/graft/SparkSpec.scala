package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, one session). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    super.beforeAll()
  }
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `body`'s result and how many Spark jobs it started on this thread,
    * counted by job group once the listener bus has delivered every event. */
  def jobsRunBy[A](group: String)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    val a = try body finally sc.clearJobGroup()
    org.apache.spark.graft.ListenerBusAccess.drain(sc)
    (a, sc.statusTracker.getJobIdsForGroup(group).length)
  }
}

/** A store that fails every commit of one named table while `failTable`
  * names it — the crash window between an overlay's member commits and
  * its manifest swap. It throws from [[graft.operators.TableStore.newStaging]],
  * which every commit path calls before it writes, so each commit of the
  * table fails the same way whichever write, append or merge it is. */
class CrashStore(root: String) extends graft.operators.TableStore(root) {
  @volatile var failTable: Option[String] = None
  override private[graft] def newStaging(name: String): java.nio.file.Path = {
    if (failTable.contains(name))
      throw new RuntimeException(s"injected crash on $name commit")
    super.newStaging(name)
  }
}
