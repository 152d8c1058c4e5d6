package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.operators.{OverlayLock, TableStore}
import graft.streaming.CdcStream

/** Structured-Streaming CDC path: change files stream in, each micro-batch
  * merges into the versioned table with the same semantics as the batch
  * IncrementalMerge (shared ChangeApplier). */
class CdcStreamSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("name", StringType)))

  private def writeCsv(dir: String, name: String, rows: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name), rows.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  test("AvailableNow stream applies I/U/D change files then stops") {
    val root = tmpDir("stream")
    val tableDir = s"$root/stage/cdc/t"
    val store = new TableStore(s"$root/warehouse")
    // seed target
    store.write(spark.createDataFrame(
      java.util.Arrays.asList(Row(1, "alice"), Row(2, "bob")), schema), "t")
    // two change files (lexicographically ordered)
    writeCsv(tableDir, "20260101-000000001.csv", Seq("U,1,alice2", "I,3,carol"))
    writeCsv(tableDir, "20260102-000000001.csv", Seq("D,2,bob", "U,3,carol2"))
    // a full-load file that must be IGNORED by the change-file glob
    writeCsv(tableDir, "LOAD00000001.csv", Seq("9,ghost"))

    val q = CdcStream.start(spark, tableDir, "t", schema, Seq("id"),
      store, s"$root/chk", availableNow = true)
    q.awaitTermination(60000)

    val result = store.read(spark, "t").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(result === Map(1 -> "alice2", 3 -> "carol2"))

    // restart with a NEW change file: checkpoint skips the processed ones
    writeCsv(tableDir, "20260103-000000001.csv", Seq("U,1,alice3"))
    val q2 = CdcStream.start(spark, tableDir, "t", schema, Seq("id"),
      store, s"$root/chk", availableNow = true)
    q2.awaitTermination(60000)
    val result2 = store.read(spark, "t").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(result2 === Map(1 -> "alice3", 3 -> "carol2"))
  }

  test("a change file wider than the target fails the stream, naming the file") {
    val root = tmpDir("streamdrift")
    val tableDir = s"$root/stage/cdc/t"
    val store = new TableStore(s"$root/warehouse")
    store.write(spark.createDataFrame(
      java.util.Arrays.asList(Row(1, "alice")), schema), "t")
    writeCsv(tableDir, "20260101-000000001.csv", Seq("U,1,alice2,extra-col"))
    val q = CdcStream.start(spark, tableDir, "t", schema, Seq("id"),
      store, s"$root/chk", availableNow = true)
    val err = intercept[Exception] { q.awaitTermination(60000) }
    def messages(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + messages(t.getCause)
    val msg = messages(err)
    assert(msg.contains("schema drift"), s"unexpected error: $msg")
    assert(msg.contains("20260101-000000001.csv"))
    // drift never half-applies on the streaming path either
    assert(store.read(spark, "t").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap === Map(1 -> "alice"))
  }

  test("conflict retry: transient CAS losses re-run the merge, persistent ones rethrow") {
    var calls = 0
    val result = OverlayLock.retryOnConflict {
      calls += 1
      if (calls < 3) throw new graft.operators.VersionConflictException("moved")
      "merged"
    }
    assert(result === "merged" && calls === 3)

    var always = 0
    intercept[graft.operators.VersionConflictException] {
      OverlayLock.retryOnConflict {
        always += 1
        throw new graft.operators.VersionConflictException("still moving")
      }
    }
    assert(always === 3) // bounded — a never-settling table fails loudly

    // non-conflict failures are NOT retried
    var other = 0
    intercept[IllegalStateException] {
      OverlayLock.retryOnConflict {
        other += 1
        throw new IllegalStateException("schema drift")
      }
    }
    assert(other === 1)
  }
}
