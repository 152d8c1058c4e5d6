package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The traced admission drain runs under the session settings graft's own
  * drain applies. `DrainConf` is package-private to graft, hence this
  * one-line bridge. */
object DrainConfAccess {
  def withDrainConf[A](spark: SparkSession)(body: => A): A =
    graft.operators.DrainConf.withDrainConf(spark)(body)
}
