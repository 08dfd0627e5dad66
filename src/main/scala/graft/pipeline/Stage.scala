package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Pipeline stage labels: every Spark job a pipeline stage starts
  * carries the stage's name in the `graft.stage` local property, so a
  * listener reading `SparkListenerJobStart.properties` can charge the
  * job to its stage. */
private[graft] object Stage {

  val Key = "graft.stage"

  /** Runs `body` with [[Key]] set to `name` on this thread, and puts the
    * caller's value back (unset if it had none) on return, also when
    * `body` throws. */
  def apply[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, name)
    try body finally sc.setLocalProperty(Key, prior)
  }
}
