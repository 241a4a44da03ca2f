package graft

import org.apache.spark.sql.SparkSession

/** The one local session of the runnable mains (Bench, Verify, Plans,
  * Audit, Demo): `local[$SPARK_GRAFT_CPUS]` (default 4) with as
  * many shuffle partitions as cores, UTC session time zone, AQE on, UI
  * off, WARN logging. */
object Harness {
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drops every cached and checkpointed block, so one query's retained
    * state cannot evict the next one's mid-flight. */
  def clearState(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }
}
