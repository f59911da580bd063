package graft

import org.apache.spark.sql.SparkSession

/** The one local session recipe of the runnable mains ([[Bench]],
  * [[Verify]], [[Harness]]). */
object GraftSession {

  /** Width: `SPARK_GRAFT_CPUS` when set, else every core the JVM sees. */
  def local(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // testdata events.ts is parquet TIMESTAMP(NANOS) — read as long nanos
      // (normalized back to micros timestamps in SparkEntry.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // read parquet timestamps as session-TZ TIMESTAMP (castable to long)
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
