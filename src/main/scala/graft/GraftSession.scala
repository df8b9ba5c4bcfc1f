package graft

import org.apache.spark.sql.SparkSession

/**
 * Session factory with the engine's recommended defaults — the Spark-native
 * analogue of the reference's spark_session.py:99-250 (AQE + partition
 * coalescing on, tuned shuffle partitions, Kryo). Also tolerates
 * nanosecond parquet timestamps (read as long, converted by sources).
 */
object GraftSession {

  /** Apply engine defaults to a builder; caller still picks master/app. */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // default-on since 3.2, pinned here because the 100 TB posture
      // depends on it: runtime split of skewed shuffle-join partitions
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Spark's generated-class cache is JVM-wide and sized once, from
      // this static conf, at the first codegen in the JVM. Its default of
      // 100 is below the ~140 distinct classes one ETL pipeline run
      // generates, so the LRU evicts every class before its next use and
      // each run recompiles all of them (Janino, then the JIT). 500 holds
      // graft's measured plan set with room to spare.
      .config("spark.sql.codegen.cache.maxEntries", "500")

  /** Local session sized from SPARK_GRAFT_CPUS (driver harness contract),
    * defaulting to all available cores (local[32] on the target box). */
  def local(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val s = configure(SparkSession.builder().master(s"local[$cpus]")
      .appName(appName), shufflePartitions = cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
