package graft.streaming

import graft.operators.Scd2
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming type-2 SCD maintenance — each micro-batch is one dimension
 * snapshot epoch folded into the persisted history with [[Scd2.merge]]
 * (`foreachBatch`, the [[StreamingDedup]] read-modify-append shape).
 *
 * Persisted layout under `dir`:
 *  - `closed/batch_id=<e>/` — rows CLOSED at epoch e, APPEND-ONLY:
 *    closed versions are immutable, so history accumulates as one
 *    idempotent dynamic-overwrite partition per epoch (the
 *    [[GrowingIndex.commit]] discipline);
 *  - `open-<e>/` — the full OPEN set after epoch e (small: one row per
 *    live key), rewritten per epoch;
 *  - `CURRENT` — the atomic [[CurrentPointer]] naming the committed
 *    epoch and its open-set path.
 *
 * Exactly-once across crash replays: the pointer is swapped LAST.
 * A replayed batch whose epoch is ≤ the pointer's returns immediately;
 * a crash after the closed write but before the swap leaves an orphan
 * `closed/batch_id=e` partition that [[history]] excludes (it reads
 * `batch_id ≤ CURRENT`) and the replay deterministically overwrites.
 *
 * Scale shape per epoch: [[Scd2.merge]]'s one key-partitioned
 * full-outer join between the OPEN slice (≪ history) and the snapshot
 * — closed rows are never read or rewritten, so per-epoch cost tracks
 * the live-key count, not the accumulated version count.
 */
object StreamingScd2 {

  /** The committed (epoch, openPath), if any epoch has committed. */
  def current(spark: SparkSession, dir: String): Option[(Long, String)] =
    CurrentPointer.read(spark, dir).map { case (epoch, openPath) =>
      (epoch.toLong, openPath)
    }

  /** Fold one snapshot epoch into the persisted history (idempotent:
    * already-committed epochs return immediately; see object doc). */
  def processBatch(snapshot: DataFrame, batchId: Long,
      keyCols: Seq[String], attrCols: Seq[String], dir: String): Unit = {
    if (snapshot.isEmpty) return
    val spark = snapshot.sparkSession
    val cur = current(spark, dir)
    if (cur.exists(_._1 >= batchId)) return
    val openPrev = cur match {
      case Some((_, p)) => spark.read.parquet(p)
      case None => Scd2.init(snapshot.limit(0), keyCols, attrCols, 0L)
    }
    val merged = Scd2.merge(openPrev, snapshot, keyCols, attrCols, batchId)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      merged.filter(col("valid_to").isNotNull)
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(s"$dir/closed")
      val openPath = s"$dir/open-$batchId"
      merged.filter(col("valid_to").isNull)
        .write.mode("overwrite").parquet(openPath)
      CurrentPointer.write(spark, dir, batchId.toString, openPath)
    } finally merged.unpersist()
  }

  /** The full committed history: append-only closed partitions up to
    * the CURRENT epoch (excluding any post-crash orphan) ∪ the open
    * set the pointer names. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val (epoch, openPath) = current(spark, dir).getOrElse(
      throw new IllegalStateException(s"no committed SCD2 epoch at $dir"))
    val open = spark.read.parquet(openPath)
    val closedPath = new org.apache.hadoop.fs.Path(dir, "closed")
    val fs = closedPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(closedPath)) open
    else spark.read.parquet(closedPath.toString)
      .where(col("batch_id") <= epoch)
      .drop("batch_id")
      .unionByName(open)
  }

  /** Start the stream: each micro-batch of `snapshots` is one epoch
    * (batchId = epoch). Checkpointed; replays are idempotent. */
  def start(snapshots: DataFrame, keyCols: Seq[String],
      attrCols: Seq[String], dir: String,
      checkpointDir: String): StreamingQuery =
    snapshots.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, keyCols, attrCols, dir)
      }
      .option("checkpointLocation", checkpointDir)
      .start()
}
