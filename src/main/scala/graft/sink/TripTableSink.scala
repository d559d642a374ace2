package graft.sink

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.schema.TripSchemas

/** Keyed last-write-wins sink for the trips table (SURVEY.md §2.1 S7/S8).
  *
  * The DynamoDB analog: a `date`-partitioned parquet table with
  * last-write-wins merge by `trip_id`. Partitioning by `date` gives the
  * daily KPI job free partition pruning (Catalyst
  * PruneFileSourcePartitions replaces the reference's manual
  * KeyConditionExpression, daily_kpi_aggregation.py:45-56).
  *
  * One write path: [[appendDelta]] + [[readMerged]] + [[compact]].
  * Each micro-batch APPENDS its rows (epoch-stamped); readers apply
  * last-write-wins merge-on-read; periodic [[compact]] folds deltas.
  * Per-trigger I/O is O(batch), not O(partition) as a read-merge-rewrite
  * would be. On a production cluster the same interface targets a
  * Delta/Iceberg MERGE; plain parquet keeps the engine dependency-free
  * here.
  */
object TripTableSink {

  private val seqCol = "__graft_seq"

  /** Row precedence within one epoch: a Completed record must never be
    * shadowed by the Started emitted in the same micro-batch (Update
    * mode emits both), and a real terminal state beats an eviction.
    */
  private def statusRank: Column =
    when(col("status") === TripSchemas.StatusCompleted, 3)
      .when(col("status") === TripSchemas.StatusExpired, 2)
      .otherwise(1)

  private def lastWriteWins(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("trip_id"))
      .orderBy(col(seqCol).desc, statusRank.desc,
        col("dropoff_datetime").desc_nulls_last)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Append one epoch's rows — O(batch) I/O, no read of existing data.
    * The batch is repartitioned by `date` first: without it every
    * upstream task (state partitions, typically 32+) opens a writer in
    * every touched date dir, so one epoch lands tasks×dates small
    * files and the merge-on-read listing pays for it forever — the
    * small-files cliff BENCH_NOTES "manifest-table probe" measured at
    * 13-18×. With it, an epoch writes one file per touched date; the
    * added shuffle moves only the micro-batch's own rows.
    */
  def appendDelta(batch: DataFrame, path: String, epoch: Long): Unit =
    batch.withColumn(seqCol, lit(epoch))
      .repartition(col("date"))
      .write.mode(SaveMode.Append).partitionBy("date").parquet(path)

  /** Merge-on-read view: latest record per trip_id across all appended
    * epochs. The window shuffle is by trip_id over only the rows of the
    * dates actually read — combine with a `date` filter for pruning.
    */
  def readMerged(spark: SparkSession, path: String): DataFrame =
    mergedView(spark.read.parquet(path))

  /** Last-write-wins view over an already-loaded (and possibly
    * date-pruned) frame. Readers that prune first (the daily KPI job)
    * use this so pruning happens before the merge window.
    */
  def mergedView(df: DataFrame): DataFrame =
    lastWriteWins(df).drop(seqCol)

  /** Fold all deltas into a single epoch (run periodically, e.g. daily).
    * Writes the merged snapshot aside, then swaps via two renames (old
    * table aside, snapshot in) — there is no delete-before-publish
    * window, so a crash strands at worst a `.old` directory, never the
    * data. Rows are stamped with the table's CURRENT max epoch, so
    * post-compaction appends with higher batchIds still win last-write-
    * wins (stamping 0 would let stale compacted rows beat fresh writes
    * after a checkpoint reset ties the epochs).
    *
    * EXCLUSIVE-ACCESS maintenance op: pause the streaming appender
    * first. The directory rename moves whatever is in the table at that
    * instant — an epoch appended mid-swap would be lost with the `.old`
    * cleanup. (A production deployment swaps a catalog/manifest pointer
    * — Delta/Iceberg — precisely to avoid this constraint.) Renames are
    * checked: Hadoop reports most failures as `false`, and an unchecked
    * failed first rename would nest the snapshot INSIDE the live table,
    * doubling every row.
    */
  def compact(spark: SparkSession, path: String): Unit = {
    // A scheduled compaction of a not-yet-populated table is a no-op:
    // missing path, or a table with schema but zero rows (max(seq) is
    // null — getLong would NPE).
    if (!tableExists(spark, path)) return
    val current0 = spark.read.parquet(path)
    val current =
      if (current0.columns.contains(seqCol)) current0
      else current0.withColumn(seqCol, lit(0L))
    val maxSeqRow = current.agg(max(col(seqCol))).head
    if (maxSeqRow.isNullAt(0)) return
    val maxSeq: Long = maxSeqRow.getLong(0)
    val tmp = path + ".compact.tmp"
    val old = path + ".compact.old"
    lastWriteWins(current)
      .withColumn(seqCol, lit(maxSeq))
      .write.mode(SaveMode.Overwrite).partitionBy("date").parquet(tmp)
    val hPath = new org.apache.hadoop.fs.Path(path)
    val hTmp = new org.apache.hadoop.fs.Path(tmp)
    val hOld = new org.apache.hadoop.fs.Path(old)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(hOld, true)
    require(fs.rename(hPath, hOld), s"compact: failed to move $path aside")
    require(fs.rename(hTmp, hPath),
      s"compact: failed to publish snapshot to $path (old data at $old)")
    fs.delete(hOld, true)
  }

  /** foreachBatch hook using the append strategy. */
  def foreachBatchAppend(path: String): (DataFrame, Long) => Unit =
    (batch, epoch) => appendDelta(batch, path, epoch)

  private def tableExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }
}
