package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Shared store I/O for the streaming twins' parquet side-stores.
  *
  * Every twin keeps its cross-batch state (survivor sets, gram
  * indexes, centroid stats, ...) in a parquet directory that grows by
  * one partial per micro-batch. The store contract, which every
  * twin's exactly-once guarantee rests on:
  *
  *  1. One directory per batch: [[writeBatch]] lands batch N's partial
  *     in `path/batch_id=N`, and nothing else under `path` changes.
  *  1. A replay overwrites it: writing batch N again replaces that
  *     directory whole, so a micro-batch re-run after a failure between
  *     the write and the checkpoint commit never adds a second copy.
  *  1. Readers discover `batch_id` from the path: [[readOrEmpty]] with
  *     the twin's declared DDL (which ends in `batch_id BIGINT`) sees
  *     the directory name as a partition column.
  *  1. A crashed attempt's `_`-prefixed leftovers (`_temporary/`) are
  *     invisible to readers; a stray part file it committed into
  *     `batch_id=N/` is deleted by the replay's write.
  *  1. A writer that reads its own store must prune its own batch
  *     (`filter(col("batch_id") =!= batchId)`, a partition filter):
  *     the overwrite deletes `batch_id=N` while the plan that reads it
  *     runs, so on replay an unpruned read either fails on a missing
  *     file or silently sees the batch's own earlier rows.
  *
  * Stores written by the earlier dynamic-partition-overwrite writer
  * (`batch_id=N/part-*` without a per-batch `_SUCCESS`) read back
  * unchanged and take new batches. Compaction (folding many batch
  * directories into one baseline) is not done here.
  *
  * The existence probe goes through Hadoop's FileSystem API, resolved
  * against the store URI itself, so the twins work identically on
  * local paths, HDFS, and object stores; `java.io.File(path).exists()`
  * is always false for `hdfs://`/`s3a://` URIs and would silently read
  * a populated store as empty.
  */
object StoreIO {

  /** True iff `path` exists on whatever filesystem its URI names. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The parquet store at `path` with schema `ddl`, or an empty frame
    * with that schema if the store has not been written yet. The
    * schema is always imposed (never inferred) so batch 0 and batch N
    * plans are column-compatible.
    */
  def readOrEmpty(spark: SparkSession, path: String, ddl: String): DataFrame =
    if (exists(spark, path)) spark.read.schema(ddl).parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType.fromDDL(ddl))

  /** Write batch `batchId`'s partial `df` (without a `batch_id`
    * column) as the store directory `path/batch_id=<batchId>`,
    * replacing whatever an earlier attempt left there.
    */
  def writeBatch(df: DataFrame, path: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(new Path(path, s"batch_id=$batchId").toString)
}
