package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.ext.{IndexMaintenance, MaintenanceEvents, WriterLock}

/** The skeleton under the five index-backed streams
  * ([[StreamingNearDup]], [[StreamingImageDedup]], [[StreamingExactDup]],
  * [[StreamingCdcDup]], [[StreamingVecDup]]): a file-source stream of
  * parquet batches whose every micro-batch is folded into one persisted
  * index under `workDir/index`, its matches written to
  * `workDir/matches/batch_id=N` (batch_id comes back as a partition
  * column on read; writing it into the files too would collide with
  * partition discovery). A stream supplies only its input schema, its
  * per-batch fold and its index's compaction.
  *
  * State lives entirely in external storage, not the state store;
  * per-batch cost is ∝ batch, never ∝ history. The flip side of
  * per-batch appends is small-file accumulation; `compactEvery` /
  * `compactMaxFiles` ([[IndexMaintenance.CompactPolicy]]) compact the
  * index ON the foreachBatch thread — the stream is the index's single
  * writer, so the between-batches window is exactly the maintenance
  * window the compaction contract requires (the writer lock is
  * reentrant on that thread). Every lock the stream takes on the index
  * heartbeats/observes at `lease` (the index's failover SLO; see
  * [[WriterLock.setLease]]).
  *
  * Storage: every block a batch pins (the fold's caches, a batch
  * checkpoint) is freed at batch end through the persistent-RDD
  * registry delta — everything the batch produces is written out by
  * then, and a long-lived stream must not pin blocks for its lifetime.
  */
private[streaming] object IndexedStream {

  val TextSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType)))
  val BlobSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("blob", BinaryType)))

  /** Start the stream; `fold(batch, indexPath, batchMatchesPath)` runs
    * per micro-batch, then the compaction policy (`gaugePrefix` keys
    * its Instr gauges) with `compact(indexPath)`.
    */
  def start(spark: SparkSession, inputDir: String, workDir: String,
            schema: StructType, gaugePrefix: String, trigger: Trigger,
            maxFilesPerTrigger: Option[Int], compactEvery: Option[Int],
            compactMaxFiles: Option[Long], lease: WriterLock.Lease)(
      compact: String => IndexMaintenance.CompactStats)(
      fold: (DataFrame, String, String) => Unit): MaintainedStream = {
    val policy = IndexMaintenance.CompactPolicy(
      every = compactEvery, maxDataFiles = compactMaxFiles)
    val indexPath = s"$workDir/index"
    WriterLock.setLease(indexPath, lease)
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    // events baseline BEFORE the query starts: an AvailableNow first
    // batch can fire before start() returns
    val baseline = MaintenanceEvents.countsFor(Seq(indexPath))
    val q = reader.parquet(inputDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", s"$workDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sc = spark.sparkContext
        val before = sc.getPersistentRDDs.keySet
        try {
          fold(batch, indexPath, s"$workDir/matches/batch_id=$batchId")
          IndexMaintenance.maybeCompact(policy, batchId, gaugePrefix,
            indexPath, IndexMaintenance.dataFileCount(spark, indexPath))(
            compact(indexPath))
        } finally {
          sc.getPersistentRDDs.filterNot(kv => before(kv._1)).values
            .foreach(_.unpersist(false))
        }
        ()
      }
      .start()
    new MaintainedStream(q, Seq(indexPath), baseline)
  }
}
