package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import graft.ext.Winnow

/** Incremental EXACT-substring dedup against a persisted winnowing
  * index — the streaming production shape of the [[Winnow]] family,
  * completing the per-family streaming forms ([[StreamingDedup]] =
  * exact chunks, [[StreamingNearDup]] = MinHash, [[StreamingImageDedup]]
  * = image signatures): a crawl feed arrives in micro-batches, each
  * batch probes the accumulated [[Winnow.buildWinnowIndex]]-layout
  * index (partition-pruned to the batch's fingerprint buckets), emits
  * its within-batch pairs through the join form, then appends its own
  * fingerprints so later batches dedup against it — all in the fused
  * [[Winnow.foldWinnowBatch]] kernel, from ONE fingerprinting of the
  * batch. The stream skeleton is [[IndexedStream]].
  *
  * Unlike the MinHash stream, NO corpus payload store is needed: the
  * winnow index carries the k-gram characters, so probe verification
  * is collision-proof against the index alone — state is ONE
  * fingerprint table, cost per batch = probe (∝ batch buckets) +
  * append (∝ batch), never ∝ history.
  *
  * Delivery semantics: match emission is at-least-once
  * (batch_id-tagged, overwritten per replay); index appends are
  * replay-TOLERANT for the pairing DECISION — duplicated fingerprint
  * rows can inflate `n_matches` for pairs involving a replayed batch,
  * but cannot create a pair that shares no verified gram, and any
  * true pair stays ≥ minMatches. Consumers keyed on
  * (batch_id, id_a, id_b) read matches exactly-once.
  */
object StreamingExactDup {

  /** Layout under `workDir`:
    *   index/   — fb-partitioned winnow fingerprint index (with grams)
    *   matches/ — pair rows (id_a, id_b, n_matches), batch_id-partitioned
    * First batch builds the index with the caller's parameters;
    * afterwards the sidecar's pinned regime wins.
    */
  def start(spark: SparkSession, inputDir: String, workDir: String,
            k: Int = 8, w: Int = 16, fpBuckets: Int = 64,
            maxDocsPerFp: Int = 256, minMatches: Int = 1,
            trigger: Trigger = Trigger.AvailableNow(),
            maxFilesPerTrigger: Option[Int] = None,
            compactEvery: Option[Int] = None,
            compactMaxFiles: Option[Long] = None,
            lease: graft.ext.WriterLock.Lease =
              graft.ext.WriterLock.Lease()): MaintainedStream =
    IndexedStream.start(spark, inputDir, workDir, IndexedStream.TextSchema,
        "streamExactDup", trigger, maxFilesPerTrigger, compactEvery,
        compactMaxFiles, lease)(Winnow.compactWinnowIndex(spark, _)) {
      (batch, index, matches) =>
        Winnow.foldWinnowBatch(batch, "id", "text", index, matches,
          k, w, fpBuckets, maxDocsPerFp, minMatches)
    }
}
