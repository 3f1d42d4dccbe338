package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Dedup

/** Streaming face of the incremental near-dup probe (`Dedup.minhashIndex` /
  * `minhashProbe`): each micro-batch of newly-ingested documents is probed
  * against a static corpus index and routed — near-dups of existing corpus
  * content are flagged with their `dup_of` id, fresh documents pass clean.
  *
  * Why foreachBatch and not a stream-stream join: the corpus side is not a
  * stream — it is a large STATIC index that must not be re-banded per
  * trigger. Inside foreachBatch the probe is a plain batch join against the
  * persisted index frames, so the corpus cost is paid once at index build
  * and every trigger pays only for its own increment — the same amortization
  * the batch probe gives daily ingests, at micro-batch granularity.
  *
  * State: none in the streaming engine (the dedup "state" IS the index,
  * owned and refreshed by the caller — e.g. rebuilt nightly by the batch
  * path while this job guards the ingest window between rebuilds).
  *
  * Input schema: (doc_id, text). Output: every input row plus
  * (dup_of, jaccard) — null for fresh documents.
  */
object IncrementalDedupJob {

  def start(docs: DataFrame,
            index: Dedup.MinHashIndex,
            outSink: DataFrame => Unit,
            checkpointDir: String,
            threshold: Double = 0.5,
            trigger: Trigger = Trigger.AvailableNow())
           (implicit spark: SparkSession): StreamingQuery = {
    PerBatch.start(docs, checkpointDir, trigger) { (batch, _) =>
      val hits = Dedup.minhashProbe(index, batch, threshold)
      outSink(batch.join(hits, batch("doc_id") === hits("new_id"), "left")
        .select(batch("doc_id"), batch("text"), hits("dup_of"), hits("jaccard")))
    }
  }

  /** Rolling variant: after probing, each micro-batch is FOLDED into the
    * index (`Dedup.minhashIndexMerge`), so later batches dedup against
    * earlier arrivals too — the ingest-window guard with no blind spot
    * between nightly rebuilds. Cost model is unchanged: each batch is
    * shingled exactly once (for both its probe and its merge), the corpus is
    * never re-shingled, and the index grows by metadata-only unions.
    *
    * The batch is persisted and materialized BEFORE it enters the index: a
    * foreachBatch frame is only guaranteed valid inside its own trigger, and
    * the merged index outlives it.
    */
  def startRolling(docs: DataFrame,
                   initialIndex: Dedup.MinHashIndex,
                   outSink: DataFrame => Unit,
                   checkpointDir: String,
                   threshold: Double = 0.5,
                   trigger: Trigger = Trigger.AvailableNow())
                  (implicit spark: SparkSession): StreamingQuery = {
    // foreachBatch runs one trigger at a time, on the stream's own thread
    var index = initialIndex
    PerBatch.start(docs, checkpointDir, trigger) { (batch, _) =>
      val snap = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      snap.count()
      val hits = Dedup.minhashProbe(index, snap, threshold)
      outSink(snap.join(hits, snap("doc_id") === hits("new_id"), "left")
        .select(snap("doc_id"), snap("text"), hits("dup_of"), hits("jaccard")))
      index = Dedup.minhashIndexMerge(index, snap)
      // the merge materialized its increment eagerly, so the raw batch
      // snapshot is garbage now — without this a long-running stream
      // pins one batch-sized cache per trigger, forever
      snap.unpersist(blocking = false)
    }
  }
}
