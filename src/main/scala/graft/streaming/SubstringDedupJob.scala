package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Dedup

/** Streaming face of the incremental substring-copy probe
  * (`Dedup.substringIndex` / `substringProbe`): each micro-batch of
  * newly-ingested documents gets its copied-span coverage scored against
  * the historical gram index, and the batch is then FOLDED into the index
  * (`substringIndexMerge`) so later batches see earlier arrivals — the
  * q116 metric at ingest time, with the same no-blind-spot rolling shape
  * as `IncrementalDedupJob.startRolling`.
  *
  * foreachBatch, not a stream-stream join, for the same reason as the
  * MinHash face: the corpus side is a large static hash set that must not
  * be rebuilt per trigger; each trigger pays one gram pass over its own
  * increment only. No engine state — the index IS the state, owned here
  * between triggers and by the nightly batch rebuild across runs
  * (`saveGramIndex`/`loadGramIndex`).
  *
  * Input schema: (doc_id, text). Output: the batch rows plus
  * (n_tokens, n_copied, copy_ratio) — the caller applies its threshold
  * (e.g. drop at copy_ratio > 0.8, strip spans offline below that).
  */
object SubstringDedupJob {

  def startRolling(docs: DataFrame,
                   initialIndex: Dedup.GramIndex,
                   outSink: DataFrame => Unit,
                   checkpointDir: String,
                   trigger: Trigger = Trigger.AvailableNow())
                  (implicit spark: SparkSession): StreamingQuery = {
    // foreachBatch runs one trigger at a time, on the stream's own thread
    var index = initialIndex
    PerBatch.start(docs, checkpointDir, trigger) { (batch, _) =>
      // materialize before the merge: a foreachBatch frame is only
      // guaranteed valid inside its own trigger; the index outlives it
      val snap = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      snap.count()
      val stats = Dedup.substringProbe(index, snap)
      outSink(snap.join(stats, "doc_id"))
      index = Dedup.substringIndexMerge(index, snap)
      // merge materialized its novel-gram increment eagerly; drop the
      // batch snapshot or the stream leaks one cache per trigger
      snap.unpersist(blocking = false)
    }
  }
}
