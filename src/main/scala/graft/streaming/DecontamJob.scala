package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Decontam

/** Streaming face of benchmark decontamination (`Decontam.overlapReport`):
  * corpus documents STREAM in (the ingest shape — new crawl shards arrive
  * continuously) and each micro-batch is screened against a static
  * benchmark set, emitting the per-(doc, eval) contamination evidence rows
  * before the doc ever reaches a training shard.
  *
  * Same architecture rationale as `Bm25ProbeJob`/`AnnProbeJob`: the eval
  * side is NOT a stream — benchmarks change on release cadence, so the
  * caller builds the eval frame once and each trigger pays only for its
  * own document batch (a broadcast gram join, no corpus-sized state).
  *
  * State: none in the streaming engine — the benchmark set IS the state.
  * Input schema: (doc_id, text). Output: `overlapReport` rows
  * (doc_id, eval_id, n_hits, eval_grams, overlap_frac) for hits only.
  */
object DecontamJob {

  def start(docs: DataFrame,
            evalDocs: DataFrame,
            outSink: DataFrame => Unit,
            checkpointDir: String,
            w: Int = 5,
            trigger: Trigger = Trigger.AvailableNow())
           (implicit spark: SparkSession): StreamingQuery = {
    PerBatch.start(docs, checkpointDir, trigger) { (batch, _) =>
      outSink(Decontam.overlapReport(batch, evalDocs, w))
    }
  }
}
