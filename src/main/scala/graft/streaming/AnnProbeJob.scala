package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Similarity

/** Streaming face of the batched IVF ANN probe (`Similarity.ivfIndexBuild`
  * / `ivfProbe`): each micro-batch of query vectors is answered against a
  * static corpus index — the retrieval / hard-negative-lookup shape where
  * queries arrive continuously but the corpus changes on a slower cadence.
  *
  * Same architecture rationale as `IncrementalDedupJob`: the corpus side is
  * NOT a stream — it is a large static index whose corpus-sized
  * nearest-centroid assignment must not be re-run per trigger. Inside
  * foreachBatch the probe is a plain batch plan (broadcast queries → cell
  * equi-join → bounded-heap top-k), so every trigger pays only for its own
  * query batch; the index is owned and refreshed by the caller (e.g.
  * rebuilt or re-loaded from `saveIvfIndex` output when the corpus rolls).
  *
  * State: none in the streaming engine — the index IS the state.
  * Input schema: (query_id, q_emb). Output: (query_id, rank, vec_id,
  * score) — k rows per query per batch.
  */
object AnnProbeJob {

  def start(queries: DataFrame,
            index: Similarity.IvfIndex,
            outSink: DataFrame => Unit,
            checkpointDir: String,
            k: Int = 10,
            nProbe: Int = 4,
            trigger: Trigger = Trigger.AvailableNow())
           (implicit spark: SparkSession): StreamingQuery = {
    PerBatch.start(queries, checkpointDir, trigger) { (batch, _) =>
      outSink(Similarity.ivfProbe(index, batch, k, nProbe))
    }
  }
}
