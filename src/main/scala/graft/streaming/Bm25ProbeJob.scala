package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.TextOps

/** Streaming face of BM25 retrieval (`TextOps.bm25IndexBuild` /
  * `bm25Probe`): each micro-batch of text queries is answered against a
  * static lexical index — the RAG-search / decontamination-probe shape
  * where eval questions or user queries arrive continuously while the
  * corpus index changes on a slower cadence.
  *
  * Same architecture rationale as `AnnProbeJob` (its embedding-space
  * sibling): the corpus side is NOT a stream — its (doc, term) tf table is
  * built once, tracked-cached, and must not be re-aggregated per trigger.
  * Inside foreachBatch the probe is a plain batch plan (broadcast query
  * terms → tf equi-join → bounded-heap top-k), so every trigger pays only
  * for its own query batch; the caller owns the index and rebuilds it when
  * the corpus rolls.
  *
  * State: none in the streaming engine — the index IS the state.
  * Input schema: (query_id, q_text). Output: (query_id, rank, doc_id,
  * score) — up to k rows per query per batch.
  */
object Bm25ProbeJob {

  def start(queries: DataFrame,
            index: TextOps.Bm25Index,
            outSink: DataFrame => Unit,
            checkpointDir: String,
            k: Int = 10,
            trigger: Trigger = Trigger.AvailableNow())
           (implicit spark: SparkSession): StreamingQuery = {
    PerBatch.start(queries, checkpointDir, trigger) { (batch, _) =>
      outSink(TextOps.bm25Probe(index, batch, k))
    }
  }
}
