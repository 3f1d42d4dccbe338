package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.TextOps

/** Streaming face of the bigram-LM quality scorer (`TextOps.trainBigramLm` /
  * `scoreBigramLm`): each micro-batch of newly-ingested documents is scored
  * for per-token cross-entropy against a STATIC trained model — the
  * CCNet-style perplexity gate applied at ingest time, so curation can route
  * garbage before it ever lands in the corpus store.
  *
  * Why foreachBatch and not a stream-stream join: the model is not a stream
  * — it is a trained artifact (persisted bigram-type table + marginals)
  * that must not be re-aggregated per trigger. Inside foreachBatch the
  * score is a plain batch equi-join of the batch's grams against the
  * persisted model frames: training cost is paid once, every trigger pays
  * only for its own increment — the `IncrementalDedupJob.start` economics
  * with a language model as the index.
  *
  * State: none in the streaming engine (the model IS the state, owned and
  * refreshed by the caller — e.g. retrained nightly by the batch path while
  * this job scores the ingest window).
  *
  * Input schema: (doc_id, text) + any metadata columns — all preserved in
  * the output alongside (n_bigrams, xent_nats).
  */
object LmScoreJob {

  def start(docs: DataFrame,
            lm: TextOps.BigramLm,
            outSink: DataFrame => Unit,
            checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow())
           (implicit spark: SparkSession): StreamingQuery = {
    PerBatch.start(docs, checkpointDir, trigger) { (batch, _) =>
      outSink(TextOps.scoreBigramLm(batch, col("doc_id"), col("text"), lm))
    }
  }
}
