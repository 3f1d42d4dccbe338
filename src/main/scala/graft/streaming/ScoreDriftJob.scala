package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Eval

/** Streaming face of the distribution-drift pair
  * ([[graft.ops.Eval.psi]] + [[graft.ops.Eval.wasserstein1]]): scored
  * rows arrive as a stream — a live quality-scorer's output, an ingest
  * feed being compared against the corpus it is supposed to resemble —
  * and every micro-batch emits (psi, w1) of EVERYTHING seen so far
  * against a fixed reference histogram. PSI says "bucket probabilities
  * moved", W1 says "and this far" — the pair live, at ingest time.
  *
  * Why this composes exactly: state is the ≤(edges+1)-row exact bucket
  * count table and integer sums merge across any split of the stream
  * ([[graft.ops.Eval.mergeBucketCounts]]), so the per-trigger fold is
  * bit-identical to a one-shot [[graft.ops.Eval.driftFromCounts]] over
  * the concatenated stream (StreamingSpec pins stream == batch). Each
  * trigger pays one narrow bucket dag + partial-agg over its own
  * increment; the stream is never rescanned and state never grows past
  * edges+1 rows regardless of volume.
  *
  * Restart: the [[PerBatch.fold]] contract, through `countsSink`,
  * `initialCounts` and `initialBatchId`.
  *
  * Input schema: a double-castable column named by `scoreCol`.
  * `refCounts` is the reference histogram in the [[graft.ops.Eval
  * .bucketCounts]] schema (bucket, cnt) — typically one bucketCounts
  * pass over the reference corpus, persisted.
  */
object ScoreDriftJob {

  def start(scores: DataFrame,
            refCounts: DataFrame,
            edges: Seq[Double],
            outSink: DataFrame => Unit,
            checkpointDir: String,
            scoreCol: String = "score",
            initialCounts: Option[DataFrame] = None,
            initialBatchId: Long = Long.MinValue,
            countsSink: Option[(Long, DataFrame) => Unit] = None,
            trigger: Trigger = Trigger.AvailableNow())
           (implicit spark: SparkSession): StreamingQuery =
    PerBatch.fold(scores, checkpointDir, trigger, initialCounts, initialBatchId,
        spark.range(0).selectExpr("cast(0 as long) as bucket", "cast(0 as long) as cnt"))(
      batch => Eval.bucketCounts(batch, col(scoreCol), edges),
      Eval.mergeBucketCounts,
      (id, counts) => {
        countsSink.foreach(_(id, counts))
        outSink(Eval.driftFromCounts(counts, refCounts, edges))
      })
}
