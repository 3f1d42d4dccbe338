package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Cluster

/** Streaming face of k-means assignment (`Cluster.assign`): each
  * micro-batch of embeddings is routed to its nearest trained centroid —
  * the "which semantic bucket does today's data land in" stage of a
  * continuously-ingesting curation pipeline (coverage monitoring, per-
  * cluster quota enforcement, SemDeDup candidate routing).
  *
  * Same architecture rationale as `AnnProbeJob`: centroids are NOT a
  * stream — they are the trained model (`Cluster.kmeansCentroids`), k·dim
  * longs compiled into the batch plan as literals, so every trigger is a
  * NARROW pass over its own rows (no join, no shuffle, no state in the
  * streaming engine). Retraining cadence is the caller's: swap the job
  * when centroids roll.
  *
  * Input schema: (id-ish column, vector column). Output per batch:
  * (id, cluster, dist2) — exact lattice distances, same bits as batch.
  */
object ClusterAssignJob {

  def start(embStream: DataFrame,
            idCol: String, vecCol: String,
            centroids: Array[Array[Long]],
            outSink: DataFrame => Unit,
            checkpointDir: String,
            scale: Int = 1000,
            trigger: Trigger = Trigger.AvailableNow())
           (implicit spark: SparkSession): StreamingQuery = {
    PerBatch.start(embStream, checkpointDir, trigger) { (batch, _) =>
      outSink(Cluster.assign(batch, idCol, vecCol, centroids, scale))
    }
  }
}
