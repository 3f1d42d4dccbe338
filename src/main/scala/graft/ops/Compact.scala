package graft.ops

import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.pipeline.LogPipeline

/** Small-files compaction for the routed log output — the operational
  * companion to a micro-batch sink: every batch writes ≥1 object per
  * touched prefix, so a day of 1-minute batches leaves ~1440 small gzip
  * objects per prefix. Compaction rewrites a partition subtree into few
  * large objects, preserving content byte-exactly (text in, text out).
  *
  * Scale: the read lists and scans only the selected subtree (partition
  * pruning on the Hive-style dirs); REBALANCE clusters by partition dir
  * with AQE skew-splitting, so one hot prefix compacts across tasks while
  * small prefixes coalesce. Write to a fresh root + atomic swap is the
  * caller's deployment concern (object stores lack rename); the rewrite
  * itself is idempotent.
  */
object Compact {

  /** Rewrite `srcRoot` (a LogPipeline output root: .../prefix with
    * log_type=/month=/day= dirs) into `dstRoot` with consolidated files.
    */
  def run(spark: SparkSession, srcRoot: String, dstRoot: String,
          maxRecordsPerFile: Long = 5000000L): Unit =
    LogPipeline.writeRouted(spark.read.option("basePath", srcRoot).text(srcRoot),
      dstRoot, SaveMode.Overwrite, maxRecordsPerFile)
}
