package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col

/** The one spread decision before a CPU-heavy stage. An sf-scale table is
  * one single-row-group parquet file, one input split, so the kernel after
  * its scan would run as one task. The spread is a hash repartition to
  * `defaultParallelism` on a near-unique key: hashed, because a keyless
  * `repartition(n)` first sorts each map task's rows, serially on one split
  * (sortBeforeRepartition, SPARK-23207); an explicit N, because AQE would
  * coalesce the byte-tiny exchange back to one partition; keyed, because
  * `HashPartitioning(key)` also serves later operators clustered on the key.
  *
  * A real-scale scan already reads thousands of files, and there the spread
  * is a full-table shuffle for nothing. So the frame comes back unchanged
  * when every leaf under it is a file relation of at least
  * `defaultParallelism` files. Whole files, not byte splits: Spark cuts a
  * large file into byte ranges, but only the range holding a row group's
  * midpoint returns rows, so one single-row-group file is one reading task
  * however many ranges it plans. The count comes from the analyzed plan's
  * cached file listings, so deciding runs no job and no optimizer or
  * planner pass. Where that plan cannot give the count (a non-file leaf:
  * local rows, a checkpointed frame, a streaming source; a partitioned
  * relation, whose files are known only after static or dynamic partition
  * pruning; a bucketed one, read one task per bucket) the spread is kept.
  */
object Spread {

  def apply(df: DataFrame, key: String): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (fewestFiles(df).exists(_ >= n)) df else df.repartition(n, col(key))
  }

  // the fewest files of any relation under df; None when some leaf's
  // count is unknown before pruning or without running a job
  private def fewestFiles(df: DataFrame): Option[Int] = {
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val counts = leaves.collect { case l: LogicalRelation => l.relation }.collect {
      case r: HadoopFsRelation if r.partitionSchema.isEmpty && r.bucketSpec.isEmpty =>
        r.location.inputFiles.length
    }
    if (leaves.nonEmpty && counts.size == leaves.size) Some(counts.min) else None
  }
}
