package graft.pipeline

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.PipelineConfig
import graft.functions.gfn
import graft.io.ForkFreeLocalFileSystem

/** The reference's entire data path (SURVEY.md §3.1), re-expressed as narrow
  * Spark transformations — one shuffle-free stage from source to the write
  * fan-out, mirroring the reference's single-pass generator chain
  * (/root/reference/lambda/main.py:46-73).
  *
  * Stages:
  *   decode (O2 base64/binary → O3 KPL deagg → O4 gunzip → O5 CWL unwrap)
  *   parse  (O6 JSON parse → O7 validate → O8 whitelist → O9 lenient ts
  *           → O10 partition key → O12 route)
  *   write  (O11 group-by-prefix via partitionBy → O13 gzip JSON lines
  *           → O14 partitioned sink)
  */
object LogPipeline {

  /** CloudWatch Logs subscription envelope (O5), from_json target.
    * /root/reference/README.md:10; fixture F4.
    */
  private val cwlSchema = new StructType()
    .add("messageType", StringType)
    .add("logEvents", ArrayType(new StructType().add("message", StringType)))

  /** O2–O5: one binary Kinesis-record payload → 0..N UTF-8 payload strings.
    * Input: a column `dataCol` of BinaryType (the connector hands records
    * base64-decoded already; use `unbase64` upstream when fed base64 text).
    * Output: column `payload` (StringType), other columns preserved.
    */
  def decode(df: DataFrame, dataCol: String = "data"): DataFrame = {
    val passthrough = df.columns.filterNot(_ == dataCol).toIndexedSeq.map(col)
    // O3: KPL aggregate → user records (generator; plain records pass through)
    val deagg = df.select(passthrough :+ gfn.kpl_deaggregate(col(dataCol)).as("payload_bin"): _*)
    // O4: per-value gzip sniff+inflate (corrupt → null → a null payload,
    // dropped after the explode: a filter here would be pushed under the
    // projection and inflate every record twice)
    val inflated = deagg
      .select(passthrough :+ gfn.try_gunzip(col("payload_bin")).cast(StringType).as("payload_str"): _*)
    // the envelope is parsed once, as its own column: inlined into the
    // explode's branches, the optimizer prunes it into one from_json per
    // field read and the Generate loses whole-stage codegen
    val enveloped = inflated.select(passthrough ++ Seq(col("payload_str"),
      from_json(col("payload_str"), cwlSchema).as("_cwl")): _*)
    // O5: CWL envelope unwrap — DATA_MESSAGE explodes logEvents[*].message,
    // CONTROL_MESSAGE yields nothing, anything else passes through as-is.
    val cwl = col("_cwl")
    val fanned = when(
        cwl.isNotNull && cwl.getField("messageType") === "DATA_MESSAGE" &&
          cwl.getField("logEvents").isNotNull,
        cwl.getField("logEvents").getField("message"))
      .when(cwl.isNotNull && cwl.getField("messageType") === "CONTROL_MESSAGE",
        array().cast(ArrayType(StringType)))
      .otherwise(array(col("payload_str")))
    enveloped
      .select(passthrough :+ explode(fanned).as("payload"): _*)
      .filter(col("payload").isNotNull)
  }

  /** O6–O12: payload strings → enveloped, validated, routed rows.
    *
    * Output columns (input columns preserved):
    *   raw       original payload string, byte-exact (written as-is — O13)
    *   log_type  extracted type field (null when missing)
    *   log_id    extracted id field
    *   ts        lenient-parsed event timestamp (null when absent/bad)
    *   valid     all required fields present (O7)
    *   kept      false ⇒ silently dropped (non-JSON O6 / whitelist miss O8)
    *   route     partition dir: log_type, or unknownPrefix for failed (O12)
    *   month,day partition path parts rendered in cfg.timezone (O10)
    *
    * Semantics per /root/reference/README.md:9-15 and fixtures F2/F3:
    * non-JSON → dropped; valid-JSON-non-object or missing required field →
    * failed (unknown route); whitelist miss (non-empty whitelist) → dropped.
    * Implements the documented O12 intent (valid records ARE saved), not the
    * reference's failed_dict-saved-twice bug (lambda/main.py:67-73).
    */
  def parse(df: DataFrame, cfg: PipelineConfig, payloadCol: String = "payload"): DataFrame = {
    val raw = col(payloadCol)
    // Built in a few projections: every Dataset call re-runs the analyzer
    // over the whole plan, and a stream rebuilds this frame per micro-batch.
    // O6: single JSON parse into a variant; null ⇒ malformed ⇒ drop.
    // Field extraction via variant paths (non-object ⇒ all nulls ⇒ failed).
    val getS = (field: String) => try_variant_get(col("_v"), s"$$.$field", "string")
    val withFields = df
      // a one-row explode: filters on `_v` (write's `kept`, dedupe's id test)
      // stay above the Generate instead of being pushed down to re-parse `raw`
      .withColumns(ListMap("_v" -> explode(array(try_parse_json(raw))), "raw" -> raw))
      .withColumns(ListMap(
        "log_type" -> getS(cfg.logTypeField),
        "log_id" -> getS(cfg.logIdField),
        // O9: dateutil-grade parse; zone-less formats read in cfg.timezone.
        "ts" -> gfn.lenient_ts(getS(cfg.timestampField), cfg.timezone)))

    // O7: required-field validation.
    val tsOk = if (cfg.timestampRequired) col("ts").isNotNull else lit(true)
    val valid = col("log_type").isNotNull && col("log_id").isNotNull && tsOk

    // O8: whitelist — empty ⇒ all (documented semantics; see PipelineConfig).
    val wlOk: Column =
      if (cfg.whitelist.isEmpty) lit(true)
      else coalesce(col("log_type").isin(cfg.whitelist: _*), lit(true)) // null type passes

    // O10: partition path parts in the configured timezone. Failed records
    // without a parseable ts partition under the deterministic fallback date.
    val tsForPath = coalesce(col("ts"), lit(cfg.fallbackDate).cast(TimestampType))
    val local = from_utc_timestamp(tsForPath, cfg.timezone)

    withFields
      .withColumns(ListMap(
        "valid" -> valid,
        "kept" -> (col("_v").isNotNull && wlOk),
        // O12: two-way route as a single column (valid → type, failed → unknown)
        "route" -> when(valid, col("log_type")).otherwise(lit(cfg.unknownPrefix)),
        "month" -> date_format(local, "yyyy-MM"),
        "day" -> date_format(local, "dd")))
      .drop("_v")
  }

  /** O11+O13+O14: one partitioned gzip write for both routes (valid records
    * land under their own type dir, failed under `unknownPrefix` — the
    * reference's two save calls collapse into one dynamic-partition insert).
    *
    * The ORIGINAL payload string is written via the text sink (byte-exact
    * passthrough — SURVEY.md §7.3.2), gzip-coded. Layout is Hive-style
    * (`log_type=app/month=2026-08/day=12/part-*.txt.gz`) vs the reference's
    * bare `app/2026-08/12/…gz` — documented divergence; content contract is
    * identical. The REBALANCE hint (AQE) clusters rows by partition column
    * for few-files-per-prefix like the reference's one-object-per-prefix
    * granularity, but — unlike a plain `repartition(cols)` — splits skewed
    * partitions, so one hot log_type/day can't funnel terabytes through a
    * single task at 100 TB. maxRecordsPerFile bounds file size either way.
    */
  def write(parsed: DataFrame, cfg: PipelineConfig, outRoot: String): Unit =
    writeRouted(
      parsed.filter(col("kept"))
        .select(col("raw").as("value"), col("route").as("log_type"), col("month"), col("day")),
      s"$outRoot/${cfg.pathPrefix}", SaveMode.Append)

  /** The partitioned gzip text write of [[write]] and ops/Compact: `rows`
    * holds `value` plus the log_type/month/day partition columns.
    *
    * On `file:` paths the write goes through [[ForkFreeLocalFileSystem]],
    * set as Hadoop keys in the writer options: Spark copies them into the
    * write job's conf, for the job commit and for the tasks (create,
    * mkdirs), and nowhere else. Other schemes (s3a, hdfs) never read them.
    */
  def writeRouted(rows: DataFrame, path: String, mode: SaveMode,
                  maxRecordsPerFile: Long = 5000000L): Unit =
    rows
      .hint("rebalance", col("log_type"), col("month"), col("day"))
      .write
      .partitionBy("log_type", "month", "day")
      .option("compression", "gzip")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .option("fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .option("fs.file.impl.disable.cache", "true")
      .mode(mode)
      .text(path)

  /** Extension beyond reference parity (SURVEY.md §2.1 O15 note): the
    * reference's at-least-once retries can duplicate records; since records
    * carry `log_id` ("any unique identifier", /root/reference/README.md:14),
    * dedup is a keyed drop. Batch form: keep the lexicographically-least full
    * row per (route, log_id) — `min(struct(*))` is deterministic under any
    * partitioning/ordering (unlike `dropDuplicates`, which keeps an arbitrary
    * copy) and still gets map-side partial aggregation, so the shuffle carries
    * one row per key per partition, not every duplicate. Records without an id
    * pass through untouched: they group on the whole row and come back once
    * per copy, so the input is read (and parsed) once, by one aggregate.
    * Requires all columns orderable (no map columns) — true for every frame
    * `parse` produces.
    * Streaming form: `dropDuplicatesWithinWatermark` on the parsed frame —
    * state is bounded by the watermark, so it holds at unbounded scale.
    */
  def dedupeById(parsed: DataFrame): DataFrame = {
    val row = struct(parsed.columns.toIndexedSeq.map(col): _*)
    val noId = col("log_id").isNull
    parsed
      .groupBy(col("route"), col("log_id"), when(noId, row).as("_same"))
      .agg(min(row).as("_row"), count(lit(1)).as("_n"))
      .select(col("_row"), explode(sequence(lit(1L), when(noId, col("_n")).otherwise(1L))))
      .select(col("_row.*"))
  }

  def dedupeByIdStreaming(parsed: DataFrame, watermarkDelay: String = "1 hour"): DataFrame = {
    // mirror the batch semantics: key on (route, log_id); id-less records
    // pass through untouched (null keys must NOT collapse into one record)
    val withWm = parsed
      .withColumn("ts_w", coalesce(col("ts"), current_timestamp()))
      .withWatermark("ts_w", watermarkDelay)
    withWm.filter(col("log_id").isNotNull)
      .dropDuplicatesWithinWatermark("route", "log_id")
      .unionByName(withWm.filter(col("log_id").isNull))
      .drop("ts_w")
  }

  /** Full batch path: binary records in → partitioned gzip objects out. */
  def run(records: DataFrame, cfg: PipelineConfig, outRoot: String,
          dataCol: String = "data", dedupe: Boolean = false): Unit = {
    val parsed = parse(decode(records, dataCol), cfg)
    // dedupe only what the write keeps: dropped rows stay out of the shuffle,
    // and a dropped least copy of an id cannot hide its kept copies
    write(if (dedupe) dedupeById(parsed.filter(col("kept"))) else parsed, cfg, outRoot)
  }
}
