package graftbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.{Base64, SplittableRandom}
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

/** One row of `events.parquet`, the seed material for generated log lines. */
final case class EventRow(eventId: Long, userId: Long, eventType: String,
                          value: Double, props: String)

/** One Kinesis record as the stream hands it over: the raw `data` bytes and
  * the scheduled creation time (epoch millis) carried as its
  * `approximateArrivalTimestamp`.
  */
final case class KRecord(data: Array[Byte], createdMs: Double)

/** Per-prefix expectation: how many lines land under the prefix, and an
  * order-free digest of their bytes (sum of 64-bit hashes, mod 2^64).
  */
final case class PrefixSum(count: Long, digest: Long) {
  def +(o: PrefixSum): PrefixSum = PrefixSum(count + o.count, digest + o.digest)
}

/** What the pipeline must do with a generated input: the exact count of
  * every stage outcome and drop reason, plus the byte-exact output per
  * `log_type/month/day` prefix.
  */
final case class Composition(
    recordsIn: Long,          // Kinesis records out of the source
    payloadsOut: Long,        // payload strings out of decode
    kept: Long,               // lines written
    unknownRouted: Long,      // of which under the unknown route
    dropped: Long,            // parsed but not kept (non-JSON + whitelist miss)
    reasons: Map[String, Long],
    prefixes: Map[String, PrefixSum])

/** Seeded generator of Kinesis-shaped input for the pipeline workloads.
  *
  * Kinesis-record kinds come in exact quotas (shuffled by the seed), so
  * every seed gives the same composition and only the content moves:
  * plain JSON, KPL aggregates of [[KplPerAggregate]] payloads, gzip,
  * CloudWatch Logs DATA_MESSAGE (gzip, [[CwlPerMessage]] log events) and
  * CONTROL_MESSAGE, corrupt gzip and non-JSON. Log payloads inside those
  * containers are valid, missing a required field (routed to `unknown`) or
  * a whitelist miss, also by exact quota; timestamps rotate through ISO `Z`,
  * ISO offset, SQL-space and RFC 1123 shapes. Log types are skewed: one hot
  * type carries half the valid lines. Event times replay 30 days in arrival
  * order, so a whole input covers every day while a short slice of a stream
  * covers a few.
  *
  * Every share below is an assumption, not a measurement: no recorded
  * traffic sample exists to derive them from. They are chosen so that
  * every decode, parse and route branch runs in every micro-batch; the
  * README gives the reason for each.
  */
object Gen {
  val Whitelist: Seq[String] = Seq("app", "nginx", "api", "auth", "billing")
  val UnknownRoute = "unknown"
  val FallbackPrefix = s"$UnknownRoute/1970-01/01"
  val KplPerAggregate = 4
  val CwlPerMessage = 5
  val RecordsPerEvent = 100

  /** Kinesis-record kinds and their assumed shares (per mille). */
  val Kinds: Seq[(String, Int)] = Seq(
    "plain" -> 450, "kpl" -> 200, "gzip" -> 150, "cwl_data" -> 100,
    "cwl_control" -> 20, "corrupt_gzip" -> 30, "non_json" -> 50)

  /** Log-payload variants and their assumed shares (per mille). */
  val Variants: Seq[(String, Int)] = Seq(
    "valid" -> 900, "missing_log_id" -> 15, "missing_time" -> 15,
    "bad_time" -> 10, "missing_log_type" -> 10, "whitelist_miss" -> 50)

  /** Valid-line log types and their assumed shares (per mille). */
  val LogTypes: Seq[(String, Int)] = Seq(
    "app" -> 500, "nginx" -> 200, "api" -> 150, "auth" -> 100, "billing" -> 50)

  private val StartSec = Instant.parse("2026-08-01T00:00:00Z").getEpochSecond
  private val SpanSec = 30L * 86400L
  private val JitterSec = 600L
  private val Jst = ZoneOffset.ofHours(9)
  private val IsoZ = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(ZoneOffset.UTC)
  private val IsoOff = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx").withZone(Jst)
  private val Sql = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  private val Rfc = DateTimeFormatter.RFC_1123_DATE_TIME.withZone(Jst)
  private val Prefix = DateTimeFormatter.ofPattern("yyyy-MM/dd").withZone(ZoneOffset.UTC)

  /** 64-bit FNV-1a: the per-line hash of the order-free digest. */
  def hash64(b: Array[Byte], from: Int = 0, until: Int = -1): Long = {
    val end = if (until < 0) b.length else until
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < end) { h ^= (b(i) & 0xff); h *= 0x100000001b3L; i += 1 }
    h
  }

  def jsonString(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 2)
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def gzip(b: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(b.length / 2 + 64)
    val gz = new GZIPOutputStream(out)
    gz.write(b); gz.close()
    out.toByteArray
  }

  // ---- KPL aggregate encoder: magic + protobuf subset + MD5 ----

  private val KplMagic = Array(0xf3, 0x89, 0x9a, 0xc2).map(_.toByte)

  private def varint(o: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { o.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    o.write(v.toInt)
  }

  private def lenDelim(o: ByteArrayOutputStream, field: Int, data: Array[Byte]): Unit = {
    varint(o, (field << 3 | 2).toLong); varint(o, data.length.toLong); o.write(data)
  }

  /** `AggregatedRecord{partition_key_table=[pk], records=[Record{0, data}]}`
    * framed as `F3 89 9A C2 | protobuf | md5(protobuf)`.
    */
  def kplAggregate(payloads: Seq[Array[Byte]], partitionKey: String): Array[Byte] = {
    val body = new ByteArrayOutputStream()
    lenDelim(body, 1, partitionKey.getBytes(UTF_8))
    payloads.foreach { p =>
      val rec = new ByteArrayOutputStream()
      varint(rec, 1 << 3 | 0); varint(rec, 0L) // partition_key_index = 0
      lenDelim(rec, 3, p)
      lenDelim(body, 3, rec.toByteArray)
    }
    val b = body.toByteArray
    val out = new ByteArrayOutputStream(b.length + 20)
    out.write(KplMagic); out.write(b); out.write(MessageDigest.getInstance("MD5").digest(b))
    out.toByteArray
  }

  /** `n` items drawn by exact per-mille quota, in seeded order. */
  private def quota(shares: Seq[(String, Int)], n: Int, rng: SplittableRandom): Array[String] = {
    val total = shares.map(_._2).sum
    val counts = shares.map { case (k, s) => k -> (n.toLong * s / total).toInt }
    val short = n - counts.map(_._2).sum
    val out = counts.flatMap { case (k, c) => Iterator.fill(c)(k) }.toArray ++
      Array.fill(short)(shares.head._1)
    var i = out.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1); val t = out(i); out(i) = out(j); out(j) = t; i -= 1
    }
    out
  }

  /** Number of log payloads the record kinds of `n` records carry. */
  private def logPayloads(kinds: Array[String]): Int = kinds.iterator.map {
    case "plain" | "gzip" => 1
    case "kpl" => KplPerAggregate
    case "cwl_data" => CwlPerMessage
    case _ => 0
  }.sum

  /** Generate `n` Kinesis records from `rows` under `seed`; record `i` is
    * scheduled at `createdMs(i)`. Returns the records and their expected
    * pipeline composition.
    */
  def generate(rows: IndexedSeq[EventRow], n: Int, seed: Long,
               createdMs: Int => Double): (Array[KRecord], Composition) = {
    val rng = new SplittableRandom(seed)
    val kinds = quota(Kinds, n, rng)
    val nLogs = logPayloads(kinds)
    val variants = quota(Variants, nLogs, rng)
    val nValid = variants.count(_ == "valid")
    val types = quota(LogTypes, nValid, rng)
    var vi = 0; var ti = 0; var seq = 0L

    val prefixes = mutable.HashMap.empty[String, PrefixSum]
    val reasons = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    var payloadsOut = 0L; var kept = 0L; var unknown = 0L; var dropped = 0L

    def expectLine(prefix: String, line: Array[Byte]): Unit = {
      val p = prefixes.getOrElse(prefix, PrefixSum(0, 0))
      prefixes(prefix) = PrefixSum(p.count + 1, p.digest + hash64(line))
      kept += 1
    }

    // one log payload (JSON text), recording where the pipeline must put it
    def logLine(): String = {
      val variant = variants(vi); vi += 1
      val row = rows(rng.nextInt(rows.length))
      // 30 days replayed in arrival order, a few minutes of jitter
      val offset = (seq * SpanSec / nLogs + rng.nextLong(JitterSec)).min(SpanSec - 1)
      val inst = Instant.ofEpochSecond(StartSec + offset, rng.nextInt(1000000) * 1000L)
      val shape = (seq % 4).toInt
      val time = shape match {
        case 0 => IsoZ.format(inst)
        case 1 => IsoOff.format(inst)
        case 2 => Sql.format(inst)
        case _ => Rfc.format(inst)
      }
      // zone-less SQL and RFC shapes carry whole seconds only; the
      // partition date is the same either way
      val prefixDate = Prefix.format(inst)
      val id = s"$seed-$seq"
      seq += 1
      val logType = if (variant == "valid") { val t = types(ti); ti += 1; t }
        else if (variant == "whitelist_miss") "debug" else "app"
      val fields = mutable.ArrayBuffer.empty[String]
      if (variant != "missing_log_type") fields += s""""log_type":${jsonString(logType)}"""
      if (variant != "missing_log_id") fields += s""""log_id":${jsonString(id)}"""
      variant match {
        case "missing_time" =>
        case "bad_time" => fields += """"time":"not-a-time""""
        case _ => fields += s""""time":${jsonString(time)}"""
      }
      fields += s""""user_id":${row.userId}"""
      fields += s""""event_type":${jsonString(row.eventType)}"""
      fields += s""""value":${row.value}"""
      fields += s""""props":${jsonString(row.props)}"""
      fields += s""""event_id":${row.eventId}"""
      val line = fields.mkString("{", ",", "}")
      val bytes = line.getBytes(UTF_8)
      payloadsOut += 1
      reasons(variant) += 1
      variant match {
        case "valid" => expectLine(s"$logType/$prefixDate", bytes)
        case "whitelist_miss" => dropped += 1
        case "missing_time" | "bad_time" => unknown += 1; expectLine(FallbackPrefix, bytes)
        case _ => unknown += 1; expectLine(s"$UnknownRoute/$prefixDate", bytes)
      }
      line
    }

    val records = Array.tabulate(n) { i =>
      val pk = s"pk-${rng.nextInt(64)}"
      val data: Array[Byte] = kinds(i) match {
        case "plain" => logLine().getBytes(UTF_8)
        case "gzip" => gzip(logLine().getBytes(UTF_8))
        case "kpl" =>
          kplAggregate(Seq.fill(KplPerAggregate)(logLine().getBytes(UTF_8)), pk)
        case "cwl_data" =>
          val events = (0 until CwlPerMessage).map { k =>
            s"""{"id":"${rng.nextLong() & Long.MaxValue}","timestamp":${createdMs(i).toLong + k},""" +
              s""""message":${jsonString(logLine())}}"""
          }
          gzip(("""{"messageType":"DATA_MESSAGE","owner":"123456789012",""" +
            s""""logGroup":"/graftbench/$pk","logStream":"s-$i",""" +
            """"subscriptionFilters":["all"],"logEvents":""" +
            events.mkString("[", ",", "]") + "}").getBytes(UTF_8))
        case "cwl_control" =>
          reasons("cwl_control") += 1
          gzip("""{"messageType":"CONTROL_MESSAGE","owner":"CloudwatchLogs","logEvents":[]}"""
            .getBytes(UTF_8))
        case "corrupt_gzip" =>
          reasons("corrupt_gzip") += 1
          val junk = new Array[Byte](48 + rng.nextInt(64))
          var k = 0
          while (k < junk.length) { junk(k) = rng.nextInt(256).toByte; k += 1 }
          Array[Byte](0x1f, 0x8b.toByte, 8, 0) ++ junk
        case "non_json" =>
          reasons("non_json") += 1
          payloadsOut += 1; dropped += 1
          s"not json at all {{{ ${rng.nextLong()}".getBytes(UTF_8)
      }
      KRecord(data, createdMs(i))
    }
    (records, Composition(n.toLong, payloadsOut, kept, unknown, dropped,
      reasons.toMap, prefixes.toMap))
  }

  /** Lambda event JSON lines (F1 envelope, base64 `data`), up to
    * [[RecordsPerEvent]] records each, starting at sequence number `seq0`.
    */
  def lambdaEvents(records: Seq[KRecord], seq0: Long): Iterator[String] = {
    val b64 = Base64.getEncoder
    records.iterator.zipWithIndex.grouped(RecordsPerEvent).map { grp =>
      grp.map { case (r, i) =>
        val sq = f"${seq0 + i}%056d"
        s"""{"kinesis":{"kinesisSchemaVersion":"1.0","partitionKey":"pk-${i % 64}",""" +
          s""""sequenceNumber":"$sq","data":"${b64.encodeToString(r.data)}",""" +
          s""""approximateArrivalTimestamp":${r.createdMs / 1000.0}},""" +
          s""""eventSource":"aws:kinesis","eventID":"shardId-000000000000:$sq",""" +
          """"eventName":"aws:kinesis:record","awsRegion":"ap-northeast-1",""" +
          """"eventSourceARN":"arn:aws:kinesis:ap-northeast-1:123456789012:stream/graftbench"}"""
      }.mkString("""{"Records":[""", ",", "]}")
    }
  }
}
