package graft.functions

import java.time._
import java.time.format.{DateTimeFormatter, DateTimeFormatterBuilder}
import java.time.temporal.ChronoField

/** dateutil-grade lenient timestamp parsing (reference: the `time` field is
  * "any timestamp supported by dateutil.parser.parse", ISO8601 with
  * milli/micro recommended — /root/reference/README.md:15). Scope is bounded
  * to the documented conformance core plus the formats the README and
  * fixtures call out:
  *
  *   - ISO8601 with offset or Z, optional fraction to nanoseconds
  *   - ISO8601 local ("2026-08-12T09:15:30[.SSSSSS]") — assumed in `zone`
  *   - "yyyy-MM-dd HH:mm:ss[.SSSSSS]" — assumed in `zone`
  *   - RFC 2822 / RFC 1123 ("Wed, 12 Aug 2026 09:15:30 +0900")
  *   - bare date "yyyy-MM-dd" — midnight in `zone`
  *   - epoch seconds (10 digits) / epoch millis (13 digits)
  *
  * Returns epoch MICROseconds (Spark's TimestampType physical type) or null
  * when unparseable. Static so generated code can call it directly.
  */
object LenientTs {

  private def fractional(pattern: String): DateTimeFormatter =
    new DateTimeFormatterBuilder()
      .appendPattern(pattern)
      .appendFraction(ChronoField.NANO_OF_SECOND, 0, 9, true)
      .toFormatter(java.util.Locale.US)

  private val isoLocal = fractional("yyyy-MM-dd'T'HH:mm:ss")
  private val sqlLocal = fractional("yyyy-MM-dd HH:mm:ss")
  private val dateOnly = DateTimeFormatter.ofPattern("yyyy-MM-dd", java.util.Locale.US)

  // ISO8601 with offset, fraction optional (handles Z, +09:00, +0900).
  private val isoOffset = new DateTimeFormatterBuilder()
    .appendPattern("yyyy-MM-dd'T'HH:mm:ss")
    .appendFraction(ChronoField.NANO_OF_SECOND, 0, 9, true)
    .appendPattern("[XXX][XX][X]")
    .toFormatter(java.util.Locale.US)

  // "yyyy-MM-dd HH:mm:ss+09:00" (space separator with offset).
  private val sqlOffset = new DateTimeFormatterBuilder()
    .appendPattern("yyyy-MM-dd HH:mm:ss")
    .appendFraction(ChronoField.NANO_OF_SECOND, 0, 9, true)
    .appendPattern("[XXX][XX][X]")
    .toFormatter(java.util.Locale.US)

  private def micros(i: Instant): java.lang.Long =
    java.lang.Long.valueOf(Math.addExact(
      Math.multiplyExact(i.getEpochSecond, 1000000L), (i.getNano / 1000).toLong))

  // ZoneId.of per row is a measurable fraction of the parse cost at 100k
  // rows/task; the zone string is a per-query constant, so memoize it.
  private val zoneCache = new java.util.concurrent.ConcurrentHashMap[String, ZoneId]()
  private def zoneOf(zoneId: String): ZoneId =
    zoneCache.computeIfAbsent(zoneId, z =>
      try ZoneId.of(z) catch { case _: Exception => ZoneOffset.UTC })

  // True iff an offset indicator (+hh[:mm], -hh[:mm], Z) appears after the
  // seconds field — distinguishes "…09:15:30+09:00" from "…09:15:30[.SSS]"
  // so the first formatter tried is the one that will succeed (a wrong-first
  // try costs a filled-in DateTimeParseException per row).
  private def hasOffsetAfterSeconds(t: String): Boolean = {
    var j = 19 // index right after "yyyy-MM-ddTHH:mm:ss"
    while (j < t.length) {
      val c = t.charAt(j)
      if (c == '+' || c == '-' || c == 'Z' || c == 'z') return true
      j += 1
    }
    false
  }

  def parseMicros(s: org.apache.spark.unsafe.types.UTF8String, zoneId: String): java.lang.Long =
    parseMicros(s.toString, zoneId)

  def parseMicros(s: String, zoneId: String): java.lang.Long = {
    if (s == null) return null
    val t = s.trim
    if (t.isEmpty) return null
    val zone = zoneOf(zoneId)

    // Epoch numerics first: all-digit strings never match the date formats.
    if (t.length >= 10 && t.forall(_.isDigit)) {
      try {
        if (t.length == 10) return micros(Instant.ofEpochSecond(t.toLong))
        if (t.length == 13) return micros(Instant.ofEpochMilli(t.toLong))
      } catch { case _: Exception => }
      return null
    }

    def attempt(f: => Instant): java.lang.Long =
      try micros(f) catch { case _: Exception => null }

    // Structural dispatch before the try-every-format chain: each format
    // family is mutually exclusive on cheap string shape (letter first char
    // ⇔ RFC 1123; 'T' at index 10 ⇔ ISO; length 10 ⇔ bare date; space at
    // index 10 ⇔ SQL), and within a family the original relative order is
    // kept, so results are bit-identical to the plain chain — this only
    // removes the DateTimeParseException-per-wrong-format control flow that
    // dominated the parse cost (several filled-in stack traces per row for
    // late-chain formats).
    var r: java.lang.Long = null
    if (t.charAt(0).isLetter) {
      r = attempt(ZonedDateTime.parse(t, DateTimeFormatter.RFC_1123_DATE_TIME).toInstant)
      if (r != null) return r
    } else if (t.length > 10 && t.charAt(10) == 'T') {
      // The offset and local formatters accept disjoint strings (the offset
      // form requires a zone suffix to resolve; the local form rejects
      // trailing text), so trying the sniffed one first is order-equivalent
      // to the plain chain — it only skips the guaranteed-to-throw attempt.
      if (hasOffsetAfterSeconds(t)) {
        r = attempt(OffsetDateTime.parse(t, isoOffset).toInstant); if (r != null) return r
        r = attempt(LocalDateTime.parse(t, isoLocal).atZone(zone).toInstant); if (r != null) return r
      } else {
        r = attempt(LocalDateTime.parse(t, isoLocal).atZone(zone).toInstant); if (r != null) return r
        r = attempt(OffsetDateTime.parse(t, isoOffset).toInstant); if (r != null) return r
      }
    } else if (t.length == 10) {
      r = attempt(LocalDate.parse(t, dateOnly).atStartOfDay(zone).toInstant); if (r != null) return r
    } else {
      if (hasOffsetAfterSeconds(t)) {
        r = attempt(OffsetDateTime.parse(t, sqlOffset).toInstant); if (r != null) return r
        r = attempt(LocalDateTime.parse(t, sqlLocal).atZone(zone).toInstant); if (r != null) return r
      } else {
        r = attempt(LocalDateTime.parse(t, sqlLocal).atZone(zone).toInstant); if (r != null) return r
        r = attempt(OffsetDateTime.parse(t, sqlOffset).toInstant); if (r != null) return r
      }
    }

    // Fallback: the full chain, for shapes the dispatch above misjudged.
    r = attempt(OffsetDateTime.parse(t, isoOffset).toInstant); if (r != null) return r
    r = attempt(OffsetDateTime.parse(t, sqlOffset).toInstant); if (r != null) return r
    r = attempt(LocalDateTime.parse(t, isoLocal).atZone(zone).toInstant); if (r != null) return r
    r = attempt(LocalDateTime.parse(t, sqlLocal).atZone(zone).toInstant); if (r != null) return r
    r = attempt(ZonedDateTime.parse(t, DateTimeFormatter.RFC_1123_DATE_TIME).toInstant); if (r != null) return r
    r = attempt(LocalDate.parse(t, dateOnly).atStartOfDay(zone).toInstant); if (r != null) return r
    null
  }
}
