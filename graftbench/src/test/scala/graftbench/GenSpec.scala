package graftbench

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GzipUtil, Kpl}

/** The generator's own checks: its KPL encoder speaks the format the
  * program decodes, and its expected composition adds up and matches an
  * independent decode of the records it emits.
  */
class GenSpec extends AnyFunSuite {

  private val rows = (0 until 50).map { i =>
    EventRow(i.toLong, 1000L + i, Seq("click", "view", "error")(i % 3), i * 1.25,
      if (i % 7 == 0) "{\"k\": \"é\\\"q\"}" else s"""{"k": $i}""")
  }

  test("KPL aggregates round-trip through graft.functions.Kpl.deaggregate") {
    val cases = Seq(
      Seq("a"),
      Seq("", "x" * 300, "日本語"),
      (0 until 40).map(i => s"""{"log_id":"$i"}"""))
    cases.foreach { payloads =>
      val agg = Gen.kplAggregate(payloads.map(_.getBytes(UTF_8)), "pk-1")
      assert(Kpl.isAggregate(agg))
      assert(Kpl.deaggregate(agg).map(new String(_, UTF_8)) == payloads)
    }
  }

  test("a corrupted KPL digest falls back to the record itself") {
    val agg = Gen.kplAggregate(Seq("a", "b").map(_.getBytes(UTF_8)), "pk")
    agg(agg.length - 1) = (agg(agg.length - 1) ^ 1).toByte
    assert(Kpl.deaggregate(agg).map(_.toSeq) == Seq(agg.toSeq))
  }

  test("composition counts add up") {
    val (recs, c) = Gen.generate(rows, 5000, 7L, _.toDouble)
    assert(recs.length == 5000 && c.recordsIn == 5000)
    assert(c.kept + c.dropped == c.payloadsOut)
    assert(c.prefixes.values.map(_.count).sum == c.kept)
    assert(c.prefixes.filter(_._1.startsWith(Gen.UnknownRoute + "/")).values.map(_.count).sum ==
      c.unknownRouted)
    assert(c.reasons("whitelist_miss") + c.reasons("non_json") == c.dropped)
    assert(Seq("missing_log_id", "missing_time", "bad_time", "missing_log_type")
      .map(c.reasons).sum == c.unknownRouted)
    // exact quotas: every kind's share of the records is fixed
    Gen.Kinds.foreach { case (k, permille) =>
      if (c.reasons.contains(k)) assert(c.reasons(k) == 5000L * permille / 1000)
    }
  }

  test("the same seed gives the same input, another seed the same composition") {
    val (a, ca) = Gen.generate(rows, 800, 3L, _.toDouble)
    val (b, cb) = Gen.generate(rows, 800, 3L, _.toDouble)
    val (d, cd) = Gen.generate(rows, 800, 4L, _.toDouble)
    assert(a.map(_.data.toSeq).toSeq == b.map(_.data.toSeq).toSeq && ca == cb)
    assert(a.map(_.data.toSeq).toSeq != d.map(_.data.toSeq).toSeq)
    assert(ca.copy(prefixes = Map.empty) == cd.copy(prefixes = Map.empty))
  }

  test("an independent decode of the records finds the expected payloads") {
    val json = new ObjectMapper()
    val (recs, c) = Gen.generate(rows, 2000, 11L, _.toDouble)
    val payloads = recs.toSeq.flatMap { r =>
      Kpl.deaggregate(r.data).flatMap { p =>
        Option(GzipUtil.maybeGunzip(p)).toSeq.flatMap { b =>
          val s = new String(b, UTF_8)
          val tree = scala.util.Try(json.readTree(s)).toOption.filter(_ != null)
          tree.map(_.path("messageType").asText("")) match {
            case Some("DATA_MESSAGE") =>
              val it = tree.get.path("logEvents").elements()
              Iterator.continually(it).takeWhile(_.hasNext).map(_.next().path("message").asText()).toSeq
            case Some("CONTROL_MESSAGE") => Nil
            case _ => Seq(s)
          }
        }
      }
    }
    assert(payloads.size == c.payloadsOut)
    val lines = payloads.filter(p => scala.util.Try(json.readTree(p)).isSuccess &&
      !p.contains("\"log_type\":\"debug\""))
    assert(lines.size == c.kept)
    assert(lines.map(l => Gen.hash64(l.getBytes(UTF_8))).sum == c.prefixes.values.map(_.digest).sum)
  }

  test("lambda events carry base64 data and the scheduled creation time") {
    val (recs, _) = Gen.generate(rows, 150, 1L, i => 1000.0 * i)
    val events = Gen.lambdaEvents(recs.toSeq, 0L).toSeq
    assert(events.size == 2)
    val first = new ObjectMapper().readTree(events.head).path("Records")
    assert(first.size == Gen.RecordsPerEvent)
    val r1 = first.get(1).path("kinesis")
    assert(java.util.Base64.getDecoder.decode(r1.path("data").asText()).toSeq == recs(1).data.toSeq)
    assert(r1.path("approximateArrivalTimestamp").asDouble() == 1.0)
  }
}
