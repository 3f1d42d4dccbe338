package graft

import java.nio.file.Files

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.functions.{gfn, GzipUtil, Kpl}
import graft.pipeline.LogPipeline

/** Golden tests for the parity pipeline, driven by FIXTURES.md F1–F7 and the
  * documented semantics at /root/reference/README.md:8-15.
  */
class LogPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val cfg = PipelineConfig()

  private def decodeAll(payloads: Seq[Array[Byte]]): Seq[String] =
    LogPipeline.decode(payloads.toDF("data"))
      .select("payload").as[String].collect().toSeq

  private def parseOne(json: String, c: PipelineConfig = cfg) =
    LogPipeline.parse(Seq(json).toDF("payload"), c)
      .select("raw", "log_type", "log_id", "valid", "kept", "route", "month", "day")
      .collect().head

  // ---- decode stage (O2–O5) ----

  test("plain JSON record passes decode unchanged") {
    val p = """{"log_type":"app","log_id":"1","time":"2026-08-12T00:00:00Z"}"""
    assert(decodeAll(Seq(p.getBytes("UTF-8"))) == Seq(p))
  }

  test("gzipped payload is inflated (F5)") {
    val p = """{"log_type":"app","log_id":"1","time":"2026-08-12T00:00:00Z"}"""
    assert(decodeAll(Seq(GzipUtil.gzip(p.getBytes("UTF-8")))) == Seq(p))
  }

  test("KPL aggregate fans out to all user records (F6)") {
    val ps = Seq("""{"a":1}""", """{"b":2}""", """{"c":3}""")
    val agg = Kpl.aggregate(ps.map(_.getBytes("UTF-8")))
    assert(decodeAll(Seq(agg)) == ps)
  }

  test("CWL DATA_MESSAGE explodes logEvents messages; CONTROL_MESSAGE drops (F4)") {
    val data =
      """{"messageType":"DATA_MESSAGE","owner":"1","logGroup":"/g","logStream":"s",
        |"logEvents":[{"id":"1","timestamp":1,"message":"{\"log_type\":\"app\",\"log_id\":\"cw-1\",\"time\":\"2026-08-12T12:00:00Z\"}"},
        |{"id":"2","timestamp":2,"message":"{\"log_type\":\"app\",\"log_id\":\"cw-2\",\"time\":\"2026-08-12T12:00:01Z\"}"}]}"""
        .stripMargin.replace("\n", "")
    val control = """{"messageType":"CONTROL_MESSAGE","logEvents":[]}"""
    val out = decodeAll(Seq(data.getBytes("UTF-8"), control.getBytes("UTF-8")))
    assert(out.size == 2)
    assert(out.forall(_.contains("cw-")))
  }

  test("gzipped CWL envelope decodes end-to-end (README.md:10 arrival form)") {
    val data =
      """{"messageType":"DATA_MESSAGE","logEvents":[{"id":"1","timestamp":1,"message":"m1"}]}"""
    assert(decodeAll(Seq(GzipUtil.gzip(data.getBytes("UTF-8")))) == Seq("m1"))
  }

  test("decode parses the CWL envelope once") {
    val plan = LogPipeline.decode(Seq(Array[Byte](1)).toDF("data")).queryExecution.executedPlan
    val parses = plan.collect { case p => p.expressions.flatMap(_.collect {
      case j: org.apache.spark.sql.catalyst.expressions.JsonToStructs => j })
    }.flatten
    assert(parses.size == 1, plan.toString)
  }

  // ---- parse stage (O6–O12), fixtures F2/F3 ----

  test("valid record routes to its type and date partition (F2)") {
    val r = parseOne(
      """{"log_type": "app", "log_id": "7c9a2f1e-0001", "time": "2026-08-12T09:15:30.123456+09:00",
        | "level": "INFO", "user": {"id": 42}}""".stripMargin.replace("\n", ""))
    assert(r.getAs[String]("log_type") == "app")
    assert(r.getAs[Boolean]("valid"))
    assert(r.getAs[Boolean]("kept"))
    assert(r.getAs[String]("route") == "app")
    assert(r.getAs[String]("month") == "2026-08")
    assert(r.getAs[String]("day") == "12") // 09:15+09:00 = 00:15Z, same day in UTC
  }

  test("raw passthrough is byte-exact (key order / spacing preserved)") {
    val weird = """{"time":"2026-08-12T00:00:00Z",  "log_id":"x","log_type":"app","n":1.50}"""
    assert(parseOne(weird).getAs[String]("raw") == weird)
  }

  test("partition path renders in the configured timezone (SURVEY §7.3.4)") {
    // 23:30Z on the 11th = 08:30+09:00 on the 12th in Tokyo
    val json = """{"log_type":"app","log_id":"x","time":"2026-08-11T23:30:00Z"}"""
    val utc = parseOne(json)
    assert(utc.getAs[String]("day") == "11")
    val tokyo = parseOne(json, cfg.copy(timezone = "Asia/Tokyo"))
    assert(tokyo.getAs[String]("month") == "2026-08" && tokyo.getAs[String]("day") == "12")
  }

  test("non-JSON is silently dropped (F3 row 1)") {
    val r = parseOne("not json at all {{{")
    assert(!r.getAs[Boolean]("kept"))
  }

  test("JSON array (valid JSON, not an object) goes to the failed route (F3 row 2)") {
    val r = parseOne("[1,2,3]")
    assert(r.getAs[Boolean]("kept") && !r.getAs[Boolean]("valid"))
    assert(r.getAs[String]("route") == "unknown")
  }

  test("missing each required field routes to unknown (F3 rows 3-5)") {
    val missing = Seq(
      """{"log_id":"x1","time":"2026-08-12T00:00:00Z","m":"hi"}""", // no log_type
      """{"log_type":"app","log_id":"x2","m":"hi"}""", // no time
      """{"log_type":"app","time":"2026-08-12T00:00:00Z","m":"hi"}""") // no log_id
    for (json <- missing) {
      val r = parseOne(json)
      assert(r.getAs[Boolean]("kept") && !r.getAs[Boolean]("valid"), json)
      assert(r.getAs[String]("route") == "unknown", json)
    }
  }

  test("unparseable time routes to unknown (F3 row 6)") {
    val r = parseOne("""{"log_type":"app","log_id":"x3","time":"not-a-time"}""")
    assert(r.getAs[Boolean]("kept") && !r.getAs[Boolean]("valid"))
    assert(r.getAs[String]("route") == "unknown")
  }

  test("valid record with parseable time routes under its own date even when type is missing") {
    val r = parseOne("""{"log_id":"x1","time":"2026-03-05T10:00:00Z"}""")
    assert(r.getAs[String]("route") == "unknown")
    assert(r.getAs[String]("month") == "2026-03" && r.getAs[String]("day") == "05")
  }

  test("whitelist miss is skipped entirely, not routed to unknown (F3 row 7)") {
    val c = cfg.copy(whitelist = Seq("app", "nginx"))
    val r = parseOne("""{"log_type":"debug","log_id":"x4","time":"2026-08-12T00:00:00Z"}""", c)
    assert(!r.getAs[Boolean]("kept"))
  }

  test("whitelisted type is kept; typeless records bypass the whitelist (→ unknown)") {
    val c = cfg.copy(whitelist = Seq("app"))
    assert(parseOne("""{"log_type":"app","log_id":"1","time":"2026-08-12T00:00:00Z"}""", c)
      .getAs[Boolean]("kept"))
    val noType = parseOne("""{"log_id":"1","time":"2026-08-12T00:00:00Z"}""", c)
    assert(noType.getAs[Boolean]("kept") && noType.getAs[String]("route") == "unknown")
  }

  test("empty whitelist env means process all — the documented intent, not the " +
       "reference's {\"\"} set (lambda/main.py:32-36 dead branch; F3 row 8)") {
    val c = PipelineConfig.fromEnv(Map("LOG_TYPE_WHITELIST" -> ""))
    assert(c.whitelist.isEmpty)
    assert(parseOne("""{"log_type":"anything","log_id":"1","time":"2026-08-12T00:00:00Z"}""", c)
      .getAs[Boolean]("kept"))
  }

  // ---- write stage (O11/O13/O14), contract F7 ----

  test("end-to-end write: partition layout, gzip content, byte-exact lines, " +
       "valid/failed disjoint-cover (F7)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-pipe").toString
    val inputs = Seq(
      """{"log_type":"app","log_id":"1","time":"2026-08-12T01:00:00Z","m":"a"}""",
      """{"log_type":"app","log_id":"2","time":"2026-08-12T02:00:00Z","m":"b"}""",
      """{"log_type":"nginx","log_id":"3","time":"2026-08-13T00:00:00Z","m":"c"}""",
      """{"log_id":"4","time":"2026-08-12T00:00:00Z","m":"no-type"}""",
      """not json {{{""")
    LogPipeline.run(inputs.map(_.getBytes("UTF-8")).toDF("data"), cfg, tmp)

    val root = new java.io.File(s"$tmp/${cfg.pathPrefix}")
    def files(sub: String) = {
      val d = new java.io.File(root, sub)
      Option(d.listFiles()).getOrElse(Array.empty).filter(_.getName.endsWith(".gz"))
    }
    val app12 = files("log_type=app/month=2026-08/day=12")
    val nginx13 = files("log_type=nginx/month=2026-08/day=13")
    val unknown12 = files("log_type=unknown/month=2026-08/day=12")
    assert(app12.nonEmpty && nginx13.nonEmpty && unknown12.nonEmpty)

    def readGz(fs: Array[java.io.File]): Seq[String] = fs.flatMap { f =>
      val in = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(f))
      val s = scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      in.close(); s
    }.toSeq

    assert(readGz(app12).toSet == inputs.filter(_.contains("\"app\"")).toSet) // byte-exact
    assert(readGz(nginx13) == Seq(inputs(2)))
    assert(readGz(unknown12) == Seq(inputs(3))) // failed route, own event date
    // non-JSON appears nowhere; valid ∪ failed = kept payloads
    val all = readGz(app12 ++ nginx13 ++ unknown12)
    assert(all.size == 4 && !all.exists(_.startsWith("not json")))
  }

  test("compaction rewrites many small batch outputs into few files, byte-exact") {
    import graft.ops.Compact
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val mk = (i: Int) =>
      s"""{"log_type":"app","log_id":"$i","time":"2026-08-12T0$i:00:00Z","m":"v$i"}"""
    // three separate micro-batch writes → ≥3 files under the same prefix
    for (batch <- 0 until 3)
      LogPipeline.run(Seq(mk(batch)).map(_.getBytes("UTF-8")).toDF("data"), cfg, tmp)
    val srcDir = new java.io.File(s"$tmp/${cfg.pathPrefix}/log_type=app/month=2026-08/day=12")
    assert(srcDir.listFiles().count(_.getName.endsWith(".gz")) >= 3)

    Compact.run(spark, s"$tmp/${cfg.pathPrefix}", s"$tmp/compacted")
    val dstDir = new java.io.File(s"$tmp/compacted/log_type=app/month=2026-08/day=12")
    assert(dstDir.listFiles().count(_.getName.endsWith(".gz")) == 1)
    val lines = spark.read.text(s"$tmp/compacted")
      .select("value").as[String].collect().toSet
    assert(lines == (0 until 3).map(mk).toSet)
  }

  // ---- the fork-free local file system of the write ----

  /** Every path under `root` (relative, part-file names made generic) with
    * its POSIX permissions.
    */
  private def permissions(root: String): Set[(String, String)] = {
    val base = java.nio.file.Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator().asScala.map { p =>
      base.relativize(p).toString.replaceAll("part-[0-9a-f-]+(\\.c\\d+)?", "part") ->
        java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toSet
    finally walk.close()
  }

  test("pipeline write leaves the same permissions as a stock write on every path") {
    val tmp = Files.createTempDirectory("graft-perm").toString
    val parsed = LogPipeline.parse(Seq(
      """{"log_type":"app","log_id":"1","time":"2026-08-12T01:00:00Z"}""",
      """{"log_type":"nginx","log_id":"2","time":"2026-08-13T00:00:00Z"}""",
      """{"log_id":"3","time":"2026-08-12T00:00:00Z"}""").toDF("payload"), cfg)
    LogPipeline.write(parsed, cfg, s"$tmp/graft")
    parsed.filter(col("kept"))
      .select(col("raw").as("value"), col("route").as("log_type"), col("month"), col("day"))
      .write.partitionBy("log_type", "month", "day").option("compression", "gzip")
      .text(s"$tmp/stock/${cfg.pathPrefix}")
    val forkFree = permissions(s"$tmp/graft/${cfg.pathPrefix}")
    assert(forkFree == permissions(s"$tmp/stock/${cfg.pathPrefix}"))
    val names = forkFree.map(_._1)
    for (kind <- Seq("log_type=app", "log_type=app/month=2026-08/day=12", "part.txt.gz",
        ".part.txt.gz.crc", "_SUCCESS", "._SUCCESS.crc"))
      assert(names.exists(_.endsWith(kind)), s"no $kind in $names")
  }

  test("fork-free setPermission sets plain modes itself and leaves the sticky bit to Hadoop") {
    val dir = Files.createTempDirectory("graft-sticky")
    val fs = new graft.io.ForkFreeLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    for (octal <- Seq("750", "1755")) { // NIO cannot set the sticky bit: only super keeps it
      val mode = Integer.parseInt(octal, 8)
      fs.setPermission(new Path(dir.toUri), new FsPermission(mode.toShort))
      assert((Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & 0xfff) == mode, octal)
    }
  }

  test("pipeline write goes through the fork-free file system and leaves the JVM-wide one as it was") {
    val uri = java.net.URI.create("file:///")
    val conf = spark.sparkContext.hadoopConfiguration
    val before = FileSystem.get(uri, conf).getClass
    // the fork-free instances count their bytes under their own class
    @scala.annotation.nowarn("cat=deprecation")
    val forkFree = FileSystem.getStatistics("file", classOf[graft.io.ForkFreeRawLocalFileSystem])
    val written = forkFree.getBytesWritten
    val tmp = Files.createTempDirectory("graft-fscache").toString
    LogPipeline.run(Seq("""{"log_type":"app","log_id":"1","time":"2026-08-12T01:00:00Z"}""")
      .map(_.getBytes("UTF-8")).toDF("data"), cfg, tmp)
    assert(forkFree.getBytesWritten > written)
    assert(before != classOf[graft.io.ForkFreeLocalFileSystem])
    assert(FileSystem.get(uri, conf).getClass == before)
    assert(conf.get("fs.file.impl") == null)
  }

  // ---- one JSON parse per payload on the write ----

  private val wlCfg = cfg.copy(whitelist = Seq("app"))
  private val valid1 = """{"log_type":"app","log_id":"1","time":"2026-08-12T01:00:00Z"}"""
  private val valid2 = """{"log_type":"app","log_id":"2","time":"2026-08-12T02:00:00Z"}"""
  private val noType = """{"log_id":"3","time":"2026-08-12T03:00:00Z"}"""
  private val badTime = """{"log_type":"app","log_id":"4","time":"not-a-time"}"""
  private val jsonArray = "[1,2]"
  private val wlMiss = """{"log_type":"debug","log_id":"5","time":"2026-08-12T00:00:00Z"}"""

  /** One record per decode branch (plain, gzip, KPL, corrupt gzip, CWL data
    * and control message) carrying every parse branch under [[wlCfg]]:
    * valid, typeless, bad time and non-object (kept), whitelist miss and
    * non-JSON (dropped).
    */
  private def branchFixture = {
    val b = (s: String) => s.getBytes("UTF-8")
    val cwlData = s"""{"messageType":"DATA_MESSAGE","logEvents":[{"message":${
      "\"" + valid2.replace("\"", "\\\"") + "\""}},{"message":"$jsonArray"}]}"""
    Seq(b(valid1), GzipUtil.gzip(b(noType)), Kpl.aggregate(Seq(b(wlMiss), b("not json {{{"))),
      Array[Byte](0x1f, 0x8b.toByte, 1, 2, 3, 4), b(cwlData),
      b("""{"messageType":"CONTROL_MESSAGE","logEvents":[]}"""), b(badTime)).toDF("data")
  }
  private val branchKept = Set(valid1, valid2, noType, badTime, jsonArray)

  private def writtenLines(root: String): Seq[String] =
    spark.read.text(root).select("value").as[String].collect().toSeq.sorted

  test("the batch write parses each payload's JSON once (plan pin)") {
    val tmp = Files.createTempDirectory("graft-once").toString
    val plans = PlanAudit.writePlans(spark, 1) {
      LogPipeline.run(branchFixture, wlCfg, tmp)
    }
    assert(plans.size == 1)
    PlanAudit.assertParsesOnce(plans.head)
    assert(writtenLines(s"$tmp/${cfg.pathPrefix}") == branchKept.toSeq.sorted)
  }

  test("the deduplicating write parses each payload's JSON once and reads its input once") {
    val tmp = Files.createTempDirectory("graft-once-dedupe").toString
    val plans = PlanAudit.writePlans(spark, 1) {
      LogPipeline.run(branchFixture.union(branchFixture), wlCfg, tmp, dedupe = true)
    }
    assert(plans.size == 1)
    PlanAudit.assertParsesOnce(plans.head)
    // the id-less array passes through once per copy; every id is written once
    assert(writtenLines(s"$tmp/${cfg.pathPrefix}") == (branchKept.toSeq :+ jsonArray).sorted)
  }

  test("the deduplicating write keeps an id whose least copy is a whitelist miss") {
    // no time: both copies route to unknown under one key; the least payload
    // is the miss, which the write drops
    val miss = """{"log_type":"aaa","log_id":"9"}"""
    val hit = """{"log_type":"app","log_id":"9"}"""
    val tmp = Files.createTempDirectory("graft-dedupe-kept").toString
    LogPipeline.run(Seq(miss, hit, hit).map(_.getBytes("UTF-8")).toDF("data"), wlCfg, tmp,
      dedupe = true)
    assert(writtenLines(s"$tmp/${cfg.pathPrefix}") == Seq(hit))
  }

  test("dedupeById returns the rows of the filter-and-union form it replaced") {
    val rnd = new java.util.Random(7)
    val inputs = (1 to 400).map { i =>
      val id = if (rnd.nextInt(4) == 0) "" else s""","log_id":"${rnd.nextInt(40)}""""
      val tpe = Seq("", ""","log_type":"app"""", ""","log_type":"web"""")(rnd.nextInt(3))
      // few distinct renderings, so id-less rows repeat byte for byte
      s"""{"time":"2026-08-1${rnd.nextInt(3)}T00:00:00Z","n":${rnd.nextInt(3)}$tpe$id}"""
    } ++ Seq(null, "not json", "[1]", "[1]")
    val parsed = LogPipeline.parse(inputs.toDF("payload"), cfg)
    val before = {
      val allCols = parsed.columns.toIndexedSeq.map(col)
      parsed.filter(col("log_id").isNotNull)
        .groupBy(col("route"), col("log_id"))
        .agg(min(struct(allCols: _*)).as("_row"))
        .select(col("_row.*"))
        .unionByName(parsed.filter(col("log_id").isNull))
    }
    val rows = (df: DataFrame) => df.collect().map(_.toString).toSeq.sorted
    val after = rows(LogPipeline.dedupeById(parsed))
    assert(after == rows(before))
    assert(after.size > inputs.count(p => p == null || !p.contains("log_id")) && after.size < inputs.size)
  }

  // ---- parse against the projection form it replaced, on edge rows ----

  /** `parse` as it was before the one-row explode: `_v` in a plain
    * projection (which lets the `kept` filter be pushed under it).
    */
  private def parseBefore(df: DataFrame, c: PipelineConfig): DataFrame = {
    val raw = col("payload")
    val getS = (field: String) => try_variant_get(col("_v"), s"$$.$field", "string")
    val withFields = df
      .withColumns(ListMap("_v" -> try_parse_json(raw), "raw" -> raw))
      .withColumns(ListMap(
        "log_type" -> getS(c.logTypeField),
        "log_id" -> getS(c.logIdField),
        "ts" -> gfn.lenient_ts(getS(c.timestampField), c.timezone)))
    val tsOk = if (c.timestampRequired) col("ts").isNotNull else lit(true)
    val valid = col("log_type").isNotNull && col("log_id").isNotNull && tsOk
    val wlOk: Column =
      if (c.whitelist.isEmpty) lit(true)
      else col("log_type").isNull || col("log_type").isin(c.whitelist: _*)
    val local = from_utc_timestamp(
      coalesce(col("ts"), lit(c.fallbackDate).cast(TimestampType)), c.timezone)
    withFields
      .withColumns(ListMap(
        "valid" -> valid,
        "kept" -> (col("_v").isNotNull && wlOk),
        "route" -> when(valid, col("log_type")).otherwise(lit(c.unknownPrefix)),
        "month" -> date_format(local, "yyyy-MM"),
        "day" -> date_format(local, "dd")))
      .drop("_v")
  }

  private val edgePayloads: Seq[String] = {
    val t = "\"time\":\"2026-08-12T01:00:00Z\""
    Seq(null, "", "   ", "\t\n",
      s"""{"log_type":"app","log_id":"1",$t}\t""", s"""{"log_type":"app","log_id":"2",$t}\n""",
      "not json {{{", "42", "\"app\"", "null", "[1,2]",
      s"""{"log_type":"app","log_type":"web","log_id":"3",$t}""",   // duplicate key
      s"""{"log_id":"4",$t}""", s"""{"log_type":"app",$t}""",
      """{"log_type":"app","log_id":"5"}""",
      s"""{"log_type":null,"log_id":"6",$t}""",
      s"""{"log_type":"app","log_id":"ü-日本-7",$t,"m":"héllo 😀"}""",
      s"""{"log_type":"debug","log_id":"8",$t}""")                  // whitelist miss
  }

  test("parse matches its projection form row for row on edge rows, " +
       "codegen and interpreted, whitelist on and off") {
    // an RDD, not a local relation the optimizer would evaluate itself
    val in = spark.sparkContext.parallelize(edgePayloads.zipWithIndex.map(_.swap), 2)
      .toDF("i", "payload")
    val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    def rows(df: DataFrame) = df.orderBy("i").collect().toSeq
    def both(c: PipelineConfig) = Seq(
      LogPipeline.parse(in, c) -> parseBefore(in, c),
      LogPipeline.parse(in, c).filter(col("kept")) -> parseBefore(in, c).filter(col("kept")))
    for (c <- Seq(cfg, wlCfg); conf <- Seq(Nil, interpreted)) {
      val old = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try for ((now, before) <- both(c)) {
        assert(now.columns.toSeq == before.columns.toSeq)
        assert(now.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]) ==
          conf.isEmpty)
        assert(rows(now) == rows(before), s"${c.whitelist} $conf")
      } finally old.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    // whitelist on: blank, non-JSON and duplicate-key payloads and the miss
    // are dropped; JSON scalars, arrays and a null type go to unknown
    val flags = rows(LogPipeline.parse(in, wlCfg))
      .map(r => (r.getAs[Int]("i"), r.getAs[Boolean]("kept"), r.getAs[Boolean]("valid")))
    assert(flags.map(_._1) == edgePayloads.indices)
    assert(flags.filter(_._2).map(_._1) == Seq(4, 5, 7, 8, 9, 10, 12, 13, 14, 15, 16))
    assert(flags.filter(f => f._2 && f._3).map(_._1) == Seq(4, 5, 16))
  }

  test("property: every kept record lands in exactly one route (seeded corpus)") {
    val rnd = new java.util.Random(99)
    val inputs = (1 to 300).map { i =>
      rnd.nextInt(5) match {
        case 0 => s"""{"log_type":"t${rnd.nextInt(3)}","log_id":"$i","time":"2026-0${1 + rnd.nextInt(8)}-1${rnd.nextInt(9)}T0${rnd.nextInt(9)}:00:00Z"}"""
        case 1 => s"""{"log_id":"$i","time":"2026-01-01T00:00:00Z"}"""
        case 2 => s"""{"log_type":"t0","log_id":"$i"}"""
        case 3 => s"""garbage $i"""
        case 4 => s"""{"log_type":"t1","log_id":"$i","time":"${rnd.nextInt(100)}bad"}"""
      }
    }
    val parsed = LogPipeline.parse(inputs.toDF("payload"), cfg).cache()
    val total = parsed.count()
    val kept = parsed.filter(col("kept")).count()
    val validN = parsed.filter(col("kept") && col("valid")).count()
    val failedN = parsed.filter(col("kept") && !col("valid")).count()
    val dropped = parsed.filter(!col("kept")).count()
    assert(total == 300)
    assert(validN + failedN == kept && kept + dropped == total)
    // each kept record has exactly one route value and a well-formed partition
    assert(parsed.filter(col("kept") && col("route").isNull).count() == 0)
    assert(parsed.filter(col("kept") &&
      !col("month").rlike("^\\d{4}-\\d{2}$")).count() == 0)
    parsed.unpersist()
  }
}
