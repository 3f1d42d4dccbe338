package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.{JsonToStructs, UnBase64}
import org.apache.spark.sql.functions.{col, explode, from_json, timestamp_seconds, unbase64}

import graft.pipeline.LogPipeline
import graft.sources.KinesisEventSource
import graft.streaming.PipelineMetrics

/** O1/O2 source boundary (Lambda/Kinesis event envelope, fixture F1) and
  * O16 observability.
  */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  test("Lambda event envelope parses, base64-decodes, and feeds the pipeline (F1)") {
    val p1 = """{"log_type":"app","log_id":"1","time":"2026-08-12T00:00:00Z"}"""
    val p2 = """{"log_type":"web","log_id":"2","time":"2026-08-12T01:00:00Z"}"""
    val event =
      s"""{"Records":[
         |{"kinesis":{"partitionKey":"pk-1","sequenceNumber":"495903","data":"${b64(p1)}",
         |"approximateArrivalTimestamp":1755000000.123},"eventID":"shardId-0:495903",
         |"eventSourceARN":"arn:aws:kinesis:ap-northeast-1:123456789012:stream/s"},
         |{"kinesis":{"partitionKey":"pk-2","sequenceNumber":"495904","data":"${b64(p2)}",
         |"approximateArrivalTimestamp":1755000001.5},"eventID":"shardId-0:495904",
         |"eventSourceARN":"arn:aws:kinesis:ap-northeast-1:123456789012:stream/s"}]}"""
        .stripMargin.replace("\n", "")

    val records = KinesisEventSource.fromLambdaEvents(Seq(event).toDF("value"))
    assert(records.count() == 2)
    val r = records.orderBy("sequence_number").collect()
    assert(r.map(_.getAs[String]("partition_key")).toSeq == Seq("pk-1", "pk-2"))

    val parsed = LogPipeline.parse(LogPipeline.decode(records), PipelineConfig())
    val routes = parsed.select("route").as[String].collect().sorted.toSeq
    assert(routes == Seq("app", "web"))
  }

  test("malformed event JSON yields no records (not a crash)") {
    val records = KinesisEventSource.fromLambdaEvents(Seq("{not json").toDF("value"))
    assert(records.count() == 0)
  }

  test("the event source parses each event once and base64-decodes each record once") {
    val rec = (fields: String) => s"{'kinesis':{$fields}}"
    val events = Seq(
      Seq(rec(s"'partitionKey':'a','sequenceNumber':'1','data':'${b64("x")}'," +
          "'approximateArrivalTimestamp':1.5"),
        rec("'partitionKey':'b','data':null"), rec("'partitionKey':'c'"), "null",
        "{'eventID':'e'}", rec("'partitionKey':'d','data':''"),
        rec("'partitionKey':'e','data':'!!'"), rec(s"'partitionKey':'f','data':'${b64("ü")}'"))
        .mkString("{'Records':[", ",", "]}"),
      "{'Records':[]}", "{'Records':null}", "{}", "{not json", "").map(_.replace('\'', '"'))
    val path = java.nio.file.Files.write(java.nio.file.Files.createTempFile("graft-events", ".json"),
      events.mkString("\n").getBytes("UTF-8")).toString
    val after = KinesisEventSource.readLambdaEventFile(spark, path)
    // the form before: explode over from_json, the null test on decoded bytes
    val before = spark.read.text(path)
      .select(explode(from_json(col("value"), KinesisEventSource.eventSchema)
        .getField("Records")).as("r"))
      .select(col("r.kinesis.partitionKey").as("partition_key"),
        col("r.kinesis.sequenceNumber").as("sequence_number"),
        timestamp_seconds(col("r.kinesis.approximateArrivalTimestamp")).as("arrival_ts"),
        unbase64(col("r.kinesis.data")).as("data"))
      .filter(col("data").isNotNull)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getString(0), r.getString(1), r.getTimestamp(2), r.getAs[Array[Byte]](3).toSeq)).toSeq
      .sortBy(_._1)
    assert(after.columns.toSeq == before.columns.toSeq)
    assert(rows(after) == rows(before))
    assert(rows(after).map(_._1) == Seq("a", "d", "e", "f"))

    val plan = after.queryExecution.executedPlan
    val exprs = PlanAudit.expressions(plan)
    assert(exprs.count(_.isInstanceOf[UnBase64]) == 1, plan.toString)
    assert(exprs.count(_.isInstanceOf[JsonToStructs]) == 1, plan.toString)
    // the envelope's ids are in the input but not in the parsed schema
    assert(exprs.collect { case j: JsonToStructs => j.schema.catalogString }
      .forall(s => !s.contains("eventID") && !s.contains("eventSourceARN")), plan.toString)
  }

  test("Kinesis connector binding maps the reference ESM knobs 1:1 (O1)") {
    import graft.sources.KinesisConnectorSource
    val cfg = KinesisConnectorSource.Config(
      streamArn = "arn:aws:kinesis:ap-northeast-1:123456789012:stream/app-logs",
      batchSize = Some(100),                 // var.batch_size
      startingPosition = "latest")           // var.starting_position
    val o = KinesisConnectorSource.options(cfg)
    assert(o("kinesis.streamName") == "app-logs")
    assert(o("kinesis.region") == "ap-northeast-1")
    assert(o("kinesis.maxFetchRecordsPerShard") == "100")
    assert(o("kinesis.startingPosition") == "LATEST")
    // batch_size omitted ⇒ no per-shard bound forced on the connector
    assert(!KinesisConnectorSource.options(cfg.copy(batchSize = None))
      .contains("kinesis.maxFetchRecordsPerShard"))
    intercept[IllegalArgumentException] {
      KinesisConnectorSource.parseArn("arn:aws:sqs:us-east-1:1:queue/x")
    }
  }

  test("connector rows normalize to the seam schema and feed the pipeline (O1)") {
    import graft.sources.KinesisConnectorSource
    // a frame shaped like the connector's output schema
    val raw = Seq(
      ("pk-1", "495903", new java.sql.Timestamp(1755000000123L),
       """{"log_type":"app","log_id":"1","time":"2026-08-12T00:00:00Z"}""".getBytes("UTF-8")),
      ("pk-2", "495904", new java.sql.Timestamp(1755000001500L),
       """{"log_type":"web","log_id":"2","time":"2026-08-12T01:00:00Z"}""".getBytes("UTF-8")))
      .toDF("partitionKey", "sequenceNumber", "approximateArrivalTimestamp", "data")
    val rec = KinesisConnectorSource.normalize(raw)
    assert(rec.columns.toSeq ==
      Seq("partition_key", "sequence_number", "arrival_ts", "data"))
    val parsed = LogPipeline.parse(LogPipeline.decode(rec), PipelineConfig())
    assert(parsed.select("route").as[String].collect().sorted.toSeq == Seq("app", "web"))
  }

  test("task metrics listener counts reads through a pipeline run (O16)") {
    val m = PipelineMetrics.attach(spark)
    Tables(spark, "/root/testdata/sf0.001", "events").count()
    // listener bus is async; poll briefly for the task-end events
    val deadline = System.currentTimeMillis() + 10000
    while (m.snapshot("tasks") == 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    val snap = m.snapshot
    assert(snap("tasks") > 0 && snap("records_read") > 0)
  }
}
