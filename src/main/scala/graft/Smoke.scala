package graft

/** Dev smoke: emulates the driver's t1 check (entry rows > 0) and prints a
  * named query's result/plan when given args: [queryName [sfDir]]. The
  * session has `SPARK_GRAFT_CPUS` cores (default 8), like the other mains.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    if (args.isEmpty) {
      val df = SparkEntry.entry(spark)
      df.show(20, truncate = false)
      println(s"entry rows = ${df.count()}")
    } else if (args(0) == "stream-demo") {
      // Drive the streaming surface end-to-end: text-file source → decode →
      // parse → routed gzip partitions, twice (checkpoint resume).
      val tmp = java.nio.file.Files.createTempDirectory("graft-demo")
      val inDir = tmp.resolve("in"); java.nio.file.Files.createDirectory(inDir)
      java.nio.file.Files.write(inDir.resolve("batch1.jsonl"),
        java.util.Arrays.asList(
          """{"log_type":"app","log_id":"1","time":"2026-08-12T01:00:00Z","m":"a"}""",
          """{"log_type":"nginx","log_id":"2","time":"2026-08-12T02:00:00Z","m":"b"}""",
          """{"log_id":"3","time":"2026-08-12T03:00:00Z","m":"no-type"}""",
          """garbage {{{"""))
      val cfg = PipelineConfig()
      val q = graft.streaming.LogStreamJob.startFromTextDir(
        spark, inDir.toString, cfg, s"$tmp/out", s"$tmp/cp")
      q.awaitTermination(120000)
      val out = new java.io.File(s"$tmp/out/${cfg.pathPrefix}")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(out).filter(_.getName.endsWith(".gz")).foreach { f =>
        println(s"OUT ${f.toString.stripPrefix(out.toString)}")
      }
      println(s"stream-demo lines = ${spark.read.text(out.toString).count()}")
    } else {
      val name = args(0)
      val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
      val df = SparkEntry.queries(name)(spark, dir)
      df.explain("formatted")
      df.show(20, truncate = false)
      println(s"$name rows = ${df.count()}")
    }
    spark.stop()
  }
}
