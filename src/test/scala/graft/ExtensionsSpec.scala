package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

import graft.pipeline.LogPipeline

/** SQL extension surface + the log_id dedup extension. */
class ExtensionsSpec extends AnyFunSuite {

  test("custom expressions are callable from spark.sql via GraftExtensions") {
    // the shared test session is built withExtensions(new GraftExtensions)
    val spark = SparkTestSession.spark
    val r = spark.sql(
      """SELECT lenient_ts('2026-08-12 09:15:30', 'Asia/Tokyo') AS t1,
                lenient_ts('Wed, 12 Aug 2026 09:15:30 +0900') AS t2,
                cast(try_gunzip(cast('plain' AS BINARY)) AS STRING) AS s""").collect().head
    assert(r.getTimestamp(0).toInstant.toString == "2026-08-12T00:15:30Z")
    assert(r.getTimestamp(1).toInstant.toString == "2026-08-12T00:15:30Z")
    assert(r.getString(2) == "plain")
    val n = spark.sql(
      "SELECT kpl_deaggregate(cast('x' AS BINARY)) AS payload").count()
    assert(n == 1)
  }

  test("custom aggregates are callable from spark.sql (analyzer wraps them)") {
    val spark = SparkTestSession.spark
    spark.sql("SELECT explode(split('a a a b c', ' ')) AS term")
      .createOrReplaceTempView("terms_sql_test")
    val hh = spark.sql(
      "SELECT inline(heavy_hitters(term, 4)) FROM terms_sql_test").collect()
    assert(hh.head.getString(0) == "a" && hh.head.getLong(1) == 3L)
    val tk = spark.sql(
      """SELECT inline(topk_by_score(s, id, 2)) FROM
         (SELECT CAST(id AS DOUBLE) AS s, id FROM range(10))""").collect()
    assert(tk.map(_.getLong(1)).toSeq == Seq(9L, 8L))
  }

  test("analysis kernels are callable from spark.sql") {
    val spark = SparkTestSession.spark
    val r = spark.sql(
      """SELECT ngram_jaccard('a b c d', 'a b c d') AS j_same,
                ngram_jaccard('a b c d', 'x y z w', 2) AS j_diff,
                size(shingle_hashes('a b c d e')) AS n_sh,
                simhash64('hello world') AS sh,
                vec_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS cos,
                quantized_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS qd""")
      .collect().head
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 0.0)
    assert(r.getInt(2) == 3) // 5 tokens, w=3 → 3 windows
    assert(r.getLong(3) == graft.functions.VecKernel.simhash64(
      org.apache.spark.unsafe.types.UTF8String.fromString("hello world")))
    assert(math.abs(r.getDouble(4) - 1.0) < 1e-9)
    assert(r.getLong(5) == 1000L * 3000 + 2000L * 4000)
    // the width knob accepts any foldable int expression
    val w = spark.sql("SELECT ngram_jaccard('a b', 'a b', length('xx')) AS j")
      .collect().head.getDouble(0)
    assert(w == 1.0)
  }

  test("every SQL function resolves at each arity; other arities and non-literal knobs are refused") {
    val spark = SparkTestSession.spark
    Seq("try_gunzip(cast('x' AS BINARY))", "lenient_ts('2026-08-12')",
      "lenient_ts('2026-08-12', 'UTC')", "kpl_deaggregate(cast('x' AS BINARY))",
      "ngram_jaccard('a b', 'a b')", "ngram_jaccard('a b', 'a b', 1)",
      "shingle_hashes('a b c')", "shingle_hashes('a b c', 2)", "normalize_text(' x ')",
      "redact_pii('x')", "pii_count('x')", "simhash64('x')",
      "vec_cosine(array(1.0F), array(1.0F))", "quantized_dot(array(1.0F), array(1.0F))",
      "heavy_hitters(t, 2) FROM VALUES ('a') AS v(t)",
      "topk_by_score(s, id, 1) FROM VALUES (1.0D, 1L) AS v(s, id)")
      .foreach(f => assert(spark.sql(s"SELECT $f").collect().length == 1, f))
    Seq("try_gunzip()", "lenient_ts('a', 'UTC', 1)", "kpl_deaggregate()",
      "ngram_jaccard('a')", "shingle_hashes('a', 1, 2)", "normalize_text()",
      "redact_pii('a', 'b')", "pii_count()", "simhash64('a', 'b')",
      "vec_cosine(array(1.0F))", "quantized_dot(array(1.0F))", "heavy_hitters('a')",
      "topk_by_score(1.0D, 1L)").foreach { f =>
      val e = intercept[Exception](spark.sql(s"SELECT $f").collect())
      assert(e.getMessage.contains("argument(s); usage:"), s"$f: ${e.getMessage}")
    }
    val e = intercept[Exception](spark.sql("SELECT shingle_hashes('a b', 'x')").collect())
    assert(e.getMessage.contains("shingle_hashes expects a literal int"), e.getMessage)
  }

  test("batch log_id dedup keeps one record per (route, id), passes id-less through") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val inputs = Seq(
      """{"log_type":"app","log_id":"dup","time":"2026-08-12T00:00:00Z","n":1}""",
      """{"log_type":"app","log_id":"dup","time":"2026-08-12T00:00:01Z","n":2}""",
      """{"log_type":"web","log_id":"dup","time":"2026-08-12T00:00:00Z"}""",
      """{"log_type":"app","time":"2026-08-12T00:00:00Z"}""",
      """{"log_type":"app","time":"2026-08-12T00:00:00Z"}""")
    val parsed = LogPipeline.parse(inputs.toDF("payload"), PipelineConfig())
    val deduped = LogPipeline.dedupeById(parsed)
    assert(deduped.count() == 4) // app/dup collapses; web/dup stays; 2 id-less stay
    assert(deduped.filter($"log_id" === "dup").count() == 2)
  }

  test("batch dedup is deterministic: same winner under any partitioning") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    // 50 keys × 4 duplicate payload renderings each; the winner must be the
    // lexicographically-least full row, independent of physical layout.
    val inputs = (0 until 50).flatMap { k =>
      Seq("d", "b", "c", "a").map { tag =>
        s"""{"log_type":"app","log_id":"id$k","time":"2026-08-12T00:00:0${k % 10}Z","tag":"$tag"}"""
      }
    }
    def winners(partitions: Int): Map[String, String] = {
      val parsed = LogPipeline.parse(
        inputs.toDF("payload").repartition(partitions), PipelineConfig())
      LogPipeline.dedupeById(parsed)
        .select($"log_id", $"raw").as[(String, String)].collect().toMap
    }
    val w1 = winners(1)
    assert(w1.size == 50)
    // every winner is the 'a'-tagged rendering (least raw string per key)
    assert(w1.values.forall(_.contains(""""tag":"a"""")))
    assert(winners(7) == w1 && winners(32) == w1)
  }
}
