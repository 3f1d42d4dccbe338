package graft

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.gfn

/** SparkSessionExtensions hook: makes the engine's custom expressions
  * available to plain `spark.sql(...)` users via
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * or the session builder's `withExtensions(new GraftExtensions)`. This is the
  * idiomatic extension seam — no session-state mutation, works on connect-
  * style deployments, and survives session cloning.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(e: SparkSessionExtensions): Unit =
    for (SqlFunction(name, usage, build) <- functions) {
      val info = new ExpressionInfo(classOf[GraftExtensions].getName, "", name, usage,
        "", "", "", "", "", "", "built-in")
      e.injectFunction((FunctionIdentifier(name), info, (es: Seq[Expression]) =>
        build.lift(es.map(ColumnBridge.column)) match {
          // the analyzer wraps a bare AggregateFunction itself (and applies
          // DISTINCT/FILTER), so hand it the function, not gfn's wrapper
          case Some(c) => ColumnBridge.expression(c) match {
            case agg: AggregateExpression => agg.aggregateFunction
            case other => other
          }
          case None => throw new IllegalArgumentException(
            s"$name does not take ${es.size} argument(s); usage: $usage")
        }))
    }
}

object GraftExtensions {
  /** One SQL function: its name, its usage line, and a builder over the
    * argument list (one case per accepted arity) calling the same `gfn`
    * function as the Column API.
    */
  private case class SqlFunction(name: String, usage: String,
                                 build: PartialFunction[Seq[Column], Column])

  /** The static knobs (shingle width, counter count, k) must be foldable ints. */
  private def intLit(c: Column, name: String): Int = ColumnBridge.expression(c).eval() match {
    case i: Int => i
    case other => throw new IllegalArgumentException(s"$name expects a literal int, got $other")
  }

  private val functions: Seq[SqlFunction] = Seq(
    SqlFunction("try_gunzip", "try_gunzip(bin) - inflate gzip values, pass through others",
      { case Seq(b) => gfn.try_gunzip(b) }),
    SqlFunction("lenient_ts", "lenient_ts(str[, zone]) - dateutil-grade timestamp parse", {
      case Seq(t) => gfn.lenient_ts(t)
      case Seq(t, z) => gfn.lenient_ts(t, ColumnBridge.expression(z).eval().toString)
    }),
    SqlFunction("kpl_deaggregate", "kpl_deaggregate(bin) - explode KPL aggregate records",
      { case Seq(b) => gfn.kpl_deaggregate(b) }),
    SqlFunction("ngram_jaccard",
      "ngram_jaccard(a, b[, w]) - exact w-token-shingle Jaccard of two texts", {
        case Seq(a, b) => gfn.ngram_jaccard(a, b)
        case Seq(a, b, w) => gfn.ngram_jaccard(a, b, intLit(w, "ngram_jaccard"))
      }),
    SqlFunction("shingle_hashes",
      "shingle_hashes(text[, w]) - distinct 31-bit hashed w-token shingles", {
        case Seq(t) => gfn.shingle_hashes(t)
        case Seq(t, w) => gfn.shingle_hashes(t, intLit(w, "shingle_hashes"))
      }),
    SqlFunction("normalize_text",
      "normalize_text(text) - NFC + control-strip + whitespace-collapse + trim",
      { case Seq(t) => gfn.normalize_text(t) }),
    SqlFunction("redact_pii", "redact_pii(text) - emails/IPv4/phones -> <EMAIL>/<IP>/<PHONE>",
      { case Seq(t) => gfn.redact_pii(t) }),
    SqlFunction("pii_count", "pii_count(text) - number of PII matches redact_pii would replace",
      { case Seq(t) => gfn.pii_count(t) }),
    SqlFunction("simhash64", "simhash64(text) - 64-bit SimHash over whitespace tokens",
      { case Seq(t) => gfn.simhash64(t) }),
    SqlFunction("heavy_hitters",
      "heavy_hitters(term, m) - SpaceSaving m-counter frequent-items summary",
      { case Seq(t, m) => gfn.heavy_hitters(t, intLit(m, "heavy_hitters")) }),
    SqlFunction("topk_by_score",
      "topk_by_score(score, id, k) - bounded per-group top-k (partial-agg)",
      { case Seq(s, i, k) => gfn.topk_by_score(s, i, intLit(k, "topk_by_score")) }),
    SqlFunction("vec_cosine", "vec_cosine(a, b) - cosine similarity of two float arrays",
      { case Seq(a, b) => gfn.vec_cosine(a, b) }),
    SqlFunction("quantized_dot", "quantized_dot(a, b) - integer-quantized (x1000) dot product",
      { case Seq(a, b) => gfn.quantized_dot(a, b) }))
}
