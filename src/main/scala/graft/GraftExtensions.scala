package graft

import graft.functions.{FloatVectorDot, MaxSimScore, StringNgrams, TokenLcp}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.Bridge

/** SparkSessionExtensions entry point: exposes the engine's native Catalyst
  * expressions to SQL users.
  *
  * Build-time: `--conf spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`). A live session (`Probe`,
  * `SourcesAndExtensionsSpec`) calls [[GraftExtensions.register]].
  *
  *  - `float_dot(a, b)` — codegen'd float-vector dot product in double.
  *  - `ngrams_ws(words, n)` — space-joined word n-grams (compiled loop).
  *
  * Also injects the optimizer rules (`CollapseNgramCount`,
  * `RewriteTopKWindow` — the row_number()≤k idiom becomes the native
  * bounded top-k operator) and the planner strategies for the three custom
  * operators (`AsOfJoinStrategy`, `TopKPerGroupStrategy`,
  * `PartitionUnionFindStrategy`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => graft.plans.CollapseNgramCount)
    e.injectOptimizerRule(_ => graft.plans.RewriteTopKWindow)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    e.injectPlannerStrategy(_ => graft.plans.PartitionUnionFindStrategy)
    e.injectFunction((FunctionIdentifier("float_dot"),
      GraftExtensions.info("float_dot", "float_dot(a, b) - dot product of two float arrays, accumulated in double"),
      GraftExtensions.floatDotBuilder))
    e.injectFunction((FunctionIdentifier("ngrams_ws"),
      GraftExtensions.info("ngrams_ws", "ngrams_ws(words, n) - space-joined word n-grams"),
      GraftExtensions.ngramsBuilder))
    e.injectFunction((FunctionIdentifier("maxsim_score"),
      GraftExtensions.info("maxsim_score", "maxsim_score(qv, qsn, v, sn, subs, subdim) - compiled late-interaction MaxSim score"),
      GraftExtensions.maxsimBuilder))
    e.injectFunction((FunctionIdentifier("token_lcp"),
      GraftExtensions.info("token_lcp", "token_lcp(a, b, pa, pb) - common-prefix token count of two array suffixes"),
      GraftExtensions.tokenLcpBuilder))
  }
}

object GraftExtensions {
  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private val floatDotBuilder: Seq[Expression] => Expression =
    args => FloatVectorDot(args(0), args(1))

  private def litInt(e: Expression, what: String): Int = e.eval() match {
    case i: Int => i
    case l: Long => l.toInt
    case other => sys.error(s"$what must be a literal integer, got $other")
  }

  private val maxsimBuilder: Seq[Expression] => Expression = args =>
    MaxSimScore(args(0), args(1), args(2), args(3),
      litInt(args(4), "maxsim_score: subs"), litInt(args(5), "maxsim_score: subdim"))

  private val tokenLcpBuilder: Seq[Expression] => Expression = args =>
    TokenLcp(args(0), args(1), args(2), args(3))

  private val ngramsBuilder: Seq[Expression] => Expression = args =>
    StringNgrams(args(0), litInt(args(1), "ngrams_ws: n"))

  /** Register the engine's SQL functions on an already-built session. */
  def register(spark: SparkSession): Unit = {
    Bridge.registerFunction(spark, "float_dot", floatDotBuilder)
    Bridge.registerFunction(spark, "ngrams_ws", ngramsBuilder)
    Bridge.registerFunction(spark, "maxsim_score", maxsimBuilder)
    Bridge.registerFunction(spark, "token_lcp", tokenLcpBuilder)
  }
}
