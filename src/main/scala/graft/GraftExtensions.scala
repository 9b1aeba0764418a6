package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.graftglue.{columnOf, expressionOf, scalaUdfOf}
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{DotProduct, VectorExprs}

/** Session-extension entry point. SQL reaches graft two ways: a whole
  * registered operator through the `graft_query('<name>')` table
  * function that [[Tables.registerAll]] binds to its table directory
  * ([[queryFunction]]), and the three kernels SQL text calls inline as
  * scalar functions ([[sqlFunctions]]). This is the reference's
  * delegated-SQL seam (README.md:2 hands its analytics to BigQuery as
  * SQL strings) done natively; `GraftExtensionsSpec` pins the function
  * list to the names `SparkEntry.sparkSql` calls. Two planner
  * [[GraftExtensions.strategies]] ride along: top-k per group, and
  * small global sorts in one partition.
  *
  * Activate with:
  * {{{
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)          // programmatic, or
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[DotProduct].getName, name),
        builder))
    }
    GraftExtensions.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
  }
}

object GraftExtensions {
  /** The planner strategies graft adds: [[graft.plans.TopKStrategy]]
    * plans the custom top-k-per-group node (partial and final bounded
    * heaps around a hash exchange), and [[graft.plans.SmallSort]] plans
    * a global sort of an input AQE would coalesce into one partition
    * in that one partition, without the range sampler's job. */
  private[graft] val strategies: Seq[SparkStrategy] =
    Seq(graft.plans.TopKStrategy, graft.plans.SmallSort)

  private[graft] val dotBuilder: Seq[Expression] => Expression = children => {
    require(children.length == 2, "graft_dot(arrayA, arrayB) takes 2 arguments")
    // Cast to array<double> so SQL callers can pass array<float>/array<int>
    // (DotProduct itself rejects non-double storage at analysis time);
    // non-array arguments fail Cast's own analysis check.
    val widened = children.map(Cast(_, ArrayType(DoubleType)))
    DotProduct(widened.head, widened(1))
  }

  /** The graft kernels that SQL text calls: `graft_dot` (cosine
    * scores), `graft_nibble_hist` (media byte histograms) and
    * `graft_unigram_segment_unk` (unigram-LM encoding). Each wraps the
    * kernel the DataFrame operators call, so SQL and DataFrame forms
    * share one implementation. */
  private[graft] val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> dotBuilder,
    // 16 high-nibble byte counts of a binary payload (array<bigint>)
    "graft_nibble_hist" -> { children =>
      require(children.length == 1, "graft_nibble_hist(payload) takes 1 argument")
      expressionOf(VectorExprs.nibbleHistogram(columnOf(children.head)))
    },
    // unigram-LM Viterbi segmentation of a word under a (pieces,
    // scores) table; out-of-vocab single chars fall back to `unk`
    "graft_unigram_segment_unk" -> { children =>
      require(children.length == 4,
        "graft_unigram_segment_unk(word, pieces, scores, unk) takes 4 arguments")
      scalaUdfOf(graft.operators.TextOps.unigramSegmentUnkUdf, children)
    })

  /** The `graft_query('<name>')` table function over the tables in
    * `dir`: the analyzed plan of `SparkEntry.queries(name)(spark, dir)`,
    * so SQL composes with the operator itself (joins, filters,
    * aggregates over it) instead of replaying it as relational text.
    * The name is looked up when the function is called; registering
    * the builder runs no job and builds no operator. A missing or
    * unknown name, a non-literal or non-string argument, or a number
    * of arguments other than one fails analysis with the value named. */
  private[graft] def queryFunction(spark: SparkSession,
                                   dir: String): Seq[Expression] => LogicalPlan = {
    case Seq(Literal(name: UTF8String, _: StringType)) =>
      val build = SparkEntry.queries.getOrElse(name.toString,
        throw new IllegalArgumentException(
          s"graft_query: '$name' is not a key of SparkEntry.queries"))
      build(spark, dir).queryExecution.analyzed
    case Seq(arg) => throw new IllegalArgumentException(
      s"graft_query: the query name must be a STRING literal, got ${arg.sql}")
    case args => throw new IllegalArgumentException(
      s"graft_query takes 1 argument (a query name), got ${args.length}: " +
        args.map(_.sql).mkString("(", ", ", ")"))
  }

  /** Attach graft to an already-running session (the extensions path
    * only applies when the session is first built): register the same
    * [[sqlFunctions]] the extension class injects, install the planner
    * [[strategies]] it injects, and route `file://`
    * I/O through the fork-free [[graft.io.LocalFs]]. [[LocalSession]]
    * calls it for every main and the spec suite. Idempotent. */
  def register(spark: SparkSession): Unit = {
    sqlFunctions.foreach { case (name, builder) =>
      org.apache.spark.sql.graftglue.registerFunction(spark, name, builder)
    }
    val installed = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = installed ++ strategies.filterNot(installed.contains)
    graft.io.LocalFs.install(spark.sparkContext.hadoopConfiguration)
  }
}
