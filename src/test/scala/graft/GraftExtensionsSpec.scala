package graft

import java.net.URI

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileContext, FileSystem}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.execution.SparkStrategy

import graft.io.{NioLocalFileSystem, NioLocalFs}
import graft.plans.TopKStrategy

/** The one attach call: a [[LocalSession]] carries every graft SQL
  * function, the top-k planner strategy and the fork-free `file://`,
  * and the extension class injects the same functions from the same
  * list. */
class GraftExtensionsSpec extends SparkSuite {

  private val names = GraftExtensions.sqlFunctions.map(_._1)

  /** Everything [[GraftExtensions.register]] attaches, as the session sees it. */
  private def attached = {
    val registry = spark.sessionState.functionRegistry
    val conf = spark.sparkContext.hadoopConfiguration
    (names.map(n => n -> registry.lookupFunctionBuilder(FunctionIdentifier(n))),
      registry.listFunction().toSet,
      spark.experimental.extraStrategies,
      conf.get("fs.file.impl"), conf.get("fs.AbstractFileSystem.file.impl"),
      FileSystem.get(URI.create("file:///"), conf))
  }

  test("a LocalSession resolves every graft SQL function, has TopKStrategy installed once and runs file:// fork-free") {
    val registry = spark.sessionState.functionRegistry
    val missing = names.filterNot(n => registry.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"not registered: $missing")
    assert(spark.experimental.extraStrategies.count(_ == TopKStrategy) == 1)
    val root = URI.create("file:///")
    assert(FileSystem.get(root, spark.sparkContext.hadoopConfiguration).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(root, spark.sessionState.newHadoopConf())
      .getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("a second register changes nothing") {
    val before = attached
    GraftExtensions.register(spark)
    assert(attached == before)
  }

  test("the extension class injects exactly the functions register installs, and TopKStrategy") {
    val injected = ArrayBuffer.empty[String]
    val strategies = ArrayBuffer.empty[SparkStrategy]
    new GraftExtensions().apply(new SparkSessionExtensions {
      override def injectFunction(
          f: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)): Unit =
        injected += f._1.funcName
      override def injectPlannerStrategy(b: SparkSession => SparkStrategy): Unit =
        strategies += b(spark)
    })
    assert(injected.toSeq == names)
    assert(names.distinct == names)
    assert(strategies.toSeq == Seq(TopKStrategy))
  }

  test("the registered SQL functions are exactly the graft functions SparkEntry.sparkSql calls") {
    val called = SparkEntry.sparkSql.values
      .flatMap("""graft_[a-z0-9_]+(?=\()""".r.findAllIn(_))
      .toSet - "graft_query"
    assert(called == names.toSet)
  }
}
