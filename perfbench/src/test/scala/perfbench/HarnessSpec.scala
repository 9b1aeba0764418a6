package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("tail is the median of the passes' slowest operations, whatever the pass count") {
    val passes = Seq(Seq(1.0, 5.0, 2.0), Seq(4.0, 1.0, 1.0), Seq(2.0, 2.0, 6.0))
    assert(Stats.tail(passes) == 5.0)
    // more passes like these neither raise nor lower it
    assert(Stats.tail(passes :+ Seq(1.0, 5.0, 1.0)) == 5.0)
    assert(Stats.tail(passes ++ passes) == 5.0)
    // a pass whose operations all failed has no sample
    assert(Stats.tail(passes :+ Nil) == 5.0)
  }

  test("self time subtracts the union of the children, clipped to the parent") {
    val spans = Seq(
      (1L, 0L, 0L, 100L),
      (2L, 1L, 10L, 30L), (3L, 1L, 20L, 50L), // overlap: covered 10..50
      (4L, 1L, 70L, 80L),
      (5L, 4L, 75L, 90L), // grandchild overruns its parent: clipped to 75..80
      (6L, 0L, 200L, 210L))
    val self = Stats.selfTimes(spans)
    assert(self(1L) == 100 - 40 - 10)
    assert(self(2L) == 20 && self(3L) == 30)
    assert(self(4L) == 10 - 5)
    assert(self(5L) == 15 && self(6L) == 10)
  }

  test("fingerprint ignores column order and row order, not values") {
    val a = Seq(Row(1L, "x", 0.12341), Row(2L, "y", null), Row(3L, "z", 2.5))
    val fa = Stats.fingerprint(Seq("id", "name", "score"), a)
    val b = Seq(Row(null, 2L, "y"), Row(2.5, 3L, "z"), Row(0.12339, 1L, "x"))
    assert(Stats.fingerprint(Seq("score", "id", "name"), b) == fa)
    assert(Stats.fingerprint(Seq("id", "name", "score"), a.reverse) == fa)
    val c = Seq(Row(1L, "x", 0.1236), Row(2L, "y", null), Row(3L, "z", 2.5))
    assert(Stats.fingerprint(Seq("id", "name", "score"), c) != fa)
    assert(Stats.fingerprint(Seq("id", "name", "score"), a.take(2))._1 == 2L)
    // a renamed column is a different result
    assert(Stats.fingerprint(Seq("id", "label", "score"), a) != fa)
  }

  test("jobs are attributed to the span whose local property launched them") {
    val spark = SparkSession.builder().master("local[2]").appName("harness-spec")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      val tr = new Tracer(spark)
      tr.active = true
      val sc = spark.sparkContext
      // a toy two-job query: a build phase that collects, then a drive
      val (build, drive) = tr.span("query:toy") {
        val built = tr.span("build:Toy") {
          val keys = sc.parallelize(1 to 100, 4).map(_ % 7).distinct().collect()
          (tr.current, keys.length)
        }
        val driven = tr.span("drive") {
          sc.parallelize(1 to 1000, 4).map(i => (i % built._2, i)).reduceByKey(_ + _).count()
          tr.current
        }
        (built._1, driven)
      }
      // a second job over the drive's shuffle: its map stage is skipped
      val reused = tr.span("drive") {
        val pairs = sc.parallelize(1 to 100, 2).map(i => (i % 3, i)).reduceByKey(_ + _)
        pairs.count(); pairs.count()
        tr.current
      }
      sc.parallelize(1 to 10).count() // outside every span
      tr.fence()
      val bySpan = tr.execBySpan
      assert(bySpan(build).jobs == 1 && bySpan(drive).jobs == 1)
      assert(bySpan(drive).stages == 2 && bySpan(drive).tasks == 8)
      assert(bySpan(drive).skippedStages == 0)
      assert(bySpan(reused).jobs == 2 && bySpan(reused).stages == 3 &&
        bySpan(reused).skippedStages == 1)
      assert(bySpan(0L).jobs == 1)
      val root = tr.allSpans.find(_.name == "query:toy").get
      assert(!bySpan.contains(root.id))
      assert(tr.allSpans.filter(_.parent == root.id).map(_.name) == Seq("build:Toy", "drive"))
      tr.active = false
    } finally spark.stop()
  }
}
