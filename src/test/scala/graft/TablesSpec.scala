package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.MetadataBuilder

/** The warehouse loader: [[Tables.t]] reads a table's schema from one
  * parquet footer on the driver. Its schema must be exactly the one
  * Spark's own inference (`spark.read.parquet`, one inference job per
  * load) gives, field metadata included, and a load runs no job. */
class TablesSpec extends SparkSuite {

  private val tmp = Files.createTempDirectory("graft-tables-spec").toString

  /** The schema inference gives, through the same ts normalization. */
  private def inferred(dir: String, name: String) = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    Tables.normalizeTs(spark.read.parquet(s"$dir/$name.parquet")).schema
  }

  private def assertSameSchema(dir: String, name: String): Unit = {
    val got = Tables.t(spark, dir, name).schema
    val want = inferred(dir, name)
    assert(got == want, s"$dir/$name")
    assert(got.json == want.json, s"$dir/$name: field metadata differs")
  }

  /** A one-row `events` table written by the parquet library itself (no
    * Spark schema in its footer), with `ts` in the given encoding. */
  private def eventsWithTs(tsType: String): String = {
    val dir = s"$tmp/events-${tsType.filter(_.isLetter)}"
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 user_id; required int64 ts ($tsType); }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new Path(s"$dir/events.parquet"), spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("user_id", 7L).append("ts", 1700000000000000L))
    finally w.close()
    dir
  }

  test("t's schema equals spark.read.parquet's on every warehouse input") {
    val sf001 = new java.io.File(sf).getParent + "/sf0.01"
    for (dir <- Seq("perfbench/fixture/sf0.001", sf, sf001); n <- Tables.all)
      assertSameSchema(dir, n)
  }

  test("t's schema equals spark.read.parquet's on a Spark-written multi-part directory") {
    val keyed = new MetadataBuilder().putString("comment", "row key").build()
    val df = spark.range(0, 300, 1, 3)
      .select(col("id").as("id", keyed), (col("id") % 7).as("bucket"),
        col("id").cast("string").as("label"))
    df.write.parquet(s"$tmp/multi/parts.parquet")
    val written = new java.io.File(s"$tmp/multi/parts.parquet").list().toSet
    assert(written.contains("_SUCCESS") && written.count(_.startsWith("part-")) == 3,
      s"not a multi-part Spark output: $written")
    assertSameSchema(s"$tmp/multi", "parts")
    // with parquet summary files the schema comes from _common_metadata
    df.write.option("parquet.summary.metadata.level", "ALL")
      .parquet(s"$tmp/summary/parts.parquet")
    assert(new java.io.File(s"$tmp/summary/parts.parquet/_common_metadata").exists)
    assertSameSchema(s"$tmp/summary", "parts")
  }

  test("t's events.ts schema equals spark.read.parquet's for NANOS and MICROS NTZ files") {
    for (tsType <- Seq("TIMESTAMP(NANOS,true)", "TIMESTAMP(MICROS,false)")) {
      val dir = eventsWithTs(tsType)
      assertSameSchema(dir, "events")
      assert(Tables.t(spark, dir, "events").schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType, tsType)
    }
  }

  /** Spark jobs `body` launches on this thread. */
  private def jobsOf(body: => Unit): Int = {
    val group = s"tables-spec-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "TablesSpec")
      try body
      finally spark.sparkContext.clearJobGroup()
      org.apache.spark.sql.graftglue.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  test("registerAll runs no Spark job") {
    val jobs = jobsOf(Tables.registerAll(spark, sf))
    assert(jobs == 0, s"registerAll launched $jobs Spark jobs")
  }

  test("model and watermark loads run only their collect's jobs") {
    import graft.operators.{Curation, Ingest, Pca, Pinned}
    val weights = Array.tabulate(256)(_.toLong * 7 - 900)
    Curation.saveQualityModel(spark, weights, s"$tmp/quality")
    Pinned.pq.save(spark, s"$tmp/pq")
    Pca.pinnedModel.save(spark, s"$tmp/pca")
    Ingest.writeWatermark(spark, s"$tmp/watermark", "2024-09-03 04:05:06")
    // each load's own collect, over a read that is handed its schema
    val schemas = Seq("quality", "pq", "pca", "watermark")
      .map(n => n -> spark.read.parquet(s"$tmp/$n").schema).toMap
    def given(path: String) =
      spark.read.schema(schemas(path.stripPrefix(s"$tmp/"))).parquet(path)
    val loads = Seq[(String, () => Any, () => Any)](
      ("Curation.loadQualityModel",
        () => assert(Curation.loadQualityModel(spark, s"$tmp/quality").sameElements(weights)),
        () => given(s"$tmp/quality").select("f", "w_micro").collect()),
      ("PqModel.load",
        () => assert(graft.operators.PqModel.load(spark, s"$tmp/pq").books.length ==
          Pinned.pq.books.length),
        () => given(s"$tmp/pq").collect()),
      ("Pca.load",
        () => assert(Pca.load(spark, s"$tmp/pca").mean.sameElements(Pca.pinnedModel.mean)),
        () => given(s"$tmp/pca").collect()),
      ("Ingest.readWatermark",
        () => assert(Ingest.readWatermark(spark, s"$tmp/watermark") == "2024-09-03 04:05:06"),
        () => given(s"$tmp/watermark")
          .agg(org.apache.spark.sql.functions.max(col("watermark"))).collect()))
    val extra = loads.map { case (name, load, collect) =>
      val want = jobsOf(collect())
      assert(want > 0, name)
      (name, jobsOf(load()), want)
    }.filter { case (_, got, want) => got != want }
    assert(extra.isEmpty, extra.map { case (n, got, want) =>
      s"$n ran $got Spark jobs, its collect alone $want" }.mkString("; "))
    assert(Ingest.readWatermark(spark, s"$tmp/no-watermark") == "2024-09-01 00:00:00")
  }

  test("a missing table or one with no data file fails with Spark's AnalysisException") {
    val missing = intercept[AnalysisException](Tables.t(spark, tmp, "no_such_table"))
    assert(missing.getCondition == "PATH_NOT_FOUND", missing.getMessage)
    val empty = new java.io.File(s"$tmp/empty/none.parquet")
    empty.mkdirs()
    new java.io.File(empty, "_SUCCESS").createNewFile()
    val noData = intercept[AnalysisException](Tables.t(spark, s"$tmp/empty", "none"))
    assert(noData.getCondition == "UNABLE_TO_INFER_SCHEMA", noData.getMessage)
  }
}
