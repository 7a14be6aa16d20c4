package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Sources
import graft.streaming.Streams

/** `Sources.readParquet` takes its schema from one footer on the driver:
  * the frame must carry exactly the schema (and rows) Spark's own inference
  * gives, and building it must submit no Spark job. */
class ReadParquetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Marker = "graft.readParquetSpec.marker"

  /** jobs submitted while `body` runs. Listener events arrive
    * asynchronously, so a marker job runs after `body` and the count stops
    * at the marker's start: every job `body` submitted was posted before it. */
  private def jobsDuring[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Marker) != null)
          fenced.countDown()
        else if (fenced.getCount > 0)
          seen.add(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short")))
            .getOrElse(s"job ${e.jobId}"))
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty(Marker, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(Marker, null)
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the marker job")
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** readParquet ≡ an inferring read in schema and rows, with zero jobs. */
  private def assertParity(path: String): Unit = {
    val (df, jobs) = jobsDuring(Sources.readParquet(spark, path))
    assert(jobs.isEmpty, s"readParquet($path) ran jobs: $jobs")
    val inferred = spark.read.parquet(path)
    assert(df.schema == inferred.schema, path)
    assert(Sources.parquetSchema(spark, path) == inferred.schema, path)
    assert(df.count() == inferred.count(), path)
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("fixture tables: inferred schema and row count, no job") {
    val sfDirs = Option(new java.io.File(TestSpark.fixtures).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(d => d.isDirectory && d.getName.startsWith("sf"))
      .map(_.getPath).sorted
    assume(sfDirs.nonEmpty, "no fixture dirs")
    val tables = Seq("region", "nation", "supplier", "customer", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    for (dir <- sfDirs; t <- tables) assertParity(s"$dir/$t.parquet")
  }

  test("partitioned dir: partition columns from the paths, no job") {
    val dir = tmp("graft_rp_part") + "/t"
    Sources.writeParquet(
      Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "a", 3.5)).toDF("id", "tag", "x"),
      dir, partitionBy = Seq("tag"))
    assert(Files.exists(Paths.get(dir, "_SUCCESS")))
    assertParity(dir)
    assert(Sources.readParquet(spark, dir).schema.fieldNames.toSeq ==
      Seq("id", "x", "tag"))
  }

  test("first file in full-path order: `k=a-b/` sorts before `k=a/`") {
    // the two partitions hold different data schemas, so the footer read
    // decides the schema; inference reads the first file by path string,
    // where '-' (0x2D) precedes '/' (0x2F)
    val dir = tmp("graft_rp_order") + "/t"
    Sources.writeParquet(Seq((1L, "a")).toDF("id", "k"), dir,
      partitionBy = Seq("k"), mode = SaveMode.Append)
    Sources.writeParquet(Seq((2L, "e", "a-b")).toDF("id", "extra", "k"), dir,
      partitionBy = Seq("k"), mode = SaveMode.Append)
    assertParity(dir)
    assert(Sources.readParquet(spark, dir).schema.fieldNames.toSeq ==
      Seq("id", "extra", "k"))
  }

  test("bucketed saveAsTable location reads like an inferred scan") {
    val table = "graft_rp_bucketed"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    Sources.writeBucketed((1L to 40L).map(i => (i, s"v$i")).toDF("id", "v"),
      table, "id", 4)
    try {
      val loc = spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(table)).location
      assertParity(new org.apache.hadoop.fs.Path(loc).toString)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("streaming parquet-sink output with _spark_metadata") {
    val in = tmp("graft_rp_sin")
    val out = tmp("graft_rp_sout") + "/sink"
    (1L to 30L).map(i => (i, i * 2)).toDF("id", "v")
      .repartition(2).write.mode("append").parquet(in)
    Streams.runFileStreamOnce(spark, in, out, tmp("graft_rp_ckpt"),
      (df: DataFrame) => df.filter(col("v") > 10))
    assert(Files.isDirectory(Paths.get(out, "_spark_metadata")))
    assertParity(out)
    assert(Sources.readParquet(spark, out).count() == 25)
  }

  test("missing path and dir without a data file fail with the path") {
    val missing = tmp("graft_rp_missing") + "/nothing_here"
    val e1 = intercept[java.io.FileNotFoundException](
      Sources.readParquet(spark, missing))
    assert(e1.getMessage.contains(missing))
    val empty = tmp("graft_rp_empty")
    Files.createFile(Paths.get(empty, "_SUCCESS"))
    Files.createFile(Paths.get(empty, ".part-0.parquet.crc"))
    val e2 = intercept[java.io.FileNotFoundException](
      Sources.readParquet(spark, empty))
    assert(e2.getMessage.contains(empty))
  }

  test("building frame_ops queries runs no job before the action") {
    val dir = s"${TestSpark.fixtures}/sf0.001"
    assume(Files.isDirectory(Paths.get(dir)), s"$dir missing")
    val registry = SparkEntry.queries
    for (q <- Seq("q_add_column", "q_join_left", "q_group_agg")) {
      val (df, jobs) = jobsDuring(registry(q)(spark, dir))
      assert(jobs.isEmpty, s"$q ran ${jobs.size} job(s) while building: $jobs")
      assert(df.count() > 0, q)
    }
  }
}
