package graft.sources

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftListenerShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import graft.SparkSpec
import graft.ingest.UsgsGeoJson
import graft.jobs.{BronzeToSilver, SilverToGold}

/** The driver-side read path: resolving a table's schema submits no Spark
  * job, and the table reads exactly as a plain `spark.read.parquet`. */
class ParquetReadSpec extends SparkSpec {

  private lazy val lake = {
    val dir = Files.createTempDirectory("parquet_read_spec").toString
    UsgsGeoJson.writeBronze(s"$dir/bronze/raw.json", UsgsGeoJson.fixtureDocument())
    BronzeToSilver.run(spark, s"$dir/bronze/raw.json", s"$dir/silver").count()
    SilverToGold.run(spark, s"$dir/silver", s"$dir/gold")
    dir
  }

  private val goldTables = Seq("dim_date", "dim_location", "dim_magnitude",
    "dim_event_type", "fact_earthquake_events")

  /** Jobs submitted by this thread while `body` runs, counted after the
    * listener bus has drained. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec.read") == tag))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec.read", tag)
    try {
      val out = body
      GraftListenerShim.waitUntilListenerBusEmpty(sc)
      (out, jobs.get())
    } finally {
      sc.setLocalProperty("graft.spec.read", null)
      sc.removeSparkListener(listener)
    }
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def assertSameRead(got: DataFrame, dir: String): Unit = {
    val expected = spark.read.parquet(dir)
    assert(got.schema == expected.schema, s"schema of $dir")
    assert(sortedRows(got) == sortedRows(expected), s"rows of $dir")
  }

  test("the listener sees the inference job a plain read submits") {
    val silver = s"$lake/silver"
    val (_, jobs) = jobsDuring(spark.read.parquet(silver).schema)
    assert(jobs >= 1)
  }

  test("ParquetLake.read on partitioned silver: zero jobs, same schema and rows") {
    val silver = s"$lake/silver"
    val (df, jobs) = jobsDuring {
      val d = ParquetLake.read(spark, silver)
      d.schema
      d
    }
    assert(jobs == 0)
    assert(df.schema.fieldNames.takeRight(2).toSeq == Seq("year", "month"))
    assertSameRead(df, silver)
  }

  test("ParquetWarehouse.readTable on every gold table: zero jobs, same read") {
    val wh = new ParquetWarehouse(s"$lake/gold")
    goldTables.foreach { t =>
      val (df, jobs) = jobsDuring {
        val d = wh.readTable(spark, t)
        d.schema
        d
      }
      assert(jobs == 0, s"$t submitted $jobs job(s)")
      assertSameRead(df, s"$lake/gold/$t")
    }
  }

  test("GraftCatalog.registerGold: zero jobs, views read as the tables") {
    val gold = s"$lake/gold"
    val (_, jobs) = jobsDuring {
      GraftCatalog.registerGold(spark, gold)
      goldTables.foreach(t => spark.table(t).schema)
    }
    assert(jobs == 0)
    goldTables.foreach(t => assertSameRead(spark.table(t), s"$gold/$t"))
  }

  test("the footer schema follows Spark's pick across several roots") {
    import spark.implicits._
    val dir = Files.createTempDirectory("parquet_read_roots").toString
    Seq((1, "a")).toDF("k", "v").write.parquet(s"$dir/b")
    Seq((2L, 3.0)).toDF("k", "w").write.parquet(s"$dir/a")
    val paths = Seq(s"$dir/b", s"$dir/a")
    val (df, jobs) = jobsDuring {
      val d = ParquetRead(spark, paths)
      d.schema
      d
    }
    assert(jobs == 0)
    assert(df.schema == spark.read.parquet(paths: _*).schema)
    assert(df.schema.fieldNames.toSeq == Seq("k", "w"))
  }

  test("an explicit schema is used as given") {
    import spark.implicits._
    val dir = s"${Files.createTempDirectory("parquet_read_explicit")}/t"
    Seq((1, "a")).toDF("k", "v").write.parquet(dir)
    val wider = spark.read.parquet(dir).schema
      .add("extra", org.apache.spark.sql.types.LongType)
    val df = ParquetRead(spark, Seq(dir), Some(wider))
    assert(df.schema == spark.read.schema(wider).parquet(dir).schema)
    assert(df.collect().map(_.isNullAt(2)).toSeq == Seq(true))
  }
}
