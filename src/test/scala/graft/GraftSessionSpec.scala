package graft

import org.apache.spark.SparkConfDefaults

/** The effective value of every key [[GraftSession]] decides, including
  * the two it leaves at Spark's default (`spark.sql.adaptive.enabled`,
  * `spark.shuffle.sort.bypassMergeThreshold`): a session built by it runs
  * with exactly these values. */
class GraftSessionSpec extends SparkSpec {

  /** The session's value, else the context's, else Spark's default. */
  private def effective(key: String): Option[String] =
    spark.conf.getOption(key)
      .orElse(spark.sparkContext.getConf.getOption(key))
      .orElse(SparkConfDefaults.of(key))

  private val expected = Map(
    // the suites' session is local[4]; the env override is a deployment knob
    "spark.sql.shuffle.partitions" ->
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "4"),
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.dataFrameQueryContext.enabled" -> "false",
    "spark.ui.enabled" -> "false",
    "spark.ui.retainedJobs" -> "100",
    "spark.ui.retainedStages" -> "100",
    "spark.ui.retainedTasks" -> "1000",
    "spark.sql.ui.retainedExecutions" -> "8",
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    "spark.hadoop.fs.file.impl" -> "graft.sources.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "graft.sources.NioLocalFs",
    "spark.shuffle.sort.bypassMergeThreshold" -> "200")

  test("every key GraftSession decides keeps its effective value") {
    expected.foreach { case (key, value) =>
      assert(effective(key).contains(value), s"$key = ${effective(key)}")
    }
    assert(spark.sparkContext.master == "local[4]")
    assert(effective("spark.sql.warehouse.dir").exists(_.contains("graft_warehouse_")))
  }
}
