package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL front-end: register the lake's tables as temp views so users can run
  * plain `spark.sql` against the same names the DuckDB oracle uses —
  * `spark.sql("SELECT ... FROM lineitem JOIN orders ...")`. The views are
  * lazy scans; all Catalyst pushdown/pruning applies unchanged. */
object GraftCatalog {

  val testdataTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every testdata table (events exposed with its normalized
    * `event_time` timestamp alongside the raw nano `ts`). */
  def registerTestdata(spark: SparkSession, dir: String): Unit =
    testdataTables.foreach {
      case "events" => Tables.events(spark, dir).createOrReplaceTempView("events")
      case t => Tables(spark, dir, t).createOrReplaceTempView(t)
    }

  /** Register a gold star schema's tables under their warehouse names. */
  def registerGold(spark: SparkSession, goldDir: String,
                   tables: Seq[String] = Seq("dim_date", "dim_location",
                     "dim_magnitude", "dim_event_type", "fact_earthquake_events")): Unit =
    tables.foreach { t =>
      ParquetRead(spark, Seq(s"$goldDir/$t")).createOrReplaceTempView(t)
    }
}
