package graft.run

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
import graft.GraftSession
import graft.ingest.UsgsGeoJson
import graft.jobs.{BronzeToSilver, SilverToGold, TrainTsunamiModel}

/** The reference's 4-task DAG (dags/earthquake_etl_dag.py:80-131) as a plain
  * sequenced main: ingest → bronze-to-silver → silver-to-gold → train.
  * Lake root defaults to a temp dir; override with GRAFT_LAKE_DIR
  * (config-via-env like the reference's GCS_BUCKET_NAME, SURVEY §2.12 X3).
  * Each stage runs under the reference's per-task retry policy
  * (retries=5, dags/earthquake_etl_dag.py:106,115,125).
  */
object PipelineMain {

  /** Bounded per-task retry (the orchestrator semantics of the reference's
    * `retries=5`): a stage body that throws is re-run up to `retries` more
    * times; the final failure propagates. Only non-fatal errors are
    * retried: an interrupt or a `VirtualMachineError` propagates on the
    * first attempt, since re-running cannot cure it. Stages are idempotent
    * (overwrite sinks), so a re-run after partial progress is safe — the
    * same property the reference relies on for its Airflow retries. */
  def withRetries[T](taskId: String, retries: Int = 5)(body: => T): T = {
    var attempt = 0
    var out: Option[T] = None
    while (out.isEmpty) {
      try out = Some(body)
      catch {
        case NonFatal(e) if attempt < retries =>
          attempt += 1
          System.err.println(
            s"[pipeline] task $taskId attempt $attempt/$retries failed: " +
            s"${e.getMessage}; retrying")
      }
    }
    out.get
  }

  def main(args: Array[String]): Unit = {
    val lake = sys.env.getOrElse("GRAFT_LAKE_DIR",
      java.nio.file.Files.createTempDirectory("graft_lake").toString)
    val spark: SparkSession = GraftSession.local()
    try {
      val bronzePath = s"$lake/bronze/raw_earthquakes.json"
      withRetries("fetch_earthquake_data") { UsgsGeoJson.writeBronze(bronzePath) }
      println(s"[pipeline] bronze written: $bronzePath")

      val silver = withRetries("process_bronze_to_silver") {
        BronzeToSilver.run(spark, bronzePath, s"$lake/silver/earthquakes_cleaned")
      }
      println(s"[pipeline] silver rows: ${silver.count()}")

      val gold = withRetries("process_silver_to_gold") {
        SilverToGold.run(spark, s"$lake/silver/earthquakes_cleaned", s"$lake/gold")
      }
      gold.foreach { case (n, df) => println(s"[pipeline] gold.$n rows: ${df.count()}") }

      val res = withRetries("train_tsunami_model") {
        TrainTsunamiModel.run(spark, silver, Some(s"$lake/ml_models/tsunami_rf"))
      }
      println(f"[pipeline] model AUC-ROC=${res.aucRoc}%.4f F1=${res.f1}%.4f")
      res.predictions.write.mode("overwrite").parquet(s"$lake/gold/tsunami_predictions")
      println(s"[pipeline] predictions rows: ${res.predictions.count()}")
    } finally spark.stop()
  }
}
