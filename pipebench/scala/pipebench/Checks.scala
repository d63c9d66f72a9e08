package pipebench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.sources.{LakeFormat, ParquetWarehouse}

/** Counts every layer call, visual and output check, and what failed. A
  * failed or thrown item fails the run; its time is never recorded. */
final class Ledger {
  private var attemptedN = 0L
  private var failedN = 0L
  val failures: ArrayBuffer[String] = ArrayBuffer.empty

  def attempted: Long = synchronized(attemptedN)
  def failed: Long = synchronized(failedN)

  def call[T](what: String)(body: => T): Option[T] = {
    synchronized(attemptedN += 1)
    try Some(body)
    catch {
      case NonFatal(e) =>
        fail(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  def check(what: String, ok: Boolean, detail: => String): Unit = synchronized {
    attemptedN += 1
    if (!ok) { failedN += 1; failures += s"$what: $detail" }
  }

  private def fail(msg: String): Unit = synchronized { failedN += 1; failures += msg }
}

/** Output checks, run outside every timed span. */
object Checks {

  /** Spark SQL twin of [[Expect.silverLine]]. */
  val silverPrintSql: String =
    """sum(crc32(concat_ws('|', event_id,
      |  cast(unix_micros(event_timestamp_utc) as string),
      |  cast(unix_micros(updated_timestamp_utc) as string),
      |  cast(cast(round(magnitude * 100) as bigint) as string),
      |  cast(cast(round(depth_km * 100) as bigint) as string),
      |  cast(cast(round(latitude * 10000) as bigint) as string),
      |  cast(cast(round(longitude * 10000) as bigint) as string),
      |  magnitude_category, depth_category, hemisphere_ns, hemisphere_ew,
      |  cast(year as string), cast(month as string), cast(day as string),
      |  cast(hour as string), cast(day_of_week as string),
      |  extracted_region_detail, extracted_country,
      |  cast(tsunami_warning as string), coalesce(magType, '~'), event_type,
      |  cast(coalesce(significance, -1) as string))))""".stripMargin

  /** Spark SQL twin of [[Expect.factLine]]. */
  val factPrintSql: String =
    """sum(crc32(concat_ws('|', EventID, cast(DateKey as string),
      |  cast(cast(round(Magnitude * 100) as bigint) as string),
      |  cast(cast(round(DepthKm * 100) as bigint) as string),
      |  cast(TsunamiWarning as string),
      |  cast(coalesce(Significance, -1) as string))))""".stripMargin

  private def one(df: DataFrame, exprs: String*): Row = df.selectExpr(exprs: _*).head()

  /** Silver, the five gold tables and the predictions of one pipeline pass
    * against the generator's expectations. */
  def pipeline(spark: SparkSession, ledger: Ledger, exp: Expect.Outputs,
               lake: LakeFormat, silverPath: String, goldPath: String,
               predictionsPath: String): Unit = {
    def eq(what: String, got: Any, want: Any): Unit =
      ledger.check(what, got == want, s"got $got, expected $want")
    ledger.call("check silver") {
      val r = one(lake.read(spark, silverPath), "count(*)", silverPrintSql)
      eq("silver rows", r.getLong(0), exp.silver.size.toLong)
      eq("silver fingerprint", r.getLong(1), exp.silverPrint)
    }
    val wh = new ParquetWarehouse(goldPath)
    ledger.call("check gold") {
      val d = one(wh.readTable(spark, "dim_date"), "count(*)", "min(DateKey)")
      eq("dim_date rows", d.getLong(0), exp.dimDateRows)
      eq("dim_date first key", d.getInt(1), exp.dimDateFirst)
      eq("dim_location rows", wh.readTable(spark, "dim_location").count(), exp.dimLocationRows)
      eq("dim_magnitude rows", wh.readTable(spark, "dim_magnitude").count(), 8L)
      eq("dim_event_type rows", wh.readTable(spark, "dim_event_type").count(), exp.dimEventTypeRows)
      val f = one(wh.readTable(spark, "fact_earthquake_events"), "count(*)", factPrintSql)
      eq("fact rows", f.getLong(0), exp.factRows)
      eq("fact fingerprint", f.getLong(1), exp.factPrint)
    }
    ledger.call("check predictions") {
      val p = one(spark.read.parquet(predictionsPath), "count(*)",
        "count_if(actual_tsunami_warning)", "count_if(tsunami_probability between 0 and 1)")
      eq("prediction rows", p.getLong(0), exp.predictionRows)
      eq("prediction positives", p.getLong(1), exp.predictionPositives)
      eq("probabilities in [0,1]", p.getLong(2), exp.predictionRows)
    }
  }

  /** One page's visual results against the expected fact under its state. */
  def page(ledger: Ledger, exp: Expect.Outputs, state: Slicers.State,
           results: Map[String, Array[Row]]): Unit = {
    val want = Expect.cards(exp.fact, state)
    def cell(v: String): Option[Row] = results.get(v).flatMap(_.headOption)
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    def opt(r: Row): Option[Double] = if (r.isNullAt(0)) None else Some(r.getDouble(0))
    def card(v: String, ok: Row => Boolean, detail: Row => String): Unit =
      cell(v).foreach(r => ledger.check(s"$v [$state]", ok(r), detail(r)))

    card("totalEvents", _.getLong(0) == want.total, r => s"got ${r.getLong(0)}, expected ${want.total}")
    card("tsunamiWarningsIssued", _.getLong(0) == want.warnings,
      r => s"got ${r.getLong(0)}, expected ${want.warnings}")
    card("avgMagnitude", r => (opt(r), want.avgMag) match {
      case (Some(a), Some(b)) => close(a, b)
      case (a, b) => a == b
    }, r => s"got ${opt(r)}, expected ${want.avgMag}")
    card("maxMagnitude", r => opt(r) == want.maxMag, r => s"got ${opt(r)}, expected ${want.maxMag}")

    def total(v: String, col: Int): Unit = results.get(v).foreach { rows =>
      val got = rows.iterator.map(_.getLong(col)).sum
      ledger.check(s"$v sums to the total [$state]", got == want.total, s"got $got, expected ${want.total}")
    }
    total("eventsByDateLevel.Year", 1)
    total("eventsByDateLevel.Quarter", 2)
    total("eventsByDateLevel.Month", 3)
    total("eventsByDateLevel.Day", 4)
    total("eventsByCountry", 1)
    results.get("magnitudeMap").foreach { rows =>
      val got = rows.iterator.map(_.getDouble(3)).sum
      val expSum = exp.fact.iterator.filter(state.admits).map(_.magE2 / 100.0).sum
      ledger.check(s"magnitudeMap sums magnitudes [$state]",
        math.abs(got - expSum) <= 1e-6 * math.max(1.0, math.abs(expSum)), s"got $got, expected $expSum")
    }
    def size(v: String, n: Long): Unit = results.get(v).foreach { rows =>
      ledger.check(s"$v domain", rows.length.toLong == n, s"got ${rows.length}, expected $n")
    }
    size("sliceValues", exp.dimDateRows)
    size("tsunamiSliceValues", exp.fact.map(_.tsunami).distinct.size.toLong)
    size("magnitudeSliceValues", 8L)
  }
}
