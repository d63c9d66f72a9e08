package pipebench

import java.nio.charset.StandardCharsets
import java.time.{Instant, LocalDate, ZoneOffset}
import java.util.zip.CRC32

/** The expected outputs of the pipeline on a generated bronze, computed on
  * the driver in plain Scala from the generator's records. This is an
  * independent model of the jobs' contract (validate → latest-wins dedup →
  * enrich → star schema → ML input filter), not a call into them, so a job
  * that drifts from the contract fails the run's checks.
  *
  * Timestamps follow the jobs' own arithmetic: epoch millis divided by 1000
  * as a double and cast to microseconds, so fingerprints agree to the
  * microsecond.
  */
object Expect {

  final case class SilverRow(id: String, eventUs: Long, updatedUs: Long,
                             magE2: Int, depthE2: Int, latE4: Int, lonE4: Int,
                             magCat: String, depthCat: String, hemNs: String,
                             hemEw: String, year: Int, month: Int, day: Int,
                             hour: Int, dow: Int, region: String,
                             country: String, tsunami: Boolean,
                             magType: Option[String], typ: String,
                             sig: Option[Int], place: String) {
    def date: LocalDate = LocalDate.of(year, month, day)
    def dateKey: Int = year * 10000 + month * 100 + day
  }

  /** Card values of one page: count, avg and max magnitude, warnings. */
  final case class Cards(total: Long, avgMag: Option[Double],
                         maxMag: Option[Double], warnings: Long)

  final case class Outputs(silver: Vector[SilverRow], silverPrint: Long,
                           dimDateRows: Long, dimDateFirst: Int,
                           dimLocationRows: Long, dimEventTypeRows: Long,
                           factRows: Long, factPrint: Long,
                           predictionRows: Long, predictionPositives: Long) {
    lazy val fact: Vector[SilverRow] = silver.filter(_.magType.isDefined)
  }

  /** Spark's `(ms / 1000).cast("timestamp")`, in microseconds. */
  def micros(ms: Long): Long = ((ms / 1000.0) * 1000000.0).toLong

  def valid(e: Gen.Rec): Boolean =
    e.id.isDefined && e.timeMs.isDefined &&
      e.magE2.exists(m => m >= -200 && m <= 1000) &&
      e.latE4 >= -900000 && e.latE4 <= 900000 &&
      e.lonE4 >= -1800000 && e.lonE4 <= 1800000 &&
      e.depthE2 >= 0 && e.depthE2 < 100000

  def magnitudeCategory(magE2: Int): String = {
    val m = magE2 / 100.0
    if (m < 3.0) "Micro" else if (m < 4.0) "Minor" else if (m < 5.0) "Light"
    else if (m < 6.0) "Moderate" else if (m < 7.0) "Strong"
    else if (m < 8.0) "Major" else "Great"
  }

  private def depthCategory(depthE2: Int): String = {
    val d = depthE2 / 100.0
    if (d <= 70.0) "Shallow" else if (d <= 300.0) "Intermediate" else "Deep"
  }

  private val regionRegex = java.util.regex.Pattern.compile(",\\s*(.*)$")

  /** Spark's `trim`: strips the space character only. */
  private def trimSpaces(s: String): String = s.replaceAll("^ +| +$", "")

  private def silverRow(e: Gen.Rec): SilverRow = {
    val us = micros(e.timeMs.get)
    val t = Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000L).atOffset(ZoneOffset.UTC)
    val m = regionRegex.matcher(e.place)
    val region = trimSpaces(if (m.find()) m.group(1) else "")
    SilverRow(e.id.get, us, micros(e.updatedMs), e.magE2.get, e.depthE2,
      e.latE4, e.lonE4, magnitudeCategory(e.magE2.get), depthCategory(e.depthE2),
      if (e.latE4 >= 0) "Northern" else "Southern",
      if (e.lonE4 >= 0) "Eastern" else "Western",
      t.getYear, t.getMonthValue, t.getDayOfMonth, t.getHour,
      t.getDayOfWeek.getValue % 7 + 1, region,
      if (region.nonEmpty) region else trimSpaces(e.place),
      e.tsunami == 1, e.magType, e.typ, e.sig, e.place)
  }

  def crc(s: String): Long = {
    val c = new CRC32
    c.update(s.getBytes(StandardCharsets.UTF_8))
    c.getValue
  }

  /** Per-row canonical string behind the silver fingerprint; mirrored in
    * Spark SQL by [[Checks.silverPrintSql]]. */
  def silverLine(r: SilverRow): String =
    Seq(r.id, r.eventUs, r.updatedUs, r.magE2, r.depthE2, r.latE4, r.lonE4,
      r.magCat, r.depthCat, r.hemNs, r.hemEw, r.year, r.month, r.day, r.hour,
      r.dow, r.region, r.country, r.tsunami, r.magType.getOrElse("~"), r.typ,
      r.sig.getOrElse(-1)).mkString("|")

  /** Per-row canonical string behind the fact fingerprint. */
  def factLine(r: SilverRow): String =
    Seq(r.id, r.dateKey, r.magE2, r.depthE2, r.tsunami, r.sig.getOrElse(-1))
      .mkString("|")

  def outputs(recs: Vector[Gen.Rec]): Outputs = {
    // validate, then latest-wins per id: updated desc, event time desc
    val silver = recs.iterator.filter(valid).toVector
      .groupBy(_.id.get).valuesIterator
      .map(_.maxBy(e => (e.updatedMs, e.timeMs.get)))
      .map(silverRow).toVector.sortBy(_.id)
    val dates = silver.map(r => r.date)
    val (d0, d1) = (dates.min, dates.max.plusDays(30))
    val fact = silver.filter(_.magType.isDefined)
    val ml = silver.filter(r => r.typ == "earthquake" && r.sig.isDefined)
    Outputs(
      silver = silver,
      silverPrint = silver.iterator.map(r => crc(silverLine(r))).sum,
      dimDateRows = java.time.temporal.ChronoUnit.DAYS.between(d0, d1) + 1,
      dimDateFirst = d0.getYear * 10000 + d0.getMonthValue * 100 + d0.getDayOfMonth,
      dimLocationRows = silver.map(r => (r.latE4, r.lonE4, r.place)).distinct.size,
      dimEventTypeRows = silver.map(r => (r.typ, r.magType)).distinct.size,
      factRows = fact.size,
      factPrint = fact.iterator.map(r => crc(factLine(r))).sum,
      predictionRows = ml.size,
      predictionPositives = ml.count(_.tsunami))
  }

  /** Card values under a slicer state, from the expected fact rows. */
  def cards(fact: Vector[SilverRow], s: Slicers.State): Cards = {
    val rows = fact.filter(s.admits)
    val mags = rows.map(_.magE2 / 100.0)
    Cards(rows.size.toLong,
      if (mags.isEmpty) None else Some(mags.sum / mags.size),
      if (mags.isEmpty) None else Some(mags.max),
      rows.count(_.tsunami).toLong)
  }
}
