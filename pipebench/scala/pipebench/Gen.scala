package pipebench

import java.util.SplittableRandom

/** Seeded USGS FeatureCollection generator.
  *
  * Every value is drawn from one `SplittableRandom(seed)` stream and every
  * number is rendered from an integer (hundredths of a magnitude, 1e-4
  * degrees, hundredths of a km), so the same seed yields byte-identical
  * documents on every JVM and the expectation calculator sees exactly the
  * doubles the JSON reader will parse.
  *
  * The case mix follows FIXTURES.md §A at volume: every validation-drop
  * branch, latest-wins and tied-`updated` duplicates, null `magType`,
  * non-earthquake types, all four quadrants, all magnitude and depth
  * bands, comma / no-comma / padded places, a span of more than a year,
  * and a tsunami label that is a function of magnitude, depth and latitude
  * plus a little label noise.
  */
object Gen {

  /** One bronze feature. `None` renders as JSON `null`. */
  final case class Rec(id: Option[String], magE2: Option[Int], place: String,
                       timeMs: Option[Long], updatedMs: Long, tsunami: Int,
                       magType: Option[String], typ: String,
                       lonE4: Int, latE4: Int, depthE2: Int,
                       felt: Option[Int], nst: Option[Int], sig: Option[Int])

  /** The landed input of one workload: the documents, in landing order. */
  final case class Bronze(docs: Vector[String], recs: Vector[Rec]) {
    def features: Int = recs.size
    def bytes: Long = docs.iterator.map(_.length.toLong).sum
  }

  val SpanStartMs = 1677628800000L // 2023-03-01T00:00:00Z
  val SpanMs = 579L * 86400000L    // to 2024-10-01: 19 months
  private val Day = 86400000L

  private val Towns = Vector("Ridgecrest", "Pahala", "Ocotillo", "Hualien",
    "Kermadec", "Kokopo", "Lata", "Isangel", "Nikolski", "Adak", "Sand Point",
    "Tobelo", "Sarangani", "Bitung", "Jayapura", "Ishinomaki", "Hachinohe",
    "Coquimbo", "Iquique", "Arica", "Lima", "Acapulco", "Pinotepa", "Ovalle",
    "Esmeraldas", "Kuril'sk", "Severo", "Anchorage", "Petrolia", "Cobb")
  private val Countries = Vector("Alaska", "Hawaii", "CA", "Taiwan",
    "New Zealand", "Papua New Guinea", "Solomon Islands", "Vanuatu",
    "Indonesia", "Philippines", "Japan", "Chile", "Peru", "Mexico",
    "Ecuador", "Russia", "Tonga", "Fiji", "Greece", "Turkey", "Iran",
    "Italy", "Nepal", "China", "Argentina", "Guatemala", "Iceland", "Nevada")
  private val Regions = Vector("Fiji", "South Sandwich Islands",
    "Mid-Atlantic Ridge", "Kermadec Islands", "Banda Sea", "Easter Island",
    "Southern East Pacific Rise", "Molucca Sea", "Andreanof Islands")
  private val Dirs = Vector("N", "NNE", "NE", "ENE", "E", "ESE", "SE", "SSE",
    "S", "SSW", "SW", "WSW", "W", "WNW", "NW", "NNW")
  private val OtherTypes = Vector("quarry blast", "explosion", "ice quake")

  private def pick[T](r: SplittableRandom, xs: Vector[T]): T = xs(r.nextInt(xs.size))

  /** Magnitude in hundredths, spread over all seven bands. */
  private def magE2(r: SplittableRandom): Int = {
    val u = r.nextInt(1000)
    val (lo, hi) =
      if (u < 100) (-100, 299) else if (u < 450) (300, 399)
      else if (u < 700) (400, 499) else if (u < 850) (500, 599)
      else if (u < 930) (600, 699) else if (u < 980) (700, 799) else (800, 960)
    lo + r.nextInt(hi - lo + 1)
  }

  /** Depth in hundredths of a km over the three depth bands. */
  private def depthE2(r: SplittableRandom): Int = {
    val u = r.nextInt(100)
    if (u < 60) r.nextInt(7001) else if (u < 85) 7001 + r.nextInt(23000)
    else 30001 + r.nextInt(40000)
  }

  private def place(r: SplittableRandom): String = {
    val u = r.nextInt(100)
    val town = pick(r, Towns)
    val country = pick(r, Countries)
    if (u < 70) s"${1 + r.nextInt(180)} km ${pick(r, Dirs)} of $town, $country"
    else if (u < 80) s"${pick(r, Regions)} region"
    else if (u < 90) s"near  $town, $country "
    else if (u < 95) s"$town, ${pick(r, Regions)}, $country"
    else s"off the coast of $country"
  }

  private def magTypeFor(r: SplittableRandom, mE2: Int): Option[String] =
    if (r.nextInt(100) < 2) None
    else Some(if (mE2 < 300) "ml" else if (mE2 < 450) pick(r, Vector("md", "ml", "mb_lg"))
              else if (mE2 < 600) "mb" else pick(r, Vector("mww", "mwr", "mwb")))

  /** A learnable label: strong, shallow, low-latitude events warn. */
  private def tsunamiFor(r: SplittableRandom, mE2: Int, depthE2: Int, latE4: Int): Int = {
    val rule = mE2 >= 650 && depthE2 <= 10000 && math.abs(latE4) <= 600000
    val flip = r.nextInt(1000) < 3
    if (rule ^ flip) 1 else 0
  }

  /** One valid base event. */
  private def event(r: SplittableRandom, k: Int): Rec = {
    val m = magE2(r)
    val d = depthE2(r)
    val lat = r.nextInt(1600001) - 800000
    val lon = r.nextInt(3600001) - 1800000
    val time = SpanStartMs + r.nextLong(SpanMs)
    val updated = time + 60000L + r.nextLong(20L * Day)
    val typ = { val u = r.nextInt(100); if (u < 94) "earthquake" else pick(r, OtherTypes) }
    Rec(Some(f"us$k%08d"), Some(m), place(r), Some(time), updated,
      tsunamiFor(r, m, d, lat), magTypeFor(r, m), typ, lon, lat, d,
      if (r.nextInt(100) < 40) None else Some(r.nextInt(500)),
      if (r.nextInt(100) < 20) None else Some(5 + r.nextInt(300)),
      if (r.nextInt(100) < 1) None else Some(math.max(0, m) * 3 + r.nextInt(50)))
  }

  /** A later review of an event: updated moves on, magnitude is refined. */
  private def revise(r: SplittableRandom, e: Rec, updated: Long): Rec = {
    val m = e.magE2.map(x => math.min(960, math.max(-100, x + r.nextInt(21) - 10)))
    e.copy(magE2 = m, updatedMs = updated,
      sig = e.sig.map(_ + r.nextInt(5)))
  }

  /** Each validation-drop branch of BronzeToSilver.validate, in turn. */
  private def corrupt(r: SplittableRandom, e: Rec): Rec = r.nextInt(12) match {
    case 0 => e.copy(magE2 = None)
    case 1 => e.copy(magE2 = Some(1050))
    case 2 => e.copy(magE2 = Some(-250))
    case 3 => e.copy(latE4 = 950000)
    case 4 => e.copy(latE4 = -910000)
    case 5 => e.copy(lonE4 = -1900000)
    case 6 => e.copy(lonE4 = 1810000)
    case 7 => e.copy(depthE2 = -100)
    case 8 => e.copy(depthE2 = 120000)
    case 9 => e.copy(depthE2 = 100000)
    case 10 => e.copy(timeMs = None)
    case _ => e.copy(id = None)
  }

  /** The versions one event contributes, latest last. A few versions are
    * invalid (possibly the latest, so an older version must win), a few
    * tie on `updated` and differ in event time. */
  private def versions(r: SplittableRandom, e: Rec, n: Int): Vector[Rec] = {
    var cur = e
    val out = Vector.newBuilder[Rec]
    for (v <- 0 until n) {
      if (v > 0) {
        cur =
          if (r.nextInt(100) < 10) // tied updated: a re-timed duplicate
            cur.copy(timeMs = cur.timeMs.map(_ + 500L + r.nextInt(5000)))
          else revise(r, cur, cur.updatedMs + 1000L + r.nextLong(2L * Day))
      }
      out += (if (r.nextInt(1000) < 25) corrupt(r, cur) else cur)
    }
    out.result()
  }

  private def dupCount(r: SplittableRandom): Int = {
    val u = r.nextInt(100)
    if (u < 94) 1 else if (u < 99) 2 else 3
  }

  /** The reference's single daily fetch: `features` records, one document. */
  def singleDoc(seed: Long, features: Int): Bronze = {
    val r = new SplittableRandom(seed)
    val recs = Vector.newBuilder[Rec]
    var k = 0
    var n = 0
    while (n < features) {
      val vs = versions(r, event(r, k), math.min(dupCount(r), features - n))
      recs ++= vs
      n += vs.size
      k += 1
    }
    // the fetch returns newest-first, so duplicates are not adjacent
    val all = shuffle(r, recs.result())
    Bronze(Vector(render(all, generatedMs = SpanStartMs + SpanMs)), all)
  }

  /** An archive of `docs` overlapping daily fetches: every event shows up
    * in a run of consecutive fetches, a newer version in each. */
  def sharded(seed: Long, features: Int, docs: Int): Bronze = {
    val r = new SplittableRandom(seed)
    val perDoc = Array.fill(docs)(Vector.newBuilder[Rec])
    var k = 0
    var n = 0
    while (n < features) {
      val span = math.min(1 + r.nextInt(5), features - n)
      val first = r.nextInt(docs - math.min(span, docs) + 1)
      val vs = versions(r, event(r, k), math.min(span, docs))
      vs.zipWithIndex.foreach { case (v, i) => perDoc(first + i) += v }
      n += vs.size
      k += 1
    }
    val parts = perDoc.toVector.map(b => shuffle(r, b.result()))
    val rendered = parts.zipWithIndex.map { case (p, i) =>
      render(p, generatedMs = SpanStartMs + SpanMs + i * Day)
    }
    Bronze(rendered, parts.flatten)
  }

  private def shuffle(r: SplittableRandom, xs: Vector[Rec]): Vector[Rec] = {
    val a = xs.toArray
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector
  }

  /** `x / 10^scale` rendered exactly, e.g. (-150, 2) -> "-1.5". */
  private def fixed(x: Long, scale: Int): String = {
    val p = math.pow(10, scale).toLong
    val sign = if (x < 0) "-" else ""
    val a = math.abs(x)
    val frac = (a % p).toString.reverse.padTo(scale, '0').reverse.replaceAll("0+$", "")
    s"$sign${a / p}.${if (frac.isEmpty) "0" else frac}"
  }

  private def str(sb: java.lang.StringBuilder, s: Option[String]): Unit = s match {
    case Some(v) => sb.append('"').append(v).append('"')
    case None => sb.append("null")
  }

  private def num(sb: java.lang.StringBuilder, x: Option[Any]): Unit =
    sb.append(x.map(_.toString).getOrElse("null"))

  /** A FeatureCollection on one line, in the USGS feed's shape. */
  def render(recs: Vector[Rec], generatedMs: Long): String = {
    val sb = new java.lang.StringBuilder(recs.size * 640)
    sb.append("""{"type":"FeatureCollection","metadata":{"generated":""")
      .append(generatedMs)
      .append(""","url":"https://earthquake.usgs.gov/fdsnws/event/1/query","title":"USGS Earthquakes","status":200,"api":"1.14.1","count":""")
      .append(recs.size).append("},\"features\":[")
    var first = true
    recs.foreach { e =>
      if (!first) sb.append(',')
      first = false
      val mag = e.magE2.map(fixed(_, 2))
      val code = e.id.getOrElse("none")
      sb.append("""{"type":"Feature","id":""")
      str(sb, e.id)
      sb.append(""","properties":{"mag":""")
      num(sb, mag)
      sb.append(""","place":""")
      str(sb, Some(e.place))
      sb.append(""","time":""")
      num(sb, e.timeMs)
      sb.append(""","updated":""").append(e.updatedMs)
      sb.append(""","url":"https://earthquake.usgs.gov/earthquakes/eventpage/""").append(code)
      sb.append("""","felt":""")
      num(sb, e.felt)
      sb.append(""","cdi":3.4,"mmi":4.1,"alert":"green","status":"reviewed","tsunami":""")
        .append(e.tsunami)
      sb.append(""","sig":""")
      num(sb, e.sig)
      sb.append(""","net":"us","code":"""").append(code).append("""","nst":""")
      num(sb, e.nst)
      sb.append(""","dmin":1.12,"rms":0.71,"gap":41.0,"magType":""")
      str(sb, e.magType)
      sb.append(""","type":""")
      str(sb, Some(e.typ))
      sb.append(""","title":""")
      str(sb, Some(mag.map(m => s"M $m - ${e.place}").getOrElse(e.place)))
      sb.append("""},"geometry":{"type":"Point","coordinates":[""")
        .append(fixed(e.lonE4, 4)).append(',')
        .append(fixed(e.latE4, 4)).append(',')
        .append(fixed(e.depthE2, 2)).append("]}}")
    }
    sb.append("]}")
    sb.toString
  }
}
