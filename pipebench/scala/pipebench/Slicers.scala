package pipebench

import java.time.LocalDate
import java.util.SplittableRandom

import graft.queries.GoldQueries

/** The report's slicer states: a seeded sequence of mixed selectivity over
  * the three slicers (date range from the full span down to one week,
  * tsunami flag, magnitude-category subset). */
object Slicers {

  val Categories: Vector[String] =
    Vector("Micro", "Minor", "Light", "Moderate", "Strong", "Major", "Great")

  final case class State(from: Option[LocalDate], to: Option[LocalDate],
                         tsunami: Option[Boolean], cats: Option[Seq[String]]) {
    def admits(r: Expect.SilverRow): Boolean =
      from.forall(d => !r.date.isBefore(d)) && to.forall(d => !r.date.isAfter(d)) &&
        tsunami.forall(_ == r.tsunami) && cats.forall(_.contains(r.magCat))

    def toGold: GoldQueries.SlicerState =
      GoldQueries.SlicerState(from.map(_.toString), to.map(_.toString), tsunami, cats)

    override def toString: String =
      s"date=${from.getOrElse("*")}..${to.getOrElse("*")} tsunami=${tsunami.getOrElse("*")} " +
        s"mag=${cats.map(_.mkString("+")).getOrElse("*")}"
  }

  /** `n` states drawn from `seed` over the event dates [first, last]. */
  def sequence(seed: Long, first: LocalDate, last: LocalDate, n: Int): Vector[State] = {
    val r = new SplittableRandom(seed)
    val span = java.time.temporal.ChronoUnit.DAYS.between(first, last).toInt
    Vector.fill(n) {
      val (from, to) = r.nextInt(4) match {
        case 0 => (None, None)
        case k =>
          val len = Vector(0, 90, 30, 7)(k)
          val start = first.plusDays(r.nextInt(math.max(1, span - len)).toLong)
          (Some(start), Some(start.plusDays(len - 1L)))
      }
      val tsunami = r.nextInt(10) match {
        case x if x < 5 => None
        case x if x < 7 => Some(true)
        case _ => Some(false)
      }
      val cats =
        if (r.nextBoolean()) None
        else Some(Categories.filter(_ => r.nextInt(3) == 0) match {
          case Vector() => Vector(Categories(r.nextInt(Categories.size)))
          case xs => xs
        })
      State(from, to, tsunami, cats)
    }
  }
}
