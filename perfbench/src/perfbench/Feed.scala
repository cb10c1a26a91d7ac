package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{DayOfWeek, LocalDate}
import java.time.temporal.TemporalAdjusters

/** The generated feed, read back as plain text: the benchmark's own model
  * of what the warehouse must hold. It shares no code with the program's
  * loader.
  */
final class Feed(val path: Path) {
  private val lines =
    new String(Files.readAllBytes(path), StandardCharsets.UTF_8).split("\n").toVector
  private val header = lines.takeWhile(_.startsWith("#"))
  private val rows = lines.drop(header.length).filter(_.trim.nonEmpty)

  /** (date, CO2 or None) for every day row, in feed order. */
  val days: Vector[(LocalDate, Option[Double])] = rows.map { r =>
    val c = r.trim.split("\\s+")
    (LocalDate.of(c(0).toInt, c(1).toInt, c(2).toInt),
      c(4).toDoubleOption.filterNot(_.isNaN))
  }

  /** Writes the header and the first `n` day rows to `out`. */
  def writePrefix(out: Path, n: Int): Path = {
    require(n <= rows.length, s"feed has ${rows.length} days, $n requested")
    Files.write(out, (header ++ rows.take(n)).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }

  /** The expected content of the first `n` days. */
  def model(n: Int): Model = new Model(days.take(n))
}

final class Model(val days: Vector[(LocalDate, Option[Double])]) {
  val co2: Map[LocalDate, Option[Double]] = days.toMap
  def last: LocalDate = days.last._1

  def prev(d: LocalDate): Option[Double] = co2.getOrElse(d.minusDays(1), None)

  def in(a: LocalDate, b: LocalDate): Vector[(LocalDate, Option[Double])] =
    days.filter { case (d, _) => !d.isBefore(a) && !d.isAfter(b) }

  /** Monday-started weeks: week start -> non-null values of that week. */
  lazy val weeks: Map[LocalDate, Vector[Double]] =
    days.groupBy { case (d, _) =>
      d.`with`(TemporalAdjusters.previousOrSame(DayOfWeek.MONDAY))
    }.map { case (w, ds) => w -> ds.flatMap(_._2) }

  def nonNull: Vector[Double] = days.flatMap(_._2)
}
