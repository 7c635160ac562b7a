package starbench

import java.math.{BigDecimal => JBig, RoundingMode}

import org.apache.spark.sql.Row

/** The 11 report queries of `graft.etl.Analytics`, computed by the benchmark
  * from its own [[Model]] of the generated rows, with Spark's rounding
  * (HALF_UP on the decimal form of the double) and orderings. Query results
  * are compared against these, value by value. */
object Expected {
  type Result = Seq[Seq[Any]]

  final case class Fact(day: Int, country: Int, sport: String, count: Long,
      minutes: Long, avg: Double) {
    val year: Int = Gen.date(day).getYear
    def dow: Int = Gen.dayOfWeek(day)
    def countryName: String = Gen.Countries(country - 1)
  }

  def round(x: Double, scale: Int): Double =
    JBig.valueOf(x).setScale(scale, RoundingMode.HALF_UP).doubleValue

  def facts(m: Model): Seq[Fact] =
    m.count.indices.filter(m.count(_) > 0).map { k =>
      Fact(k / 12, (k % 12) / 3 + 1, Gen.Sports(k % 3), m.count(k), m.minutes(k),
        round(m.minutes(k).toDouble / m.count(k), 2))
    }

  private def sums[K](fs: Seq[Fact], key: Fact => K): Map[K, (Long, Long)] =
    fs.groupMapReduce(key)(f => (f.count, f.minutes))((a, b) => (a._1 + b._1, a._2 + b._2))

  /** Query name → expected rows, for the fact `m` and pivot `years`. */
  def all(m: Model, years: Seq[Int]): Map[String, Result] = {
    val fs = facts(m)
    val bySport = sums(fs, _.sport)
    val byYear = sums(fs, _.year)
    val maxYear = byYear.keys.max
    def peak[K](key: Fact => K)(implicit o: Ordering[K]): Result =
      sums(fs, f => (key(f), f.dow)).toSeq
        .groupBy(_._1._1).toSeq.sortBy(_._1)
        .map { case (k, rows) =>
          val ((_, dow), (_, mins)) = rows.minBy { case ((_, d), (_, mn)) => (-mn, d) }
          Seq(k, dow, mins)
        }
    val total = bySport.values.map(_._1).sum
    val sortedYears = byYear.keys.toSeq.sorted
    Map(
      "executiveSummary" -> Seq(Seq(fs.map(_.count).sum, fs.map(_.minutes).sum,
        m.completed.sum, fs.map(_.day).distinct.size.toLong,
        fs.map(_.country).distinct.size.toLong, fs.map(_.sport).distinct.size.toLong,
        sortedYears.head, sortedYears.last)),
      "growthByYearSport" -> sums(fs, f => (f.year, f.sport)).toSeq.sorted
        .map { case ((y, s), (c, mn)) => Seq(y, s, c, round(mn / 60.0, 1)) },
      "pivotSportByYear" -> {
        val bySy = sums(fs, f => (f.sport, f.year))
        bySport.keys.toSeq.sorted.map(s =>
          s +: years.map(y => bySy.get((s, y)).fold(0L)(_._1)))
      },
      "weeklyForMaxYear" -> sums(fs.filter(_.year == maxYear), f => Gen.isoWeek(f.day))
        .toSeq.sorted.map { case (w, (c, _)) => Seq(w, c) },
      "sportAnalysis" -> fs.groupBy(_.sport).toSeq.map { case (s, rows) =>
        val c = rows.map(_.count).sum; val mn = rows.map(_.minutes).sum
        val avgSum = rows.map(r => JBig.valueOf(r.avg).setScale(4, RoundingMode.HALF_UP))
          .reduce(_ add _).doubleValue
        Seq(s, c, round(mn / 60.0, 1), round(avgSum / rows.size, 2),
          round(mn / c.toDouble, 1))
      }.sortBy(r => -r(1).asInstanceOf[Long]),
      "countryAnalysis" -> sums(fs, _.countryName).toSeq.map { case (n, (c, mn)) =>
        Seq(n, c, round(mn / 60.0, 1), round(mn / c.toDouble, 1))
      }.sortBy(r => -r(1).asInstanceOf[Long]),
      "dayOfWeekAnalysis" -> sums(fs, _.dow).toSeq.sorted
        .map { case (d, (c, mn)) => Seq(d, c, mn) },
      "peakDayBySport" -> peak(_.sport),
      "peakDayByCountry" -> peak(_.countryName),
      "sportShare" -> bySport.toSeq.map { case (s, (c, _)) =>
        Seq(s, c, round(c * 100.0 / total, 1))
      }.sortBy(r => -r(1).asInstanceOf[Long]),
      "yoyGrowth" -> sortedYears.zipWithIndex.map { case (y, i) =>
        val c = byYear(y)._1
        val prev = if (i == 0) None else Some(byYear(sortedYears(i - 1))._1)
        Seq(y, c, prev.filter(_ != 0).map(p => round((c - p) * 100.0 / p, 1)).orNull)
      })
  }

  private def norm(v: Any): Any = v match {
    case i: Int => i.toLong
    case s: Short => s.toLong
    case l: Long => l
    case d: Double => d
    case other => other
  }

  /** Empty when `rows` equal `expected` in order; else a short description. */
  def diff(rows: Seq[Row], expected: Result): Option[String] = {
    def same(a: Any, b: Any): Boolean = (norm(a), norm(b)) match {
      case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
      case (x, y) => x == y
    }
    val got = rows.map(_.toSeq)
    if (got.size != expected.size) Some(s"${got.size} rows, expected ${expected.size}")
    else got.zip(expected).collectFirst {
      case (g, e) if g.size != e.size || !g.zip(e).forall { case (a, b) => same(a, b) } =>
        s"row ${g.mkString("[", ",", "]")} expected ${e.mkString("[", ",", "]")}"
    }
  }
}
