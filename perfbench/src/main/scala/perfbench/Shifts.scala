package perfbench

import java.time.{LocalDate, ZoneOffset}
import java.util.SplittableRandom

import scala.math.BigDecimal.RoundingMode

/** The benchmark's own seeded shift corpus, with the reference API's
  * generator distributions (one shift per day; start 7–10 am on a :15
  * boundary; length 8–12 h on :15; one break with p = 0.7 starting 2–3 h
  * in, Gaussian length 23 ± 5 min, paid with p = 0.5; 0–3 allowances with
  * value in {0.5, 0.75, 1.0, 1.5} and cost 1.0–50.0 in steps of 0.1; 0–3
  * award interpretations with cost 1.0–100.0 in steps of 0.1).
  *
  * It is independent of the program's generator, so a change to the
  * program cannot change the inputs. Costs are kept as whole tenths so
  * the reference KPIs below are exact.
  */
object Shifts {

  final case class Break(id: String, startMs: Long, finishMs: Long, paid: Boolean)
  final case class Allowance(id: String, value: Double, costTenths: Int)
  final case class Award(id: String, date: LocalDate, units: Double, costTenths: Int)
  final case class Shift(id: String, date: LocalDate, startMs: Long, finishMs: Long,
      breaks: Seq[Break], allowances: Seq[Allowance], awards: Seq[Award])

  val Choices: Array[Double] = Array(0.5, 0.75, 1.0, 1.5)

  private def uuid(r: SplittableRandom): String =
    new java.util.UUID((r.nextLong() & ~0xF000L) | 0x4000L,
      (r.nextLong() & 0x3FFFFFFFFFFFFFFFL) | Long.MinValue).toString

  /** Gaussian by Box–Muller (SplittableRandom has none). */
  private def gaussian(r: SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())

  /** `days` consecutive shifts from `firstDay`, fully determined by `seed`. */
  def generate(seed: Long, firstDay: LocalDate, days: Int): IndexedSeq[Shift] = {
    val r = new SplittableRandom(seed)
    (0 until days).map { i =>
      val date = firstDay.plusDays(i.toLong)
      val dayMs = date.atStartOfDay().toInstant(ZoneOffset.UTC).toEpochMilli
      val start = dayMs + (7 * 60 + 15 * r.nextInt(12)) * 60000L
      val finish = start + (8 * 60 + 15 * r.nextInt(17)) * 60000L
      val breaks =
        if (r.nextDouble() < 0.7) {
          val bStart = start + (120 + r.nextInt(61)) * 60000L
          val lenMs = math.max(60000L, math.round((23.0 + 5.0 * gaussian(r)) * 60000.0))
          Seq(Break(uuid(r), bStart, bStart + lenMs, r.nextDouble() < 0.5))
        } else Seq.empty
      val allowances = Seq.fill(r.nextInt(4))(
        Allowance(uuid(r), Choices(r.nextInt(4)), 10 + r.nextInt(491)))
      val awards = Seq.fill(r.nextInt(4))(
        Award(uuid(r), date, Choices(r.nextInt(4)), 10 + r.nextInt(991)))
      Shift(uuid(r), date, start, finish, breaks, allowances, awards)
    }
  }

  private def tenths(t: Int): String = s"${t / 10}.${t % 10}"
  private def q(s: String): String = "\"" + s + "\""

  def shiftJson(s: Shift): String = {
    val b = s.breaks.map(x =>
      s"""{"id": ${q(x.id)}, "start": ${x.startMs}, "finish": ${x.finishMs}, "paid": ${x.paid}}""")
    val a = s.allowances.map(x =>
      s"""{"id": ${q(x.id)}, "value": ${x.value}, "cost": ${tenths(x.costTenths)}}""")
    val w = s.awards.map(x =>
      s"""{"id": ${q(x.id)}, "date": ${q(x.date.toString)}, "units": ${x.units}, "cost": ${tenths(x.costTenths)}}""")
    s"""{"id": ${q(s.id)}, "date": ${q(s.date.toString)}, "start": ${s.startMs}, "finish": ${s.finishMs}, """ +
      s""""breaks": [${b.mkString(", ")}], "allowances": [${a.mkString(", ")}], """ +
      s""""award_interpretations": [${w.mkString(", ")}]}"""
  }

  /** One page in the reference envelope (`results`, `links` with relative
    * `prev`/`next`, `start`, `limit`, `size` = corpus size). */
  def pageJson(all: IndexedSeq[Shift], start: Int, limit: Int, base: String): String = {
    val slice = all.slice(start, start + limit)
    val prev = if (start <= 0) "null" else q(s"/api/shifts?start=${math.max(0, start - limit)}&limit=$limit")
    val next =
      if (start + limit >= all.size) "null"
      else q(s"/api/shifts?start=${start + limit}&limit=$limit")
    s"""{"results": [${slice.map(shiftJson).mkString(", ")}], """ +
      s""""links": {"base": ${q(base)}, "prev": $prev, "next": $next}, """ +
      s""""start": $start, "limit": $limit, "size": ${all.size}}"""
  }

  /** The reference's 2-shift golden test page and its published KPIs. */
  val goldenPage: String =
    """{"results": [
      {"id": "b2b9437a-28df-4ec4-8e4a-2bbdc241330b", "date": "2023-11-27",
       "start": 1701077400000, "finish": 1701108900000,
       "breaks": [{"id": "16419f82-8b9d-4434-a465-e150bd9c66b3",
                   "start": 1701085620000, "finish": 1701087005277, "paid": false}],
       "allowances": [
         {"id": "815ef6d1-3b8f-4a18-b7f8-a88b17fc695a", "value": 0.5, "cost": 2.5},
         {"id": "b38a088c-a65e-4389-b74d-0fb132e70629", "value": 0.5, "cost": 29.7},
         {"id": "cf36d58b-4737-4190-96da-1dac72ff5d2a", "value": 1.5, "cost": 12.2}],
       "award_interpretations": []},
      {"id": "d453dd32-4b0d-4b41-8d52-88f1142c3fe8", "date": "2023-11-28",
       "start": 1701160200000, "finish": 1701198000000,
       "breaks": [{"id": "6142ea7d-17be-4111-9a2a-73ed562b0f79",
                   "start": 1701168180000, "finish": 1701169724388, "paid": true}],
       "allowances": [],
       "award_interpretations": [
         {"id": "bacfb3d0-0b1f-4163-8e9f-f57f43b7a3a6", "date": "2023-11-28", "units": 1.0, "cost": 62.8},
         {"id": "60e7a113-ec1b-4ca1-b91e-1d4c1ff49b78", "date": "2023-11-28", "units": 1.5, "cost": 55.9}]}],
     "links": {"base": "http://localhost:8000/api/shifts", "prev": null, "next": null},
     "start": 0, "limit": 2, "size": 2}"""
  val goldenAsOf: LocalDate = LocalDate.parse("2023-12-31")
  val goldenKpis: Map[String, BigDecimal] = Map(
    "mean_break_length_in_minutes" -> BigDecimal("24.41"),
    "mean_shift_cost" -> BigDecimal("81.55"),
    "max_allowance_cost_14d" -> BigDecimal("0.00"),
    "max_break_free_shift_period_in_days" -> BigDecimal("0.00"),
    "min_shift_length_in_hours" -> BigDecimal("8.75"),
    "total_number_of_paid_breaks" -> BigDecimal("1.00"))
  /** The golden page as generator records, for checking [[referenceKpis]]. */
  val goldenShifts: IndexedSeq[Shift] = IndexedSeq(
    Shift("b2b9437a-28df-4ec4-8e4a-2bbdc241330b", LocalDate.parse("2023-11-27"),
      1701077400000L, 1701108900000L,
      Seq(Break("16419f82-8b9d-4434-a465-e150bd9c66b3", 1701085620000L, 1701087005277L, paid = false)),
      Seq(Allowance("815ef6d1-3b8f-4a18-b7f8-a88b17fc695a", 0.5, 25),
        Allowance("b38a088c-a65e-4389-b74d-0fb132e70629", 0.5, 297),
        Allowance("cf36d58b-4737-4190-96da-1dac72ff5d2a", 1.5, 122)), Seq.empty),
    Shift("d453dd32-4b0d-4b41-8d52-88f1142c3fe8", LocalDate.parse("2023-11-28"),
      1701160200000L, 1701198000000L,
      Seq(Break("6142ea7d-17be-4111-9a2a-73ed562b0f79", 1701168180000L, 1701169724388L, paid = true)),
      Seq.empty,
      Seq(Award("bacfb3d0-0b1f-4163-8e9f-f57f43b7a3a6", LocalDate.parse("2023-11-28"), 1.0, 628),
        Award("60e7a113-ec1b-4ca1-b91e-1d4c1ff49b78", LocalDate.parse("2023-11-28"), 1.5, 559))))

  /** A KPI value before its final rounding to 2 places, or None (NULL). */
  type Exact = Option[BigDecimal]

  /** The six KPIs by their definitions, computed exactly over the corpus:
    * timestamps truncate to whole seconds, and the only rounding is the
    * final one to 2 places (done by [[matches]]). */
  def referenceKpis(shifts: Seq[Shift], asOf: LocalDate): Map[String, Exact] = {
    def sec(ms: Long): Long = Math.floorDiv(ms, 1000L)
    val breaks = shifts.flatMap(_.breaks)
    val breakSecs = breaks.map(b => BigDecimal(sec(b.finishMs) - sec(b.startMs)))
    val costs = shifts.map(s =>
      BigDecimal((s.allowances.map(_.costTenths) ++ s.awards.map(_.costTenths)).sum) / 10)
    val cutoff = asOf.minusDays(14)
    val recentCosts = shifts.filter(!_.date.isBefore(cutoff))
      .flatMap(_.allowances.map(a => BigDecimal(a.costTenths) / 10))
    // longest run of consecutive break-free shifts in date order
    val (_, longest) = shifts.sortBy(_.date.toEpochDay).foldLeft((0, 0)) {
      case ((run, best), s) =>
        if (s.breaks.nonEmpty) (0, best) else (run + 1, math.max(best, run + 1))
    }
    val lengths = shifts.map(s => BigDecimal(sec(s.finishMs) - sec(s.startMs)))
    def mean(xs: Seq[BigDecimal]): BigDecimal =
      if (xs.isEmpty) BigDecimal(0) else xs.sum / xs.size
    Map(
      "mean_break_length_in_minutes" -> Some(mean(breakSecs) / 60),
      "mean_shift_cost" -> Some(mean(costs)),
      "max_allowance_cost_14d" -> Some(recentCosts.maxOption.getOrElse(BigDecimal(0))),
      "max_break_free_shift_period_in_days" ->
        (if (shifts.isEmpty) None else Some(BigDecimal(longest))),
      "min_shift_length_in_hours" -> Some(lengths.minOption.getOrElse(BigDecimal(0)) / 3600),
      "total_number_of_paid_breaks" -> Some(BigDecimal(breaks.count(_.paid))))
  }

  /** A committed KPI value equals the exact one rounded half-up to 2
    * places. When the exact value lies within 1e-6 of a rounding boundary,
    * intermediate floating-point or scale-8 decimal rounding in the engine
    * may legitimately land on either side, so both neighbours are
    * accepted. */
  def matches(committed: Option[BigDecimal], exact: Exact): Boolean =
    (committed, exact) match {
      case (None, None) => true
      case (Some(c), Some(e)) =>
        val r = e.setScale(2, RoundingMode.HALF_UP)
        if (c == r) true
        else {
          val lo = e.setScale(2, RoundingMode.FLOOR)
          val boundary = lo + BigDecimal("0.005")
          (e - boundary).abs < BigDecimal("1e-6") &&
            (c == lo || c == lo + BigDecimal("0.01"))
        }
      case _ => false
    }
}
