package perfbench

import java.time.{LocalDate, ZoneOffset}

import org.scalatest.funsuite.AnyFunSuite

/** Pins the benchmark generator's distribution envelope, its page
  * envelope, and the exact KPI reference it checks the program against. */
class ShiftsSpec extends AnyFunSuite {

  private val day0 = LocalDate.parse("2000-01-01")
  private val corpus = Shifts.generate(42, day0, 3600)
  private def minuteOfDay(ms: Long): Long =
    (ms - day0.atStartOfDay().toInstant(ZoneOffset.UTC).toEpochMilli) / 60000 % (24 * 60)
  private def mean(xs: Seq[Double]) = xs.sum / xs.size
  private def sd(xs: Seq[Double]) = { val m = mean(xs); math.sqrt(mean(xs.map(x => (x - m) * (x - m)))) }

  test("same seed, same corpus; another seed, another corpus") {
    assert(Shifts.generate(42, day0, 50) == corpus.take(50))
    assert(Shifts.generate(43, day0, 50) != corpus.take(50))
  }

  test("one shift per consecutive day, unique ids") {
    assert(corpus.map(_.date) == (0 until 3600).map(i => day0.plusDays(i.toLong)))
    val ids = corpus.flatMap(s => s.id +: (s.breaks.map(_.id) ++ s.allowances.map(_.id) ++
      s.awards.map(_.id)))
    assert(ids.distinct.size == ids.size)
  }

  test("shift start 7:00-9:45 and length 8-12 h, both on :15") {
    corpus.foreach { s =>
      val start = minuteOfDay(s.startMs)
      val len = (s.finishMs - s.startMs) / 60000
      assert(start >= 7 * 60 && start <= 9 * 60 + 45 && start % 15 == 0)
      assert(len >= 8 * 60 && len <= 12 * 60 && len % 15 == 0)
    }
  }

  test("breaks: p=0.7, 2-3 h in, 23 +- 5 min, paid p=0.5") {
    val withBreak = corpus.filter(_.breaks.nonEmpty)
    assert(math.abs(withBreak.size / 3600.0 - 0.7) < 0.03)
    assert(corpus.forall(_.breaks.size <= 1))
    val bs = withBreak.map(s => (s, s.breaks.head))
    bs.foreach { case (s, b) =>
      val in = (b.startMs - s.startMs) / 60000
      assert(in >= 120 && in <= 180)
    }
    val lens = bs.map { case (_, b) => (b.finishMs - b.startMs) / 60000.0 }
    assert(math.abs(mean(lens) - 23) < 0.5)
    assert(math.abs(sd(lens) - 5) < 0.5)
    assert(math.abs(bs.count(_._2.paid).toDouble / bs.size - 0.5) < 0.04)
  }

  test("allowances and awards: 0-3 each, values from the choices, costs in range on 0.1") {
    val na = corpus.map(_.allowances.size.toDouble)
    val nw = corpus.map(_.awards.size.toDouble)
    assert(na.min == 0 && na.max == 3 && math.abs(mean(na) - 1.5) < 0.1)
    assert(nw.min == 0 && nw.max == 3 && math.abs(mean(nw) - 1.5) < 0.1)
    corpus.flatMap(_.allowances).foreach { a =>
      assert(Shifts.Choices.contains(a.value) && a.costTenths >= 10 && a.costTenths <= 500)
    }
    corpus.foreach(s => s.awards.foreach { w =>
      assert(Shifts.Choices.contains(w.units) && w.costTenths >= 10 && w.costTenths <= 1000)
      assert(w.date == s.date)
    })
  }

  test("page envelope: results, relative next link, start, limit, corpus size") {
    val p = Shifts.pageJson(corpus.take(20), 7, 7, "http://x/api/shifts")
    assert(p.contains(""""next": "/api/shifts?start=14&limit=7""""))
    assert(p.contains(""""prev": "/api/shifts?start=0&limit=7""""))
    assert(p.contains(""""start": 7, "limit": 7, "size": 20"""))
    assert(Shifts.pageJson(corpus.take(20), 14, 7, "http://x/api/shifts").contains(""""next": null"""))
  }

  test("the exact KPI reference reproduces the reference's golden fixture") {
    val ref = Shifts.referenceKpis(Shifts.goldenShifts, Shifts.goldenAsOf)
    Shifts.goldenKpis.foreach { case (k, v) => assert(Shifts.matches(Some(v), ref(k)), k) }
    assert(Shifts.referenceKpis(Nil, Shifts.goldenAsOf)("max_break_free_shift_period_in_days").isEmpty)
  }

  test("KPI match tolerates only a rounding-boundary neighbour") {
    assert(Shifts.matches(Some(BigDecimal("1.24")), Some(BigDecimal("1.235"))) ||
      Shifts.matches(Some(BigDecimal("1.23")), Some(BigDecimal("1.235"))))
    assert(!Shifts.matches(Some(BigDecimal("1.25")), Some(BigDecimal("1.235"))))
    assert(!Shifts.matches(Some(BigDecimal("1.23")), Some(BigDecimal("1.2371"))))
  }
}
