package perfbench

import java.util.Random

import org.scalatest.funsuite.AnyFunSuite

/** The output checks must catch a planted wrong artifact. */
class CheckSpec extends AnyFunSuite {
  private val rnd = new Random(11)
  private val days = Gen.days(rnd, 0, 3, 3, 40, Gen.Shares())
  private val season = days.take(2).flatten.filter(_.kind == Gen.Clean).map(_.row)
  private val delta = Gen.scrape(rnd, days(2), days(1), Gen.Shares())
  private val expected = season.map(r => (r(0), r(9), r(10)) -> r).toMap ++
    delta.filter(_.kind == Gen.Clean).map(s => s.key -> s.row)
  private val dirty = Workloads.dirtyKeysOf(delta)
  // a correct artifact: every expected winner plus one row per dirty key
  private val good: Vector[Vector[String]] = expected.values.toVector ++
    dirty.toVector.map { k =>
      delta.find(s => s.kind != Gen.Clean && s.key == k).get.row }

  test("a correct artifact passes") {
    val m = Workloads.compareSeason(good, expected, dirty)
    assert(Workloads.seasonOk(m), m)
  }

  test("one flipped field is caught") {
    val i = good.indexWhere(_(0) != null)
    val flipped = good.updated(i, good(i).updated(6, good(i)(6) + "1"))
    val m = Workloads.compareSeason(flipped, expected, dirty)
    assert(m("wrong") == 1L)
    assert(!Workloads.seasonOk(m))
  }

  test("one missing key is caught") {
    val i = good.indexWhere(_(0) != null)
    val m = Workloads.compareSeason(good.patch(i, Nil, 1), expected, dirty)
    assert(m("missing") == 1L)
    assert(!Workloads.seasonOk(m))
  }

  test("a stale winner (older scrape's value) is caught") {
    val corrected = delta.find(s => s.kind == Gen.Clean &&
      days(1).exists(o => o.key == s.key && o.row != s.row))
    assert(corrected.isDefined, "the scrape plants corrected replays")
    val old = days(1).find(_.key == corrected.get.key).get.row
    val i = good.indexWhere(r => r == corrected.get.row)
    val m = Workloads.compareSeason(good.updated(i, old), expected, dirty)
    assert(m("wrong") == 1L)
  }

  test("the delta check catches a flipped field and a dropped row") {
    val rows = delta.map(_.row).toVector
    assert(Workloads.deltaOk(Workloads.compareDelta(rows, delta)))
    val i = delta.indexWhere(_.kind == Gen.Clean)
    val flipped = rows.updated(i, rows(i).updated(16, "999"))
    assert(!Workloads.deltaOk(Workloads.compareDelta(flipped, delta)))
    assert(!Workloads.deltaOk(Workloads.compareDelta(rows.patch(i, Nil, 1), delta)))
  }

  test("the media expectation: error wins within a batch, a clean re-arrival resolves") {
    val ok = Gen.Blob(1L, "image", Array[Byte](1, 2, 3), ok = true)
    val bad = ok.copy(bytes = Array[Byte](1), ok = false)
    val (main, quar) = Gen.expectedMedia(Seq(Seq(ok, bad), Seq(ok)))
    assert(main == Map(1L -> 3L))
    assert(quar == Map(1L -> "resolved"))
    val (main2, quar2) = Gen.expectedMedia(Seq(Seq(ok, bad)))
    assert(main2.isEmpty && quar2 == Map(1L -> "quarantined"))
  }
}
