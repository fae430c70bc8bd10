package graft.core

import org.scalatest.funsuite.AnyFunSuite

class GridSpec extends AnyFunSuite {
  import Grid._

  test("plist (ref psweep.py:906-913)") {
    assert(plist("a", Seq(1, 2)) == Seq(Map("a" -> 1), Map("a" -> 2)))
  }

  test("pgrid cross product (F2, ref tests/test_all.py:707-758)") {
    val g = pgrid(plist("a", Seq(1, 2, 3)), plist("b", Seq("xx", "yy")))
    assert(g.size == 6)
    assert(g.head == Map("a" -> 1, "b" -> "xx"))
    assert(g.last == Map("a" -> 3, "b" -> "yy"))
    assert(g.map(_.keySet).distinct == Seq(Set("a", "b")))
  }

  test("pgrid rejects duplicate keys") {
    intercept[IllegalArgumentException] {
      pgrid(plist("a", Seq(1)), plist("a", Seq(2)))
    }
  }

  test("zip-linked plists (F3, ref tests/test_all.py:738-748)") {
    val g = pgridZ(
      Seq(plist("a", Seq(1, 2)), plist("c", Seq(11, 22))),
      Seq(plist("d", Seq(66, 77, 88, 99))))
    assert(g.size == 8)
    assert(g.head == Map("a" -> 1, "c" -> 11, "d" -> 66))
    assert(g(4) == Map("a" -> 2, "c" -> 22, "d" -> 66))
  }

  test("zip rejects unequal lengths (ref psweep.py:995-998)") {
    intercept[IllegalArgumentException] {
      zipMerge(Seq(plist("a", Seq(1, 2)), plist("c", Seq(1))))
    }
  }

  test("stargrid (F4, ref tests/test_all.py:813-844)") {
    val const = Map[String, Any]("a" -> 1, "b" -> 77)
    val vary = Seq(plist("a", Seq(1, 2, 3)), plist("b", Seq(77, 88, 99)))
    val g = stargrid(const, vary)
    // 6 raw points, the duplicated center {a:1,b:77} collapses to 5.
    assert(g.size == 5)
    assert(g.count(_ == Map("a" -> 1, "b" -> 77)) == 1)
    val g2 = stargrid(const, vary, skipDups = false)
    assert(g2.size == 6)
  }

  test("stargrid vary labels") {
    val g = stargrid(Map("a" -> 1, "b" -> 77),
      Seq(plist("a", Seq(2)), plist("b", Seq(88))),
      varyLabels = Seq("aa", "bb"))
    assert(g.map(_("_vary")) == Seq("aa", "bb"))
  }

  test("mergeDicts dup-key rejection (ref psweep.py:916-945)") {
    assert(mergeDicts(Seq(Map("a" -> 1), Map("b" -> 2))) == Map("a" -> 1, "b" -> 2))
    intercept[IllegalArgumentException] {
      mergeDicts(Seq(Map("a" -> 1), Map("a" -> 2)))
    }
    assert(mergeDicts(Seq(Map("a" -> 1), Map("a" -> 2)),
      allowDupKeys = true) == Map("a" -> 2))
  }

  test("logspace bounds and offset=0 (ref psweep.py:300-353)") {
    val v = logspace(1.0, 100.0, 3)
    assert(math.abs(v(0) - 1.0) < 1e-12)
    assert(math.abs(v(1) - 10.0) < 1e-9)
    assert(math.abs(v(2) - 100.0) < 1e-9)
    // higher offset -> more evenly spaced
    val off = logspace(1.0, 100.0, 3, offset = 1000.0)
    assert(off(1) > 40.0 && off(1) < 60.0)
    assert(math.abs(off(0) - 1.0) < 1e-9 && math.abs(off(2) - 100.0) < 1e-6)
  }

  test("intspace rounds half-even, dedups, sorts (ref psweep.py:356-368)") {
    assert(intspace(1, 4, 4) == Seq(1L, 2L, 3L, 4L))
    assert(intspace(1, 3, 5) == Seq(1L, 2L, 3L))
  }

  test("flattenDict (G10, ref psweep.py:130-151)") {
    val d = Map[String, Any]("a" -> 1,
      "b" -> Map("c" -> 2, "d" -> Map("e" -> 3)))
    assert(flattenDict(d) == Map("a" -> 1, "b_c" -> 2, "b_d_e" -> 3))
  }

  test("filterParamsUnique keeps first occurrence (ref psweep.py:1054-1065)") {
    val p = Seq(Map[String, Any]("a" -> 1), Map[String, Any]("a" -> 2),
      Map[String, Any]("a" -> 1))
    assert(filterParamsUnique(p) == Seq(Map("a" -> 1), Map("a" -> 2)))
  }

  test("filterParamsDupHash drops psets whose hash is given, keeps input " +
    "order (J1, ref psweep.py:1068-1081)") {
    val p = Seq(Map[String, Any]("a" -> 3), Map[String, Any]("a" -> 1),
      Map[String, Any]("a" -> 2), Map[String, Any]("a" -> 1))
    val known = Set(PsetHash.hash(Map[String, Any]("a" -> 1)))
    assert(filterParamsDupHash(p, known) ==
      Seq(Map("a" -> 3), Map("a" -> 2)))
    assert(filterParamsDupHash(p, Set.empty) == p)
  }
}
