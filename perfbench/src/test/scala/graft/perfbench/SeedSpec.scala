package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class SeedSpec extends AnyFunSuite {

  private val keys = (1 to 5000).map(i => (i * 3L).toString)

  test("the same seed gives the same drift") {
    val a = Drift.generate(keys, 42L, 0.01, 5)
    assert(Drift.generate(keys.reverse, 42L, 0.01, 5) === a)
    assert(Drift.generate(keys, 43L, 0.01, 5) !== a)
    assert(a.patched.size === 50 && a.dropped.size === 50)
    assert(a.staleOwned.size === 5 && a.staleForeign.size === 5)
    assert((a.patched ++ a.dropped).subsetOf(keys.toSet))
    assert(a.patched.intersect(a.dropped).isEmpty)
    val stale = a.staleOwned ++ a.staleForeign
    assert(stale.size === 10 && stale.intersect(keys.toSet).isEmpty)
  }

  test("drift applies to a copy of the target") {
    val base = new java.util.HashMap[String, String]()
    keys.foreach(k => base.put(k, s"""{"o_orderkey":$k,"owner_name":"Owner $k","extras_kodas":"1"}"""))
    val d = Drift.generate(keys, 7L, 0.01, 2)
    val t = d.applyTo(base)
    assert(base.size === keys.size)
    assert(t.size === keys.size - d.dropped.size + 4)
    d.patched.foreach(k => assert(t.get(k).contains("Drifted Owner") && t.get(k) != base.get(k)))
    d.dropped.foreach(k => assert(!t.containsKey(k)))
    d.staleOwned.foreach(k => assert(t.get(k).contains("extras_kodas")))
    d.staleForeign.foreach(k => assert(!t.get(k).contains("extras_kodas")))
  }

  test("the same seed gives the same query order") {
    val all = Main.LightQueries
    assert(all.distinct.size === 8)
    assert(Main.queryOrder(1L, all) === Main.queryOrder(1L, all.reverse.reverse))
    assert(Main.queryOrder(1L, all).sorted === all.sorted)
    assert((1L to 5L).map(Main.queryOrder(_, all)).distinct.size > 1)
  }
}
