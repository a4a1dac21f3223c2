package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's key selection: pure, so it is pinned without a session. */
class BenchSpec extends AnyFunSuite {
  private val all = Seq("s19_graph_insert", "q01_pricing_summary",
    "s01_ann_bruteforce", "s18_graph_ann")
  private val canary = Some("s01_ann_bruteforce")

  test("no subset selects every key in sorted order") {
    assert(Bench.selectKeys(all, None, canary) == all.sorted)
  }

  test("a subset gains the canary key, sorted and without duplicates") {
    assert(Bench.selectKeys(all, Some("s19_graph_insert,s18_graph_ann"),
      canary) ==
      Seq("s01_ann_bruteforce", "s18_graph_ann", "s19_graph_insert"))
    assert(Bench.selectKeys(all, Some("s01_ann_bruteforce"), canary) ==
      Seq("s01_ann_bruteforce"))
  }

  test("an unknown key throws and names every bad key") {
    val e = intercept[IllegalArgumentException] {
      Bench.selectKeys(all, Some("s18_graph_ann,nope_a,nope_b"), canary)
    }
    assert(e.getMessage.contains("nope_a"))
    assert(e.getMessage.contains("nope_b"))
    assert(!e.getMessage.contains("s18_graph_ann"))
  }
}
