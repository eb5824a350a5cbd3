package graft

import org.scalatest.funsuite.AnyFunSuite

/** The name filter Bench, Verify and Explain share. */
class SparkEntrySpec extends AnyFunSuite {

  test("queryFilter trims names, drops empty ones, and reads none as no filter") {
    assert(SparkEntry.queryFilter(" q1_pricing_summary ,q3_top_orders,, ") ===
      Some(Set("q1_pricing_summary", "q3_top_orders")))
    assert(SparkEntry.queryFilter("") === None)
    assert(SparkEntry.queryFilter(" , ") === None)
  }

  test("queryFilter throws on an unregistered name and names it") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.queryFilter("q1_pricing_summary,q1_pricing_sumary")
    }
    assert(e.getMessage.contains("q1_pricing_sumary"), e.getMessage)
    assert(!e.getMessage.contains("q1_pricing_summary"), e.getMessage)
  }

  test("queryFilter over the set names throws on an unknown set and names it") {
    val sets = SparkEntry.sets.map(_._1)
    assert(SparkEntry.queryFilter(" dedup,text ", sets, "set") ===
      Some(Set("dedup", "text")))
    val e = intercept[IllegalArgumentException] {
      SparkEntry.queryFilter("dedup,dedupe", sets, "set")
    }
    assert(e.getMessage.contains("set names not registered: dedupe"), e.getMessage)
  }
}
