package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.select`, the run list of the query mains: every query
  * sorted by name when no name is given, the named queries in the
  * given order otherwise, and a refusal naming every unknown name. */
class QuerySelectSpec extends AnyFunSuite {

  test("no names: all 98 queries, sorted by name") {
    val all = SparkEntry.select(Nil).map(_._1)
    assert(all.size == 98)
    assert(all == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("names: those queries, in the given order") {
    val names = Seq("c2_dedup_minhash", "a1_extract_hashtags", "c2_dedup_minhash")
    assert(SparkEntry.select(names).map(_._1) == Seq("c2_dedup_minhash", "a1_extract_hashtags"))
  }

  test("an unknown name is refused, and the error lists every unknown name") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("a1_typo", "a1_extract_hashtags", "zz_missing")))
    assert(e.getMessage.contains("unknown queries: a1_typo, zz_missing"), e.getMessage)
  }
}
