package graft.queries

import graft.SparkSuite

/** qd20's contract: a short doc pasted inside a long one is a
  * containment hit even where Jaccard's symmetric denominator dilutes
  * the pair below any usable near-dup threshold.
  */
class ContainmentSpec extends SparkSuite {
  import spark.implicits._

  // a 30-token quote verbatim inside a 200-token page, plus an unrelated doc
  private val quote = (0 until 30).map(i => s"q$i").mkString(" ")
  private val page = ((0 until 100).map(i => s"p$i") ++ (0 until 30).map(i => s"q$i") ++
    (100 until 170).map(i => s"p$i")).mkString(" ")
  private val other = (0 until 50).map(i => s"z$i").mkString(" ")

  private def corpus = Seq(
    (1L, page), (2L, quote), (7L, other)).toDF("doc_id", "text")

  test("quote-inside-page: containment ~1.0 where Jaccard is diluted under 0.2") {
    val cont = LlmDedup.containmentPairs(corpus, 1000).collect()
    assert(cont.length == 1)
    val r = cont.head
    assert(r.getLong(0) == 2L, "the QUOTE (smaller shingle set) is the contained side")
    assert(r.getLong(1) == 1L)
    assert(r.getDouble(5) >= 0.9, s"containment ${r.getDouble(5)} should be ~1.0")
    val jac = LlmDedup.jaccardPairs(corpus, 1000).collect()
      .filter(x => x.getLong(0) == 1L && x.getLong(1) == 2L)
    assert(jac.length == 1 && jac.head.getDouble(5) < 0.2,
      "the same pair must sit far below any Jaccard near-dup threshold")
  }

  test("direction is by set size, not doc_id order") {
    // same corpus with ids swapped: page gets the HIGHER id — the
    // contained side must still be the quote
    val swapped = Seq((9L, page), (3L, quote)).toDF("doc_id", "text")
    val r = LlmDedup.containmentPairs(swapped, 1000).collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 9L)
  }

  test("df cap applies to containment postings too") {
    // the quote's shingles appear in MANY pages -> over-cap shingles are
    // dropped and the pair list shrinks accordingly (same bound as qd02)
    val many = (0 until 12).map(i => (10L + i, page)) :+ ((2L, quote))
    val df = many.toDF("doc_id", "text")
    // cap of 5 < 13 occurrences of every quote shingle -> no postings
    assert(LlmDedup.containmentPairs(df, 5).collect().isEmpty)
  }
}
