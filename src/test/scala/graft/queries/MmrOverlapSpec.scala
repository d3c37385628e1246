package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Planted-data contracts for the round's two new operators: qs07's MMR
  * greedy (diversity property + tie-breaks the oracle can't isolate) and
  * qd17's source-overlap matrix (counts, coefficient, no-overlap rows).
  */
class MmrOverlapSpec extends SparkSuite {
  import spark.implicits._

  /** Two tight clusters, both oblique to the query (if the first pick is
    * near-parallel to the query, every MMR score degenerates to ~0 and
    * the property can't be observed): pure top-k floods from cluster A;
    * MMR's second pick must cross over to cluster B.
    */
  test("qs07 MMR picks across clusters where pure top-k floods from one") {
    val q = Seq(1f, 0f, 0f, 0f)
    // cluster A: (1,1,ε,0) — qsim ≈ 0.707, mutual sim ≈ 1
    // cluster B: (0.99,0,1,ε) — qsim ≈ 0.704 (always below A), sim to A ≈ 0.5
    val rows = Seq((0L, q)) ++
      (1L to 6L).map(i => i -> Seq(1f, 1f, 0.001f * i, 0f)) ++
      (7L to 12L).map(i => i -> Seq(0.99f, 0f, 1f, 0.001f * i))
    val e = rows.toDF("vec_id", "embedding")
    val topk = e.filter(col("vec_id") =!= 0L)
      .select(col("vec_id"),
        graft.functions.VectorFns.cosine(col("embedding"), typedlit(q)).as("qsim"))
      .orderBy(col("qsim").desc, col("vec_id"))
      .limit(4).collect().map(_.getLong(0))
    assert(topk.forall(_ <= 6L), s"planting broken: top-k should be all cluster A, got ${topk.toSeq}")
    val mmr = LlmSimilarity.mmrRerank(e, queryVecId = 0L, lambda = 0.5, pool = 12, k = 4)
      .collect().map(_.getLong(1))
    assert(mmr.head == topk.head, "first MMR pick must be the pure-relevance argmax")
    // the crossover IS the property; with both clusters this tight one B
    // representative is the greedy optimum (a second B is always worse
    // than a marginal A), so exactly-one-B is the strong assertion
    assert(mmr(1) >= 7L,
      s"MMR's second pick must leave the flooded cluster: ${mmr.toSeq}")
    assert(mmr.distinct.length == mmr.length, s"duplicate picks: ${mmr.toSeq}")
  }

  test("qs07 tie-break: bit-identical twins resolve to the smaller vec_id, deterministically") {
    // ids 2 and 1 are the SAME vector; every score involving them is
    // bit-identical, so ordering is purely the id tie-break
    val v = Seq(1f, 1f, 0f, 0f)
    val o = Seq(1f, 0f, 1f, 0f)
    val e = Seq((0L, Seq(1f, 0f, 0f, 0f)), (2L, v), (1L, v), (3L, o))
      .toDF("vec_id", "embedding")
    val picks = LlmSimilarity.mmrRerank(e, queryVecId = 0L, lambda = 0.5, pool = 3, k = 3)
      .collect().map(_.getLong(1))
    assert(picks.head == 1L, s"tie must break to the smaller id, got ${picks.toSeq}")
    // after picking 1, twin 2 scores 0.5·qsim − 0.5·1 < 3's
    // 0.5·qsim − 0.5·0.5 — diversity defers the twin to LAST
    assert(picks.toSeq == Seq(1L, 3L, 2L), s"got ${picks.toSeq}")
    val again = LlmSimilarity.mmrRerank(e, queryVecId = 0L, lambda = 0.5, pool = 3, k = 3)
      .collect().map(_.getLong(1))
    assert(again.toSeq == picks.toSeq, "greedy must be run-to-run deterministic")
  }

  test("qd17 counts shared distinct contents per source pair; disjoint pairs emit no row") {
    val mk = (id: Long, src: String, text: String) => (id, text, "en", src, text.length.toLong)
    val docsDf = Seq(
      mk(1, "sa", "alpha"), mk(2, "sa", "beta"), mk(3, "sa", "gamma"),
      mk(4, "sa", "ALPHA"), // same normalized content as 1 — ONE vote, not two
      mk(5, "sb", "alpha"), mk(6, "sb", "beta"), mk(7, "sb", "delta"),
      mk(8, "sc", "gamma"),
      mk(9, "sd", "omega") // overlaps nobody
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft-overlap")
    docsDf.write.parquet(s"$dir/documents.parquet")
    val got = LlmDedup.qd17.fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // sa={alpha,beta,gamma} (3 distinct), sb={alpha,beta,delta}, sc={gamma}
    assert(got.keySet == Set(("sa", "sb"), ("sa", "sc")), s"got ${got.keySet}")
    assert(got(("sa", "sb")) == ((2L, 3L, 3L, 2.0 / 3.0)))
    assert(got(("sa", "sc")) == ((1L, 3L, 1L, 1.0)))
  }
}
