package graft.queries

import org.apache.spark.sql.execution.exchange.Exchange

import graft.SparkSuite

/** qt23's chunking contract: stride-spaced full-width windows that tile
  * every document end-to-end (no token uncovered, no window past the
  * text), and the operator itself stays a pure map pass — zero shuffles
  * in the physical plan at any corpus size.
  */
class ChunkingSpec extends SparkSuite {
  import spark.implicits._

  private val W = LlmText.ChunkW
  private val S = LlmText.ChunkStride

  // token counts swept across every arithmetic regime: empty-ish, short
  // (single chunk), exactly one window, one-past (clamp kicks in), exact
  // stride multiples (no clamp needed), and a long tail
  private def corpus = (1 to 120).map { id =>
    (id.toLong, Seq.fill(id)(s"t$id").mkString(" "))
  }.toDF("doc_id", "text")

  test("chunks tile each doc: full-width, stride-spaced, clamped to the last token") {
    val rows = LlmText.ragChunks(corpus, W, S)
      .orderBy("doc_id", "chunk_idx")
      .select("doc_id", "chunk_idx", "start_tok", "n_tokens", "chunk_text")
      .collect()
    rows.groupBy(_.getLong(0)).foreach { case (docId, chunks) =>
      val n = docId // corpus construction: doc_id == token count
      val sorted = chunks.sortBy(_.getLong(1))
      // first chunk starts at 0; last chunk ends exactly at the last token
      assert(sorted.head.getLong(2) == 0L)
      val last = sorted.last
      assert(last.getLong(2) + last.getLong(3) == n,
        s"doc $docId: last chunk [${last.getLong(2)}, +${last.getLong(3)}) misses token $n")
      // every chunk is full-width (or the whole short doc), and its text
      // really has that many tokens
      sorted.foreach { c =>
        assert(c.getLong(3) == math.min(W.toLong, n))
        assert(c.getString(4).split(" ").length == c.getLong(3))
      }
      // consecutive starts advance by the stride (clamp may shorten only
      // the final step) — so the overlap never exceeds W - S and no gap
      // can open between windows
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val step = b.getLong(2) - a.getLong(2)
          assert(step > 0 && step <= S,
            s"doc $docId: start step $step outside (0, $S]")
        case _ => ()
      }
      // chunk count matches the closed form the oracle replays
      val expected = if (n <= W) 1L else (n - W + S - 1) / S + 1
      assert(sorted.length.toLong == expected)
    }
  }

  test("the chunking operator is a zero-shuffle map pass (scale pin)") {
    val plan = LlmText.ragChunks(corpus, W, S).queryExecution.executedPlan
    val exchanges = plan.collect { case e: Exchange => e }
    assert(exchanges.isEmpty,
      s"chunking must not shuffle — found ${exchanges.size} Exchange(s):\n$plan")
  }

  test("qt23 matches a hand-tiled doc") {
    val one = Seq((7L, (1 to 50).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = LlmText.ragChunks(one, W, S)
      .orderBy("chunk_idx").collect()
    // n=50, W=32, S=24: chunk 0 = [0,32), chunk 1 clamped to [18,50)
    assert(got.length == 2)
    assert(got(0).getAs[Long]("start_tok") == 0L)
    assert(got(1).getAs[Long]("start_tok") == 18L)
    assert(got(0).getAs[String]("chunk_text") ==
      (1 to 32).map(i => s"w$i").mkString(" "))
    assert(got(1).getAs[String]("chunk_text") ==
      (19 to 50).map(i => s"w$i").mkString(" "))
  }
}
