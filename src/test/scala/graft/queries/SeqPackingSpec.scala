package graft.queries

import org.apache.spark.sql.catalyst.expressions.WindowExpression
import org.apache.spark.sql.catalyst.plans.logical.{Window => WindowNode}
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** qt20's packing contract: concat-and-split placement is a bijection
  * onto each shard's token stream (no gaps, no overlaps, windows filled
  * end-to-end), and the plan's only Window is PARTITIONED by shard — the
  * operator must never degrade to a single-partition global sort.
  */
class SeqPackingSpec extends SparkSuite {

  private def corpus(n: Int) = spark.range(0, n).select(
    col("id").as("doc_id"),
    // 1..40 tokens, varied co-prime with the shard hash so windows
    // split at irregular offsets
    concat_ws(" ", array_repeat(lit("w"), (col("id") % 40 + 1).cast("int")))
      .as("text"))

  test("placements tile each shard's token stream exactly — no gaps, no overlaps") {
    val placed = LlmText.packSequences(corpus(3000))
      .orderBy("shard", "doc_id")
      .collect()
    placed.groupBy(_.getLong(1)).foreach { case (shard, rows) =>
      var expectStart = 0L
      rows.foreach { r =>
        val (nTok, seqId, off, spans) =
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))
        val start = seqId * LlmText.PackCtx + off
        assert(start == expectStart,
          s"shard $shard doc ${r.getLong(0)}: starts at $start, stream is at $expectStart")
        assert(spans == (off + nTok > LlmText.PackCtx))
        expectStart += nTok
      }
      // window count closes the books: last window is the cumsum's
      val lastSeq = rows.last.getLong(3)
      assert(lastSeq == (expectStart - rows.last.getLong(2)) / LlmText.PackCtx)
    }
  }

  test("shard hash spreads docs near-uniformly (the shuffle-balance premise)") {
    val counts = LlmText.packSequences(corpus(4000))
      .groupBy("shard").count().collect().map(_.getLong(1))
    assert(counts.length == LlmText.PackShards)
    val expected = 4000.0 / LlmText.PackShards
    counts.foreach(c => assert(math.abs(c - expected) < expected * 0.2,
      s"shard skew: $c vs ~$expected — the multiplicative hash stopped mixing"))
  }

  test("the only Window in the plan is partitioned by shard (scale pin)") {
    val plan = LlmText.qt20.fn(spark, "/root/testdata/sf0.001")
      .queryExecution.optimizedPlan
    val windows = plan.collect { case w: WindowNode => w }
    assert(windows.nonEmpty, "packing lost its running-cumsum Window")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"single-partition Window in qt20 — global sort at scale:\n$plan")
      assert(w.windowExpressions.flatMap(_.collect { case e: WindowExpression => e }).nonEmpty)
    }
  }
}
