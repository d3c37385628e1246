package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, length, lit, upper}

import graft.SparkSuite
import graft.ecom.VersionedTable

/** Incremental row-wise materialized views over the change data feed:
  * dst tracks transform(src) exactly through append/delete/update/merge
  * storms, rows the transform filters away leave the view, deletes are
  * the right-to-be-forgotten path, replays are no-ops — and the
  * flagship consumer, a maintained MinHash SIGNATURE INDEX, answers
  * incremental near-dup queries identically to a from-scratch rebuild.
  */
class IncrementalMapSpec extends SparkSuite {
  import spark.implicits._

  private def fresh(): String = tempDir("graft-ivmmap")

  private def docs(r: Range, tag: String = "w"): DataFrame =
    r.map(i => (i.toLong, s"alpha$tag$i beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")

  test("view tracks transform(src) through a DML storm; filtered rows leave the view") {
    val dir = fresh()
    val src = VersionedTable(spark, s"$dir/src")
    val dst = VersionedTable(spark, s"$dir/dst")
    src.commitAppend(docs(0 until 30))
    src.setTableProperty("graft.enableChangeDataFeed", "true")
    // transform: per-row derivation + a FILTER (short texts drop out)
    def f(d: DataFrame): DataFrame = d
      .select(col("doc_id"), upper(col("text")).as("t_up"),
        length(col("text")).as("t_len"))
      .filter(col("t_len") > 10L)
    def expect(): Set[(Long, String, Int)] =
      f(src.read()).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    def got(): Set[(Long, String, Int)] =
      dst.read().collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet

    assert(IncrementalMap.refresh(dst, src, Seq("doc_id"), f).isDefined)
    assert(got() == expect())

    src.delete(col("doc_id") % 5L === 0L)          // forget: rows leave the view
    src.update(col("doc_id") < 4L, Map("text" -> concat(col("text"), lit(" more"))))
    src.update(col("doc_id") === 7L, Map("text" -> lit("tiny")))  // transforms AWAY
    src.commitAppend(docs(100 until 105, tag = "new"))
    assert(IncrementalMap.refresh(dst, src, Seq("doc_id"), f).isDefined)
    assert(got() == expect())
    assert(!got().exists(_._1 == 7L), "a row the transform filters out must leave the view")
    assert(!got().exists(_._1 == 10L), "a deleted row must leave the view")

    // nothing new: no commit; replayed refresh is a no-op
    val before = dst.versions()
    assert(IncrementalMap.refresh(dst, src, Seq("doc_id"), f).isEmpty)
    assert(dst.versions() == before)
  }

  test("CDC chains compose: src -> maintained view -> incremental aggregate, all incremental") {
    val dir = fresh()
    val src = VersionedTable(spark, s"$dir/src")
    val mid = VersionedTable(spark, s"$dir/mid")   // row-wise view, CDC-enabled itself
    val gold = VersionedTable(spark, s"$dir/gold") // aggregate over the VIEW's feed
    src.commitAppend((0 until 40).map(i =>
      (i.toLong, i.toLong % 4L, i.toLong)).toDF("id", "grp", "v"))
    src.setTableProperty("graft.enableChangeDataFeed", "true")
    // hop 1: per-row derivation (v squared), filtered (odd ids drop)
    val f = (d: DataFrame) => d.filter(col("id") % 2L === 0L)
      .select(col("id"), col("grp"), (col("v") * col("v")).as("v2"))
    def hop1(): Unit = {
      val first = mid.currentVersion().isEmpty
      assert(IncrementalMap.refresh(mid, src, Seq("id"), f).isDefined)
      // the view's OWN feed must exist for hop 2: enable CDC on it at birth
      if (first) { mid.setTableProperty("graft.enableChangeDataFeed", "true"); () }
    }
    // hop 2: grouped aggregate maintained from the VIEW's change feed
    def hop2(): Unit = assert(IncrementalAgg.refresh(
      gold, mid, Seq("grp"), "n", Map("sum_v2" -> col("v2"))).isDefined)
    def expected(): Set[(Long, Long, Long)] =
      f(src.read()).groupBy("grp")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
          org.apache.spark.sql.functions.sum("v2").as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    hop1(); hop2()
    assert(gold.read().select("grp", "n", "sum_v2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == expected())

    // a storm at the SOURCE propagates through both incremental hops
    src.delete(col("id") < 6L)
    src.update(col("id") === 10L, Map("v" -> lit(100L)))
    src.commitAppend(Seq((100L, 1L, 7L), (101L, 1L, 8L)).toDF("id", "grp", "v"))
    hop1(); hop2()
    assert(gold.read().select("grp", "n", "sum_v2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == expected(),
      "the two-hop chain must equal the end-to-end recompute")
  }

  test("maintained signature index == rebuilt index; forget removes signatures") {
    val dir = fresh()
    val src = VersionedTable(spark, s"$dir/src")
    val idx = VersionedTable(spark, s"$dir/idx")
    src.commitAppend(docs(0 until 40))
    src.setTableProperty("graft.enableChangeDataFeed", "true")
    val sig = (d: DataFrame) => graft.queries.LlmDedup.lshSignatures(d)

    assert(IncrementalMap.refresh(idx, src, Seq("doc_id"), sig).isDefined)
    // storm: delete (forget), text update (signature CHANGES), new docs
    // including an exact copy of doc 3 (a planted near-dup)
    src.delete(col("doc_id").between(20L, 29L))
    src.update(col("doc_id") === 3L,
      Map("text" -> concat(col("text"), lit(" theta iota kappa"))))
    src.commitAppend(src.read().filter(col("doc_id") === 3L)
      .select((col("doc_id") + 1000L).as("doc_id"), col("text")))
    assert(IncrementalMap.refresh(idx, src, Seq("doc_id"), sig).isDefined)

    // the maintained index equals a from-scratch rebuild, row for row
    val rebuilt = sig(src.read())
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).sorted,
        r.getSeq[Long](2))).toSet
    val maintained = idx.read().select("doc_id", "sh", "sig")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).sorted,
        r.getSeq[Long](2))).toSet
    assert(maintained == rebuilt)
    // right-to-be-forgotten: no trace of the deleted docs in the index
    assert(idx.read().filter(col("doc_id").between(20L, 29L)).count() == 0L)

    // and the index ANSWERS correctly: the planted copy pairs with doc 3
    val pairs = graft.queries.LlmDedup.lshVerifiedPairs(
        idx.read().select("doc_id", "sh", "sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((3L, 1003L)),
      s"the maintained index must surface the planted near-dup: $pairs")
  }
}
