package graft.ecom

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Training-data shard export (`Lakehouse.writeShards`): the sink
  * contract a downstream training reader relies on — fixed shard count
  * with one file per shard, every input row exactly once, near-uniform
  * sizes, and placement + within-shard order that depend only on row
  * CONTENT and the seed (never on the input's partitioning), so a
  * re-run of a 100 TB export is bit-reproducible and resumable.
  */
class ShardSinkSpec extends SparkSuite {

  private val nShards = 8

  private def corpus = spark.range(0, 2000)
    .select(col("id").as("doc_id"), concat(lit("text-"), col("id")).as("text"))

  private def readShard(dir: String, s: Long): Seq[(Long, String)] =
    spark.read.parquet(s"$dir/shards/shard=$s")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  test("writeShards: one file per shard, every row exactly once, near-uniform sizes") {
    val dir = tempDir("graft-shards")
    Lakehouse(spark, dir).writeShards("shards", corpus, nShards, seed = 42L)
    val shardDirs = Files.list(Paths.get(dir, "shards")).toArray.map(_.toString)
      .filter(_.contains("shard="))
    assert(shardDirs.length == nShards, "exactly nShards shard directories")
    shardDirs.foreach { d =>
      val files = Files.list(Paths.get(d)).toArray.map(_.toString).filter(_.endsWith(".parquet"))
      assert(files.length == 1, s"$d must hold exactly one file")
    }
    val back = spark.read.parquet(s"$dir/shards")
    assert(back.count() == 2000)
    assert(back.select("doc_id").distinct().count() == 2000, "no row lost or duplicated")
    val sizes = back.groupBy("shard").count().collect().map(_.getLong(1))
    // hash uniformity: E=250 per shard; ±40% is ~6σ — flags a broken
    // hash without flaking on legitimate variance
    assert(sizes.forall(n => n > 150 && n < 350), s"shard sizes skewed: ${sizes.toSeq}")
  }

  test("writeShards: placement and within-shard order are content-deterministic across input layouts") {
    val dirA = tempDir("graft-shards-a")
    val dirB = tempDir("graft-shards-b")
    Lakehouse(spark, dirA).writeShards("shards", corpus.repartition(3), nShards, seed = 42L)
    Lakehouse(spark, dirB).writeShards("shards", corpus.coalesce(1).orderBy(desc("doc_id")),
      nShards, seed = 42L)
    for (s <- 0L until nShards)
      assert(readShard(dirA, s) == readShard(dirB, s),
        s"shard $s content/order differs across input layouts")
    // a different seed is a different global shuffle
    val dirC = tempDir("graft-shards-c")
    Lakehouse(spark, dirC).writeShards("shards", corpus, nShards, seed = 7L)
    assert((0L until nShards).exists(s => readShard(dirA, s) != readShard(dirC, s)),
      "seed must change the shuffle")
  }

  test("writeShards rejects a clashing shard column and bad counts") {
    val df = corpus.withColumn("shard", lit(1L))
    val lh = Lakehouse(spark, tempDir("graft-shards-r"))
    intercept[IllegalArgumentException] { lh.writeShards("s", df, nShards, 1L) }
    intercept[IllegalArgumentException] { lh.writeShards("s", corpus, 0, 1L) }
  }

  test("writeShards rejects unorderable/unhashable column types up front, by name") {
    // a MapType column can be neither xxhash64'd nor sorted — the
    // contract (hash+sort EVERY column) must fail fast naming the
    // column, not surface an analysis error about internal expressions
    val lh = Lakehouse(spark, tempDir("graft-shards-m"))
    val withMap = corpus.withColumn("attrs", map(lit("k"), lit("v")))
    val e = intercept[IllegalArgumentException] { lh.writeShards("s", withMap, nShards, 1L) }
    assert(e.getMessage.contains("attrs"))
  }
}
