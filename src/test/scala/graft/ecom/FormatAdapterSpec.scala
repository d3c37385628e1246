package graft.ecom

import org.apache.spark.sql.functions.col

import graft.SparkSuite

/** The storage-format seam: the io contract holds under a NON-default
  * columnar adapter (ORC exercises every adapter call site the offline
  * environment can execute), and the delta binding is pinned as data —
  * its option contract and transaction-ownership flag — so dropping
  * delta-spark on the classpath is a config change with known
  * semantics, not a code spelunk.
  */
class FormatAdapterSpec extends SparkSuite {
  import spark.implicits._

  test("ORC adapter: write/read, partition pruning, dynamic overwrite, compact") {
    val dir = tempDir("graft-fmt-orc")
    val lh = Lakehouse(spark, dir, format = "orc")
    assert(lh.adapter == FormatAdapter.Orc)

    val df = Seq(
      ("2024-01-01", 1L, "a"), ("2024-01-01", 2L, "b"),
      ("2024-01-02", 3L, "c"))
      .toDF("event_date", "id", "v")
    lh.write("events_clean", df)
    assert(lh.read("events_clean").count() == 3)
    // partition pruning reaches the ORC scan (inputFiles is
    // relation-level; the executed leaf shows the partition filter)
    val pruned = lh.read("events_clean").filter(col("event_date") === "2024-01-02")
    assert(pruned.count() == 1)
    val leaf = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(leaf.contains("PartitionFilters") && leaf.contains("event_date"), leaf)

    // dynamic partition overwrite refreshes ONE date
    lh.overwritePartitions("events_clean",
      Seq(("2024-01-02", 30L, "c2"), ("2024-01-02", 31L, "c3"))
        .toDF("event_date", "id", "v"))
    assert(lh.read("events_clean").count() == 4)
    assert(lh.read("events_clean").filter(col("event_date") === "2024-01-01").count() == 2,
      "untouched partitions survive the dynamic overwrite")

    // compact keeps rows + schema through the adapter's merge read
    lh.compact("events_clean")
    assert(lh.read("events_clean").count() == 4)
  }

  test("delta binding: documented options and transaction ownership, no jars needed") {
    val d = FormatAdapter.forName("delta")
    assert(d == FormatAdapter.Delta)
    assert(d.overwriteOptions == Map("overwriteSchema" -> "true"),
      "Delta refuses schema-changing overwrites without overwriteSchema")
    assert(d.mergeReadOptions.isEmpty, "Delta resolves schemas from its log")
    assert(d.ownsTransactions, "Delta brings its own log")

    // a transaction-owning format must not be double-logged
    val lh = Lakehouse(spark,
      tempDir("graft-fmt-delta"), format = "delta")
    val ex = intercept[IllegalArgumentException] { lh.versioned("events_clean") }
    assert(ex.getMessage.contains("own"), ex.getMessage)

    // unknown formats pass through with caller-owned options
    assert(FormatAdapter.forName("avro") == FormatAdapter.Generic("avro"))
    // case-insensitive resolution, like Spark's own format lookup
    assert(FormatAdapter.forName("Parquet") == FormatAdapter.Parquet)
  }
}
