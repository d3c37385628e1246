package graft.ops

import graft.SparkSuite

class SkewOpsSpec extends SparkSuite {
  import spark.implicits._

  test("saltedInnerJoin is row-for-row equivalent to a plain inner join") {
    // heavy-tailed: key 1 has 1000 rows, others 1 each
    val large = (Seq.fill(1000)(1) ++ (2 to 50)).map(k => (k, s"v$k")).toDF("k", "payload")
    val small = (1 to 40).map(k => (k, s"dim$k")).toDF("k", "attr")
    val plain = large.join(small, Seq("k"), "inner")
    val salted = SkewOps.saltedInnerJoin(large, small, Seq("k"), buckets = 8)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    // salt column must not leak
    assert(!salted.columns.contains("_salt"))
  }

  test("saltedInnerJoin does not clobber a user column named _salt") {
    val large = Seq((1, "keep-me"), (2, "other")).toDF("k", "_salt")
    val small = Seq((1, "x")).toDF("k", "w")
    val out = SkewOps.saltedInnerJoin(large, small, Seq("k"), buckets = 4).collect()
    assert(out.length == 1 && out.head.getAs[String]("_salt") == "keep-me")
  }

  test("buckets=1 degenerates to the plain join") {
    val large = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val small = Seq((1, "x")).toDF("k", "w")
    val out = SkewOps.saltedInnerJoin(large, small, Seq("k"), buckets = 1).collect()
    assert(out.length == 1 && out.head.getAs[String]("w") == "x")
  }

  test("keyHistogram surfaces the hot keys in order") {
    val df = (Seq.fill(100)(7) ++ Seq.fill(10)(3) ++ Seq(1)).map(k => (k, "x")).toDF("k", "v")
    val hist = SkewOps.keyHistogram(df, Seq("k"), topN = 2).collect()
    assert(hist.map(r => (r.getAs[Int]("k"), r.getAs[Long]("n_rows"))).toSeq ==
      Seq((7, 100L), (3, 10L)))
  }

  test("AQE splits the hot partition at runtime (skew=true sort-merge join)") {
    // the no-code-changes complement to saltedInnerJoin: when skew only
    // shows up at runtime, AQE rewrites the merge join to read the hot
    // partition in slices. Thresholds are shrunk so the ~MB-scale hot
    // key trips the same logic a hot multi-GB key trips in production.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled").map(k => k -> conf.get(k))
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      // per-row-distinct payload so shuffle compression can't shrink the
      // hot partition back under the skew threshold
      def payload(i: Int) = java.lang.Long.toHexString(i * 2654435761L) * 6
      val large = ((1 to 50000).map(i => (1, payload(i))) ++
          (2 to 2000).map(k => (k, payload(k)))).toDF("k", "payload")
      val small = (1 to 2000).map(k => (k, s"dim$k")).toDF("k", "attr")
      val joined = large.join(small, Seq("k"))
      // materialize THIS dataframe (count() would execute a different,
      // pruned plan and leave joined's adaptive plan un-finalized)
      assert(joined.collect().length == 50000 + 1999)
      val plan = joined.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case p => p.toString
      }
      assert(plan.contains("skew=true"), s"AQE did not mark the join skewed:\n$plan")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }
}
