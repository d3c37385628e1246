package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Behavior tests for the non-oracle LLM queries (LSH dedup + ANN),
  * pinning them against their exact brute-force counterparts on the
  * driver testdata at sf0.001.
  */
class LlmQueriesSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("qd04 LSH pairs are a high-Jaccard subset confirmed by exact computation") {
    val pairs = LlmDedup.qd04.fn(spark, dir).collect()
    assert(pairs.nonEmpty, "expected some near-dup candidates in testdata")
    // every emitted pair was exact-verified >= 0.5 by construction; check bounds
    pairs.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.5 && j <= 1.0)
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
    }
  }

  test("qd10 Hamming banding finds EVERY pair within the radius, and only those") {
    // Manku-banding recall guarantee: 4 bands / radius 3 → pigeonhole says
    // recall is exactly 1.0, so the banded plan must equal all-pairs
    // brute force over the fingerprints — including the hamming values.
    val sig = LlmDedup.qd05.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (ida, sa) <- sig
      (idb, sb) <- sig
      if ida < idb && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ida, idb, java.lang.Long.bitCount(sa ^ sb))).toSet
    val banded = LlmDedup.qd10.fn(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Number]("hamming").intValue)).toSet
    assert(banded.nonEmpty, "expected near-dup pairs in testdata")
    assert(banded == brute,
      s"banding missed ${(brute -- banded).take(5)} / extras ${(banded -- brute).take(5)}")
  }

  test("qd08 LSH-blocked pair scores are exact and descending") {
    import org.apache.spark.sql.types.DoubleType
    val rows = LlmDedup.qd08.fn(spark, dir).collect()
    assert(rows.length == 100)
    val scores = rows.map(_.getDouble(2))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // every returned pair's cosine equals the brute-force exact value
    val e = graft.util.Tables.load(spark, dir, "embeddings")
    val brute = e.as("a")
      .join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        graft.functions.VectorFns.cosine(col("a.embedding"), col("b.embedding"))
          .cast(DoubleType).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    rows.foreach { r =>
      assert(brute((r.getLong(0), r.getLong(1))) == r.getDouble(2))
    }
  }

  test("qd07 HLL sketch distinct is within the configured error of exact") {
    // the query itself emits the contract as approx_ok; every group must
    // satisfy it (this is what the DuckDB oracle's literal TRUE pins)
    val rows = LlmDedup.qd07.fn(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("approx_ok"),
        s"source=${r.getAs[String]("source")}: exact=${r.getAs[Long]("exact_unique")}")
    }
  }

  test("qs03 IVF ANN scores are exact for returned pairs with decent top-5 recall") {
    val exact = LlmSimilarity.qs01.fn(spark, dir)
      .select("query_id", "neighbor_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    LlmSimilarity.qs02.fn(spark, dir) // warm plans; qs03 below
    val got = LlmSimilarity.qs03.fn(spark, dir)
      .select("query_id", "neighbor_id", "cos_sim").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      // same cosine math as the exact query for any overlapping pair
      exact.get(key).foreach(c => assert(c == r.getDouble(2)))
    }
    // recall@5 vs exact: probing 4/16 cells must find at least half of
    // the true top-5 across all queries on this data
    val trueTop = exact.keySet
    val hits = got.map(r => (r.getLong(0), r.getLong(1))).count(trueTop.contains)
    assert(hits.toDouble / trueTop.size >= 0.5, s"recall=${hits.toDouble / trueTop.size}")
  }

  test("qs04 quantized ANN reranks to exact cosines with high top-5 recall") {
    val exact = LlmSimilarity.qs01.fn(spark, dir)
      .select("query_id", "neighbor_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val got = LlmSimilarity.qs04.fn(spark, dir).collect()
    assert(got.length == 40) // 8 queries × top-5 survive the C=20 rerank
    got.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      // rerank is the SAME cosine as qs01 — bit-equal where pairs overlap
      exact.get(key).foreach(c => assert(c == r.getAs[Double]("cos_sim")))
      // int8 dot of 64-dim int8 vectors is bounded by 64 × 127²
      assert(math.abs(r.getAs[Long]("qdot")) <= 64L * 127 * 127)
    }
    // int8 + rerank-from-20 keeps nearly all of the true top-5: require
    // ≥90% recall (strictly better than the bucketed ANN paths demand)
    val trueTop = exact.keySet
    val hits = got.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .count(trueTop.contains)
    assert(hits.toDouble / trueTop.size >= 0.9, s"recall=${hits.toDouble / trueTop.size}")
  }

  test("qs08 PQ-ADC ANN reranks to exact cosines; codes compress and recall holds") {
    val exact = LlmSimilarity.qs01.fn(spark, dir)
      .select("query_id", "neighbor_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val got = LlmSimilarity.qs08.fn(spark, dir).collect()
    assert(got.length == 40) // 8 queries × top-5 survive the C=20 rerank
    got.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      // rerank is the SAME cosine as qs01 — bit-equal where pairs overlap
      exact.get(key).foreach(c => assert(c == r.getAs[Double]("cos_sim")))
    }
    // a 16-codeword sampled codebook is coarser than qs04's int8 scalar
    // quantizer, but the C=20 rerank must still recover at least half of
    // the true top-5 on this data
    val trueTop = exact.keySet
    val hits = got.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .count(trueTop.contains)
    assert(hits.toDouble / trueTop.size >= 0.5, s"recall=${hits.toDouble / trueTop.size}")
  }

  test("qs02 ANN results agree with qs01 exact scores where they overlap") {
    val exact = LlmSimilarity.qs01.fn(spark, dir)
      .select("query_id", "neighbor_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ann = LlmSimilarity.qs02.fn(spark, dir)
      .select("query_id", "neighbor_id", "cos_sim").collect()
    assert(ann.nonEmpty)
    // ANN cosine must equal the exact cosine for the same pair (same math),
    // and ANN can never beat the exact top-1
    val exactTop = LlmSimilarity.qs01.fn(spark, dir)
      .filter(col("rank") === 1)
      .select("query_id", "cos_sim").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ann.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      exact.get(key).foreach(c => assert(c == r.getDouble(2)))
      assert(r.getDouble(2) <= exactTop(r.getLong(0)) + 1e-12)
    }
  }

  test("qd11 contamination flags a benchmark copy and clears a disjoint doc") {
    import spark.implicits._
    val bench = "the quick brown fox jumps over the lazy dog tonight"
    val corpus = Seq(
      (1L, "bench", bench),
      // exact copy of a benchmark doc → every shingle overlaps
      (10L, "train", bench),
      // half-overlap: first 6 tokens shared (4 shared shingles of 8)
      (11L, "train", "the quick brown fox jumps over a cliff edge instead today"),
      // disjoint vocabulary → zero overlap
      (12L, "train", "alpha bravo charlie delta echo foxtrot golf hotel india")).toDF(
      "doc_id", "source", "text")
    val got = LlmDedup.contaminationStats(corpus, "bench", 1000L)
      .collect().map(r => r.getLong(0) -> r).toMap

    assert(!got.contains(1L), "benchmark docs are not scored")
    assert(got(10L).getAs[Long]("overlap_bps") == 10000L)
    assert(got(10L).getAs[Boolean]("contaminated"))
    val half = got(11L)
    assert(half.getAs[Long]("n_overlap") > 0 &&
      half.getAs[Long]("n_overlap") < half.getAs[Long]("n_shingles"))
    assert(got(12L).getAs[Long]("n_overlap") == 0L)
    assert(!got(12L).getAs[Boolean]("contaminated"))
  }

  test("qd11 benchmark shingle set broadcasts in the physical plan") {
    import spark.implicits._
    val corpus = (0 until 40).map(i =>
      (i.toLong, if (i < 5) "bench" else "train", s"w$i x$i y$i z$i common tail here"))
      .toDF("doc_id", "source", "text")
    val plan = LlmDedup.contaminationStats(corpus, "bench", 1000L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark set must broadcast-probe, got:\n$plan")
  }

  test("qd13 incremental pairs are new-vs-index ONLY — batch- and index-internal dups stay silent") {
    import spark.implicits._
    val base = "alpha bravo charlie delta echo foxtrot golf hotel"
    val other = "one two three four five six seven eight"
    val index = LlmDedup.lshSignatures(Seq(
      (0L, base), (2L, base), // index-internal exact dup — must NOT emit
      (4L, "nine ten eleven twelve thirteen fourteen fifteen sixteen")).toDF("doc_id", "text"))
    val batch = LlmDedup.lshSignatures(Seq(
      (1L, base), // duplicates BOTH index copies
      (3L, other), (5L, other), // batch-internal dup — must NOT emit
      (7L, "ichi ni san shi go roku nana hachi")).toDF("doc_id", "text"))
    try {
      val got = LlmDedup.lshIncrementalPairs(index, batch).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(got.toSet == Set((1L, 0L, 1.0), (1L, 2L, 1.0)),
        s"expected exactly the new-vs-index dup pair, got ${got.mkString(", ")}")
    } finally {
      index.unpersist(); batch.unpersist()
    }
  }

  test("qd12 keeps the highest-quality copy, not the first doc_id") {
    import spark.implicits._
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
      .toDF("doc_id", "cluster_id")
    // doc 3 has the best score in cluster 1 — keep-first would pick 1
    val quality = Seq((1L, 0.2), (2L, 0.5), (3L, 0.9), (7L, 0.4), (9L, 0.4))
      .toDF("doc_id", "score")
    val got = LlmDedup.keepBestPerCluster(labels, quality)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Long]("kept_doc_id") == 3L)
    assert(got(1L).getAs[Long]("cluster_size") == 3L)
    assert(got(1L).getAs[Long]("n_dropped") == 2L)
    // equal scores fall back to the lowest doc_id (deterministic)
    assert(got(7L).getAs[Long]("kept_doc_id") == 7L)
    assert(got(7L).getAs[Long]("n_dropped") == 1L)
  }

  test("qd15 drops iff a smaller-id bucket neighbor clears tau; dup_of is the smallest") {
    import spark.implicits._
    def vec(hot: Int, v: Float): Array[Float] = {
      val a = Array.fill(64)(0.01f); a(hot) = v; a
    }
    // ids 1,2,3 identical (cos 1.0, same bucket — dup_of must be 1 for
    // both 2 and 3, never 2 for 3); id 9 is the sign-flipped vector:
    // opposite sign bits on every plane -> different bucket AND cos ~ -1,
    // kept on both grounds
    val e = Seq(
      (1L, vec(0, 1f)), (2L, vec(0, 1f)), (3L, vec(0, 1f)),
      (9L, vec(0, 1f).map(-_))
    ).toDF("vec_id", "embedding")
    val got = LlmDedup.semanticDedupDrops(e, tau = 0.9)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == Set(2L, 3L), s"exactly ids 2,3 drop, got ${got.keySet}")
    assert(got(2L)._1 == 1L && got(3L)._1 == 1L, "dup_of is the SMALLEST qualifying id")
    assert(math.abs(got(2L)._2 - 1.0) < 1e-12)
  }

  test("the LSH signature index survives a parquet round-trip as a silver artifact") {
    // qd13's scale story says the corpus signature relation lands ONCE
    // on disk and every batch band-joins against the read-back table —
    // pin that the persisted artifact behaves identically to the
    // in-memory relation (array<string> + array<long> columns intact)
    val docs = graft.util.Tables.load(spark, dir, "documents")
    val index = LlmDedup.lshSignatures(docs.filter(col("doc_id") % 2 === 0))
    val batch = LlmDedup.lshSignatures(docs.filter(col("doc_id") % 2 === 1))
    val out = tempDir("graft-sigidx")
    try {
      index.write.mode("overwrite").parquet(s"$out/sig_index")
      val fromDisk = spark.read.parquet(s"$out/sig_index")
      def run(idx: org.apache.spark.sql.DataFrame) =
        LlmDedup.lshIncrementalPairs(idx, batch)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val mem = run(index)
      assert(run(fromDisk) == mem, "disk-backed index diverges from in-memory relation")
      assert(mem.nonEmpty, "testdata must produce at least one incremental pair")
    } finally {
      // the two signature relations are the only frames this test
      // persists — release exactly them (clearCache would also evict
      // other suites' entries in the shared session)
      index.unpersist(blocking = false)
      batch.unpersist(blocking = false)
    }
  }

  test("qd16 never lets a cluster straddle the split; singletons assign by their own id") {
    import spark.implicits._
    val docIds = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    val labels = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L)).toDF("doc_id", "cluster_id")
    val got = LlmDedup.leakageFreeSplit(docIds, labels)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got(1L) == ((1L, "train")) && got(2L) == ((1L, "train")),
      "cluster 1 co-assigns to train")
    assert(got(10L) == ((10L, "val")) && got(11L) == ((10L, "val")),
      "cluster 10 co-assigns to val — member 11 must NOT follow its own id")
    assert(got(3L) == ((3L, "train")) && got(20L) == ((20L, "val")),
      "singletons are their own cluster")
  }

  test("qd18 XL summary matches qd11's per-doc decisions, and the bench side does NOT broadcast") {
    import spark.implicits._
    // same planted corpus as the qd11 test: exact copy (10000 bps),
    // half-overlap (crosses 10%), disjoint (0 bps); shingle counts:
    // copy 8, half-overlap 9 (11 tokens), disjoint 7 (9 tokens)
    val bench = "the quick brown fox jumps over the lazy dog tonight"
    val corpus = Seq(
      (1L, "bench", bench),
      (10L, "train", bench),
      (11L, "train", "the quick brown fox jumps over a cliff edge instead today"),
      (12L, "train", "alpha bravo charlie delta echo foxtrot golf hotel india")).toDF(
      "doc_id", "source", "text")
    val df = LlmDedup.contaminationSummaryXl(corpus, "bench", 1000L)
    val got = df.collect()
    assert(got.length == 1 && got(0).getString(0) == "train",
      "benchmark source is not summarized")
    val r = got(0)
    assert(r.getAs[Long]("n_docs") == 3L)
    assert(r.getAs[Long]("n_contaminated") == 2L, "copy + half-overlap both cross 10%")
    assert(r.getAs[Long]("shingle_mass") == 24L)
    assert(r.getAs[Long]("dropped_mass") == 17L)
    assert(r.getAs[Long]("dropped_bps") == 17L * 10000L / 24L)
    // the XL regime's whole point: a shuffle join, never a broadcast of
    // the benchmark set (qd11's plan, asserted in its own test)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"bench probe must shuffle-merge:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"bench set must not broadcast in the XL plan:\n$plan")
  }

  test("qd18's overlap join accepts a runtime bloom filter once shingles are a silver scan") {
    import org.apache.spark.sql.functions.{array_distinct, explode, xxhash64}
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val out = tempDir("qd18bloom")
    try {
      val docsDf = graft.util.Tables.load(spark, dir, "documents")
      // the qd13 discipline: the shingle relation materialized as a
      // silver artifact, so the join keys are SCAN attributes
      docsDf.select(col("doc_id"), col("source"),
          explode(array_distinct(graft.functions.TextFns.shingles(col("text"), 3))).as("g"))
        .select(col("doc_id"), col("source"), xxhash64(col("g")).as("g"))
        .write.mode("overwrite").parquet(out)
      val sil = spark.read.parquet(out)
      val bench = sil.filter(col("source") === "src0").select("g").distinct()
      val probe = sil.filter(col("source") =!= "src0")
        .join(bench.hint("merge"), Seq("g"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
      assert(probe.queryExecution.optimizedPlan.toString.contains("might_contain"),
        "the silver-scan overlap join must accept a runtime bloom filter")
      // the documented caveat: the INLINE explode breaks key-to-scan
      // lineage, so injection declines there (Spark behavior pinned —
      // if this starts passing, qd18's docstring gets simpler)
      val inline = LlmDedup.contaminationSummaryXl(docsDf, "src0", 1000L)
      assert(!inline.queryExecution.optimizedPlan.toString.contains("might_contain"),
        "inline-explode shape unexpectedly accepted a bloom filter — update qd18 docs")
    } finally {
      saved.foreach { case (k, Some(v)) => conf.set(k, v); case (k, None) => conf.unset(k) }
    }
  }

  test("qt22 lift arithmetic on a planted two-source corpus") {
    import spark.implicits._
    // srcA = {x:3, common:1}, srcB = {y:3, common:1}; N = 8, n_s = 4
    // lift(x|A) = 3·8·10⁴ div (4·3) = 20000; lift(common|A) = 1·8·10⁴
    // div (4·2) = 10000; y never appears in A (no zero-count rows)
    val corpus = Seq(
      (1L, "srcA", "x x x common"),
      (2L, "srcB", "y y y common")).toDF("doc_id", "source", "text")
    val got = LlmText.domainDivergence(corpus, minCount = 1L, topK = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getAs[Long]("lift_bps"), r.getAs[Long]("n_source_tokens")))
    assert(got.toSeq == Seq(
      ("srcA", 1L, "x", 20000L, 4L), ("srcA", 2L, "common", 10000L, 4L),
      ("srcB", 1L, "y", 20000L, 4L), ("srcB", 2L, "common", 10000L, 4L)),
      s"got ${got.mkString(", ")}")
  }

  test("qt22 two-phase salted top-k equals the single-window rank on real testdata") {
    import org.apache.spark.sql.expressions.Window
    val docsDf = graft.util.Tables.load(spark, dir, "documents")
    val twoPhase = LlmText.qt22.fn(spark, dir).collect().toSeq
    // reference: the same lift relation ranked in ONE window (the
    // oracle's formulation) — the salting must be invisible in the result
    val st = docsDf
      .select(col("source"), explode(split(lower(col("text")), " ")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("term_count"))
    val srcTot = st.groupBy("source").agg(sum(col("term_count")).as("n_source_tokens"))
    val corp = st.groupBy("term").agg(sum(col("term_count")).as("corpus_count"))
    val n = st.agg(sum(col("term_count")).as("n_total"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("lift_bps").desc, col("term_count").desc, col("term"))
    val single = st.filter(col("term_count") >= 5)
      .join(srcTot, Seq("source")).join(corp, Seq("term")).crossJoin(broadcast(n))
      .withColumn("lift_bps",
        expr("term_count * n_total * 10000 div (n_source_tokens * corpus_count)"))
      .withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= 5)
      .select(col("source"), col("rank"), col("term"), col("term_count"),
        col("lift_bps"), col("n_source_tokens"))
      .orderBy("source", "rank").collect().toSeq
    assert(twoPhase == single,
      s"two-phase drifted from single-window rank:\ntwo-phase: $twoPhase\nsingle: $single")
    assert(twoPhase.nonEmpty)
  }
}
