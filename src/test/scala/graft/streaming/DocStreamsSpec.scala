package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSuite
import graft.queries.LlmText
import graft.streaming.DocStreams._

/** Streaming document curation pinned end-to-end: cross-trigger exact
  * dedup state, quality gating before dedup, scrub-last ordering, and
  * batch/stream parity of the composed pipeline.
  */
class DocStreamsSpec extends SparkSuite {
  import spark.implicits._

  // (doc_id, text, lang, source, n_chars) rows matching docSchema
  private def doc(id: Long, text: String, source: String = "s0") =
    (id, text, "en", source, text.length.toLong)

  private val goodText = "the quick brown fox jumps over the lazy dog and runs away to the hills again"
  // near-zero type-token ratio, no stopwords: score ≈ 0.05 « 0.3
  private val junkText = "zzz zzz zzz zzz zzz zzz zzz zzz zzz zzz zzz zzz"

  test("curate: dedups across triggers, drops junk, and scrubs PII — batch parity") {
    val dir = tempDir("graft-docsrc")
    val piiText = goodText + " contact jane9@corp.io or +1-555-0011 at 10.1.2.3"
    val batch1 = Seq(doc(1L, goodText), doc(2L, junkText), doc(3L, piiText))
    val batch2 = Seq(
      doc(4L, goodText, "s1"), // cross-trigger duplicate of doc 1 — must drop
      doc(5L, goodText + " with a different tail here"))
    batch1.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("append").parquet(s"$dir/in")

    val q = curate(readDocs(spark, s"$dir/in")).writeStream
      .format("memory").queryName("curated").outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    batch2.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("append").parquet(s"$dir/in")
    q.processAllAvailable()
    q.stop()

    val got = spark.table("curated").collect().map(r => r.getLong(0) -> r).toMap
    // doc 2 fails quality; doc 4 is a cross-trigger content dup of doc 1
    assert(got.keySet == Set(1L, 3L, 5L), s"got ${got.keySet}")
    // scrub runs last: every PII form redacted, non-PII text untouched
    val scrubbed = got(3L).getAs[String]("text")
    assert(scrubbed.contains("<EMAIL>") && scrubbed.contains("<PHONE>") && scrubbed.contains("<IP>"))
    assert(got(1L).getAs[String]("text") == goodText)

    // batch parity: the same composition over the full static input.
    // Batch dropDuplicates picks an arbitrary survivor within a content
    // group (stream picks first-arrival), so compare surviving CONTENT.
    val staticIn = (batch1 ++ batch2).toDF("doc_id", "text", "lang", "source", "n_chars")
    val inBatch = curate(staticIn).collect().map(_.getAs[String]("text")).sorted.toSeq
    assert(inBatch == got.values.map(_.getAs[String]("text")).toSeq.sorted)
  }

  test("curate order: dedup sees ORIGINAL text — PII-only differences don't collapse") {
    // two docs differing only inside their email redact to IDENTICAL
    // text; if scrub ran before dedup they would collapse onto one
    // content hash. Scrub-last keeps them distinct documents.
    val twins = Seq(
      doc(1L, goodText + " contact alice@corp.io now"),
      doc(2L, goodText + " contact bob@corp.io now"))
    val out = curate(twins.toDF("doc_id", "text", "lang", "source", "n_chars")).collect()
    assert(out.map(_.getLong(0)).toSet == Set(1L, 2L))
    // ...even though their redacted texts are now byte-identical
    val texts = out.map(_.getAs[String]("text")).distinct
    assert(texts.length == 1 && texts.head.contains("<EMAIL>"))

    // and case variants of the same content DO collapse (normalized
    // hash; batch dropDuplicates picks either survivor)
    val caseTwins = Seq(doc(1L, goodText), doc(2L, goodText.toUpperCase))
    val kept = curate(caseTwins.toDF("doc_id", "text", "lang", "source", "n_chars")).collect()
    assert(kept.length == 1)
  }

  test("NULL-text docs pass dedup untouched and pack as zero tokens") {
    val dir = tempDir("graft-docnull")
    // two DISTINCT no-content docs + one real dup pair
    Seq((1L, Option(goodText), "en", "s0", 10L),
        (2L, Option.empty[String], "en", "s0", 0L),
        (3L, Option.empty[String], "en", "s1", 0L),
        (4L, Option(goodText), "en", "s0", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("append").parquet(s"$dir/in")
    val q = dedupNew(readDocs(spark, s"$dir/in")).writeStream
      .format("memory").queryName("nulldedup").outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    val ids = spark.table("nulldedup").collect().map(_.getLong(0)).toSet
    assert(ids.intersect(Set(2L, 3L)) == Set(2L, 3L),
      "distinct no-content docs must not collapse as 'duplicates' of each other")
    assert(ids.intersect(Set(1L, 4L)).size == 1, "real content dups still dedup")
    // the packer tolerates the same rows instead of dying at the encoder
    val q2 = packStream(readDocs(spark, s"$dir/in")).toDF().writeStream
      .format("memory").queryName("nullpack").outputMode(OutputMode.Append()).start()
    q2.processAllAvailable(); q2.stop()
    val packed = spark.table("nullpack").collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_tokens")).toMap
    assert(packed.keySet == Set(1L, 2L, 3L, 4L))
    assert(packed(2L) == 0L && packed(3L) == 0L, "NULL text packs as zero tokens")
  }

  test("packStream: cross-trigger placements match the batch packer exactly") {
    // 60 docs with 1..13-token texts, delivered as two ordered drops —
    // the landing pattern the operator's determinism contract assumes.
    // Per-shard offset state must carry across the trigger boundary: a
    // doc in batch 2 continues its shard's token stream where batch 1
    // left it, never reopening a placed window.
    def mk(id: Long) = doc(id, Seq.tabulate((id % 13).toInt + 1)(i => s"w$i").mkString(" "))
    val batch1 = (0L until 37L).map(mk)
    val batch2 = (37L until 60L).map(mk)
    val dir = tempDir("graft-packsrc")
    // ONE file per drop: the determinism contract assumes ordered drops,
    // and a multi-part drop's files may be listed across trigger
    // boundaries in arbitrary order (a rare but real race — the split
    // pickup interleaves doc_ids across triggers and the layout
    // legitimately diverges from batch)
    batch1.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(1).write.mode("append").parquet(s"$dir/in")
    val q = packStream(readDocs(spark, s"$dir/in")).toDF().writeStream
      .format("memory").queryName("packed").outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    batch2.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(1).write.mode("append").parquet(s"$dir/in")
    q.processAllAvailable()
    q.stop()

    val cols = Seq("doc_id", "shard", "n_tokens", "seq_id", "seq_offset", "spans_boundary")
    val got = spark.table("packed").select(cols.map(col): _*)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].longValue)
    val statics = (batch1 ++ batch2).toDF("doc_id", "text", "lang", "source", "n_chars")
    val want = LlmText.packSequences(statics).select(cols.map(col): _*)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].longValue)
    assert(got.length == 60 && got.toSeq == want.toSeq,
      s"stream layout diverged from batch:\n got=${got.take(5).toSeq}\nwant=${want.take(5).toSeq}")
  }

  test("writeCurated lands idempotent batch/source-partitioned parquet") {
    val dir = tempDir("graft-docsink")
    Seq(doc(1L, goodText), doc(2L, goodText + " tail", "s1"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("append").parquet(s"$dir/in")
    val q = writeCurated(curate(readDocs(spark, s"$dir/in")), s"$dir/out", s"$dir/ckpt")
    q.processAllAvailable()
    q.stop()
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() == 2)
    assert(back.columns.contains("_batch_id"))
    val sourceParts = back.select("source").distinct().collect().map(_.getString(0)).sorted
    assert(sourceParts.toSeq == Seq("s0", "s1"))
  }

  test("near-dup gate flags stream docs against the static index, across triggers — batch parity") {
    import graft.queries.LlmDedup
    val base = "the quick brown fox jumps over the lazy dog and runs far away " +
      "to the green hills beyond the quiet river tonight"
    val indexDocs = Seq(doc(1L, base), doc(2L, base.replace("quick", "sleepy")),
        doc(3L, "completely different content about spark engines and shuffles here today"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val indexSig = LlmDedup.lshSignatures(indexDocs)
    try {
      val dir = tempDir("graft-neardup")
      val batch1 = Seq(
        doc(11L, base + " extra"), // near-dup of index doc 1 (and likely 2)
        doc(12L, "unrelated text with plenty of tokens to shingle but nothing in common whatsoever"))
      val batch2 = Seq(doc(13L, base.replace("quick", "sleepy"))) // exact copy of index doc 2
      batch1.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("append").parquet(s"$dir/in")
      val q = nearDupAgainstIndex(readDocs(spark, s"$dir/in"), indexSig)
        .writeStream.format("memory").queryName("neardup")
        .outputMode(OutputMode.Append()).start()
      q.processAllAvailable()
      batch2.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      q.stop()
      val got = spark.table("neardup").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(got.contains((11L, 1L)), s"doc 11 must flag index doc 1, got ${got.keySet}")
      assert(got.contains((13L, 2L)) && got((13L, 2L)) == 1.0,
        "cross-trigger exact copy must flag with jaccard 1.0")
      assert(!got.keySet.exists(_._1 == 12L), "unrelated doc must not flag")
      assert(got.values.forall(_ >= 0.5))
      // batch parity: the qd13 incremental join over the same frames
      // emits exactly the same verified pairs
      val streamDocs = (batch1 ++ batch2).toDF("doc_id", "text", "lang", "source", "n_chars")
      val inBatch = LlmDedup.lshIncrementalPairs(indexSig, LlmDedup.lshSignatures(streamDocs))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(inBatch == got, s"stream $got vs batch $inBatch")
    } finally {
      indexSig.unpersist(blocking = true)
      spark.catalog.clearCache() // lshSignatures(streamDocs) persisted too
    }
  }

  test("distinctMonitor: cross-trigger sketch state matches batch hll_sketch_agg") {
    val dir = tempDir("graft-docmon")
    // s0 lands 5 docs / 3 distinct contents across two triggers (one
    // cross-trigger repeat); s1 lands 3 docs / 2 distinct
    def d(id: Long, content: Int, source: String) =
      doc(id, s"content number $content of source $source", source)
    val batch1 = Seq(d(1, 1, "s0"), d(2, 2, "s0"), d(3, 1, "s0"), d(4, 1, "s1"))
    val batch2 = Seq(d(5, 3, "s0"), d(6, 1, "s0"), d(7, 2, "s1"), d(8, 1, "s1"))
    batch1.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("append").parquet(s"$dir/in")
    val q = distinctMonitor(readDocs(spark, s"$dir/in")).toDF().writeStream
      .format("memory").queryName("cardmon").outputMode(OutputMode.Update()).start()
    q.processAllAvailable()
    batch2.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("append").parquet(s"$dir/in")
    q.processAllAvailable()
    q.stop()
    // last update per source = the row with that source's max n_docs
    val last = spark.table("cardmon").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (s, rs) => s -> rs.maxBy(_._2) }
    assert(last("s0")._2 == 5L && last("s1")._2 == 3L)
    // the batch estimate over the same rows, same sketch family + lgK —
    // register state is order/trigger-insensitive, so EQUAL, not close
    val batchEst = (batch1 ++ batch2).toDF("doc_id", "text", "lang", "source", "n_chars")
      .groupBy("source")
      .agg(hll_sketch_estimate(
        hll_sketch_agg(graft.functions.TextFns.contentHash(col("text")), lit(12))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(last("s0")._3 == batchEst("s0") && last("s1")._3 == batchEst("s1"),
      s"stream $last vs batch $batchEst")
    assert(last("s0")._3 == 3L && last("s1")._3 == 2L,
      "coupon-exact range: estimates are the true distinct counts")
  }

  test("dedupNewWithinHorizon: dups drop inside the horizon; state evicts past it") {
    import org.apache.spark.sql.types._
    val dir = tempDir("graft-ttldedup")
    val schema = docSchema.add(StructField("ingest_ts", TimestampType))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def d(id: Long, text: String, at: String) =
      (id, text, "en", "s0", text.length.toLong, ts(at))
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars", "ingest_ts")

    // batch 1: the original lands at 10:00
    Seq(d(1L, goodText, "2026-01-01 10:00:00"))
      .toDF(cols: _*).write.mode("append").parquet(s"$dir/in")
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    val q = dedupNewWithinHorizon(stream, "ingest_ts", "10 minutes")
      .writeStream.format("memory").queryName("ttldedup")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()

    // batch 2: a copy at 10:05 — INSIDE the horizon, must drop (this is
    // the batch-parity half: same verdict dedupNew/batch dedup gives).
    // Doc 3 at 11:00 advances the watermark to 10:50 for batch 3,
    // evicting doc 1's state entry (expired 10:10).
    Seq(d(2L, goodText, "2026-01-01 10:05:00"),
        d(3L, goodText + " fresh tail", "2026-01-01 11:00:00"))
      .toDF(cols: _*).write.mode("append").parquet(s"$dir/in")
    q.processAllAvailable()

    // batch 3: another copy at 10:55 — AFTER the original's horizon and
    // above the 10:50 watermark: state was evicted, so it RE-ADMITS
    Seq(d(4L, goodText, "2026-01-01 10:55:00"))
      .toDF(cols: _*).write.mode("append").parquet(s"$dir/in")
    q.processAllAvailable()

    val ids = spark.table("ttldedup").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L, 4L),
      s"want in-horizon dup 2 dropped, post-horizon dup 4 re-admitted; got $ids")

    // and the state store really shrank: after batch 3 only the NEW
    // entries live (docs 3 and 4) — doc 1's entry is gone
    val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    q.stop()
    assert(stateRows == 2L, s"state rows $stateRows — horizon eviction must have run")
  }

  test("distinctMonitor state stays register-bounded regardless of stream length") {
    // the monitor exists because dedupNew's exact state grows with
    // unique corpus size; the sketch state must not. 50k distinct
    // updates: serialized size is capped by the register array.
    import org.apache.datasketches.hll.HllSketch
    val sk = new HllSketch(12)
    (0 until 50000).foreach(i => sk.update(s"content-$i"))
    val bytes = sk.toUpdatableByteArray.length
    assert(bytes < 40 * 1024, s"state bytes $bytes must be register-bounded (~2^12)")
    // and the batch-mode run of the same operator stays within the
    // ±3σ tolerance at this cardinality (estimate, not exact, out here)
    val big = spark.range(0, 50000).select(
      col("id").as("doc_id"),
      concat(lit("content number "), col("id")).as("text"),
      lit("en").as("lang"), lit("s0").as("source"), lit(10L).as("n_chars"))
    val est = distinctMonitor(big).collect().head.distinct_est
    assert(math.abs(est - 50000L) <= 2500, s"estimate $est vs 50000")
  }
}
