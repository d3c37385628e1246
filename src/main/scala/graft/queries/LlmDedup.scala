package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graft.shims.tempDir

import graft.util.Tables.{load, loadSpread}
import graft.functions.TextFns._
import graft.functions.VectorFns

/** Deduplication operators for large-scale training-data pipelines, over
  * the `documents` / `embeddings` tables: exact (hash-groupBy), n-gram
  * Jaccard, MinHash signatures + LSH banding, SimHash, and embedding-
  * cosine near-dup.
  *
  * Scale design: every variant is a shuffle-on-key plan — hash keys,
  * shingles, LSH band buckets — never an all-pairs comparison, except
  * where a blocking key (label / band) bounds the pair count first. At
  * 100 TB the shingle-explode join is the canonical near-dup plan
  * (band-bucket join ~ linear in corpus size), while brute-force pair
  * queries here exist as oracle-checkable baselines.
  */
object LlmDedup {

  private def docs(s: SparkSession, dir: String): DataFrame = load(s, dir, "documents")

  /** Spread variant for the shingle-join queries (qd02/qd04): their
    * pre-shuffle work (shingle explode + join build) is heavy enough
    * that fanning the single-row-group scan across all cores wins;
    * for the cheap single-pass queries the extra shuffle LOSES (both
    * measured at sf0.1 — see Tables.loadSpread).
    */
  private def docsSpread(s: SparkSession, dir: String): DataFrame =
    loadSpread(s, dir, "documents")

  // DuckDB fragment: polynomial char hash of string expr S, matching
  // TextFns.polyHash(S, mult, mod). f(0,c1)=c1 makes init-less
  // list_reduce equal Spark's 0-seeded fold.
  private def duckPolyHash(s: String, mult: Long, mod: Long): String =
    s"list_reduce(list_transform(range(1, len($s)+1), i -> ascii(substr($s,i,1))), (a,b) -> (a::BIGINT*$mult+b) % $mod)"

  private def duckHash62(s: String): String =
    s"${duckPolyHash(s, 31L, Mod31)} + ${duckPolyHash(s, 37L, Mod31)} * 2147483648"

  // ---------------------------------------------------------------------
  // qd01 — exact dedup stats via content-hash groupBy: the O(n) scale
  // path (md5 of normalized text as the shuffle key).
  val qd01 = Q(
    "qd01_dedup_exact",
    """SELECT source, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT md5(lower(text))) AS n_unique_texts,
      |  COUNT(*) - COUNT(DISTINCT md5(lower(text))) AS n_duplicates
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (s, dir) =>
    val h = contentHash(col("text"))
    docs(s, dir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(h).as("n_unique_texts"),
        (count(lit(1)) - countDistinct(h)).as("n_duplicates"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------------
  // qd02 — word-3-gram Jaccard near-dup pairs, exact. Plan: explode
  // distinct shingles, group by the SHINGLE collecting the (tiny) posting
  // list of doc_ids, emit ordered pairs within each posting list, count
  // intersections, Jaccard from set sizes. No self-join: a shingle
  // self-join materializes the whole exploded table twice and (under
  // size misestimation) broadcasts millions of exploded rows; the
  // posting-list form is the inverted-index plan — ONE shuffle keyed on
  // an 8-byte shingle hash carrying only doc_ids, pair blow-up bounded
  // by df² per shingle.
  // 3-grams (not 2-grams) on purpose: doc-frequency bounds the pair
  // count. On this corpus 2-grams have ~900 distinct values with df in
  // the hundreds (≈36M pairs at sf0.1 — quadratic in df, fatal at
  // 100 TB), while 3-grams have ~27K distinct values with max df ≈ 25.
  // On top of that, a HARD df cap (MaxDf) drops stop-shingles outright —
  // the capping a production near-dup miner applies: a hot shingle with
  // df=1M would otherwise concentrate a 1M-entry posting list in ONE
  // aggregation row (single-task memory) and emit df² pairs. The cap
  // makes `inter` a lower bound for pairs that share a dropped
  // stop-shingle — acceptable: a shingle shared by >MaxDf docs carries
  // ~zero signal about any one pair. Mirrored in the oracle SQL, so the
  // semantics are pinned, not test-SF luck (corpus max df ≈ 25 « 1000).
  // (xxhash64 on the shingle replaces the string as the
  // group key: 8-byte shuffle key; a collision needs two distinct
  // shingles in overlapping docs agreeing on 64 bits — ~1e-11 here.)
  private val MaxDf = 1000
  val qd02 = Q(
    "qd02_jaccard_pairs",
    s"""WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
      |         THEN list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |         ELSE [] END) AS s FROM tok),
      |ex0 AS (SELECT doc_id, unnest(s) AS g FROM sh),
      |keep AS (SELECT g FROM ex0 GROUP BY g HAVING COUNT(*) BETWEEN 2 AND $MaxDf),
      |ex AS (SELECT ex0.doc_id, ex0.g FROM ex0 JOIN keep USING (g)),
      |sz AS (SELECT doc_id, len(s)::BIGINT AS n FROM sh),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
      |      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT p.doc_a, p.doc_b, p.inter, sa.n AS n_a, sb.n AS n_b,
      |  CAST(p.inter AS DOUBLE) / CAST(sa.n + sb.n - p.inter AS DOUBLE) AS jaccard
      |FROM p JOIN sz sa ON p.doc_a = sa.doc_id JOIN sz sb ON p.doc_b = sb.doc_id
      |WHERE CAST(p.inter AS DOUBLE) / CAST(sa.n + sb.n - p.inter AS DOUBLE) >= 0.05
      |ORDER BY jaccard DESC, doc_a, doc_b
      |LIMIT 100""".stripMargin) { (s, dir) =>
    jaccardPairs(docsSpread(s, dir), MaxDf)
  }

  /** qd02's inverted-index plan with an injectable df cap (the Q above
    * fixes it at MaxDf; JaccardSkewSpec plants a corpus AT the cap).
    */
  def jaccardPairs(docsDf: DataFrame, maxDf: Int): DataFrame = {
    val pairs = shinglePairStats(docsDf, maxDf)
    val jac = col("inter").cast(DoubleType) / (col("n_a") + col("n_b") - col("inter")).cast(DoubleType)
    pairs
      .select(col("doc_a"), col("doc_b"), col("inter"), col("n_a"), col("n_b"), jac.as("jaccard"))
      .filter(jac >= 0.05)
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(100)
  }

  /** The inverted-index pair-statistics core shared by qd02 (Jaccard)
    * and qd20 (containment): (doc_a, doc_b, inter, n_a, n_b) for every
    * doc pair sharing ≥1 kept shingle, doc_a < doc_b. See qd02's
    * comment for the full plan rationale.
    */
  def shinglePairStats(docsDf: DataFrame, maxDf: Int): DataFrame = {
    val d = docsDf.select(col("doc_id"), array_distinct(shingles(col("text"), 3)).as("s"))
    // each posting entry carries the doc's set size, so Jaccard needs no
    // lookup join afterwards
    val entries = d
      .select(struct(col("doc_id"), size(col("s")).cast(LongType).as("n")).as("dn"),
        explode(col("s")).as("g"))
      .select(col("dn"), xxhash64(col("g")).as("hg"))
    // Pass 1 — df per shingle hash. count() partially aggregates
    // map-side, so a stop-shingle ("in the of", df ≈ corpus size) costs
    // one long per map partition on the wire and in the final buffer —
    // never a posting list. Keep only 2 ≤ df ≤ maxDf: df=1 shingles
    // contribute no pairs; over-cap stop-shingles are dropped outright.
    val keep = entries
      .groupBy("hg").agg(count(lit(1)).as("df"))
      .filter(col("df") > 1 && col("df") <= maxDf)
      .select("hg")
    // Pass 2 — semi-join drops stop-shingle entries BEFORE any list is
    // built: every collect_list buffer is ≤ maxDf entries by
    // construction. The old single-pass form (collect_list first, size
    // filter after) materialized the FULL posting list of an over-cap
    // shingle in one aggregation buffer and only then discarded it —
    // single-task OOM at corpus scale. Price of the fix: the shingle
    // explode runs twice (once per pass, recomputed from the scan —
    // cheaper at 100 TB than caching the exploded table), plus one
    // extra hg-keyed shuffle for the semi-join. Both sides of that join
    // shuffle on hg, and `keep` carries hg alone (8 bytes/row).
    val postings = entries
      .join(keep, Seq("hg"), "left_semi")
      .groupBy("hg").agg(collect_list(col("dn")).as("ids"))
    // Ordered pairs within each posting list (≤ df² rows per shingle).
    // The repartition between the two explodes spreads a hot shingle's
    // fan-out: a posting AT the df cap would otherwise emit ~cap²/2 pair
    // rows from ONE task's Generate (the straggler shape at adversarial
    // skew); hashing the once-exploded entries by their left doc spreads
    // that across the cluster AND co-locates equal (a,b) rows from
    // different shingles, so the pair count partially aggregates
    // map-side where the shingle-keyed layout could not. Measured cost
    // on the no-skew corpus (max df ≈ 25, sf0.1, warmed): 1.52 s →
    // 1.76 s — the price of not stalling a 1000-executor stage behind
    // one cap²/2-row task when a corpus saturates the cap.
    postings
      .select(explode(col("ids")).as("a"), col("ids"))
      .repartition(col("a"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"),
        min(col("a.n")).as("n_a"), min(col("b.n")).as("n_b")) // constant per group
  }

  // ---------------------------------------------------------------------
  // qd03 — MinHash signatures (k=16) over word-3-gram shingles. The
  // signature itself is oracle-checked value-by-value; LSH banding over
  // it is qd04.
  val qd03 = Q(
    "qd03_minhash_signatures",
    s"""WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
       |         THEN list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |         ELSE [] END) AS s FROM tok),
       |hs AS (SELECT doc_id, list_transform(s, g -> ${duckPolyHash("g", 31L, ModBig)}) AS h FROM sh)
       |SELECT doc_id, j,
       |  list_min(list_transform(h, x -> (x*(389*(j+1)+1) + 211*(j+1)+7) % $ModBig)) AS minhash
       |FROM hs, range(0, 16) r(j)
       |ORDER BY doc_id, j""".stripMargin) { (s, dir) =>
    // Plan shape: explode shingles → hash each ONCE (the Generate is a
    // projection barrier, so the char-level hash isn't duplicated into
    // the 16 per-permutation lambdas) → ONE two-phase aggregate with 16
    // MIN columns (map-side combine reduces each partition to one row
    // per doc BEFORE the shuffle — 16 longs per doc on the wire, not 16
    // rows) → unpivot to (doc_id, j, minhash) after the shuffle. This is
    // the distributed-minhash plan that scales linearly in corpus size.
    val mins = (0 until 16).map(j =>
      min((col("h") * lit(389L * (j + 1) + 1) + lit(211L * (j + 1) + 7)) % lit(ModBig))
        .as(s"_m$j"))
    docs(s, dir)
      .select(col("doc_id"), explode(array_distinct(shingles(col("text"), 3))).as("g"))
      .select(col("doc_id"), hash31(col("g")).as("h"))
      .groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        posexplode(array((0 until 16).map(j => col(s"_m$j")): _*)).as(Seq("j", "minhash")))
      .select(col("doc_id"), col("j").cast(LongType).as("j"), col("minhash"))
      .orderBy("doc_id", "j")
  }

  // ---------------------------------------------------------------------
  // qd04 — MinHash + LSH banding near-dup pairs (the 100 TB scale path:
  // candidate generation is a groupBy on (band, band-signature), never a
  // pairwise scan; candidates are then verified with exact Jaccard).
  // The oracle replays the whole pipeline — signatures, band keys,
  // band-bucket candidate join, exact-Jaccard verify — in DuckDB list
  // SQL; `WHERE len(s) > 0` mirrors Spark's explode dropping docs with
  // no shingles.
  /** The MinHash signature + shingle-set relation `(doc_id, sh, sig)`
    * behind qd04/qd09, PERSISTED — and the CALLER OWNS THE CACHE: four
    * consumers read it (both sides of the band self-join, both sides of
    * the Jaccard verify), they prune different columns, so their
    * subplans differ and ReuseExchange can't dedupe them — without the
    * persist the shingle explode + 16-min aggregate runs four times
    * (measured 8 parquet scans). Call `.unpersist()` on the returned
    * frame after the final action over anything derived from it
    * (CacheContractSpec pins the release; Bench/Verify clearCache
    * between queries covers the harness path). At 100 TB this
    * materialization is the signature table a production pipeline lands
    * as a silver artifact before banding.
    */
  def lshSignatures(docs: DataFrame): DataFrame = {
    val k = 16
    // Signature + shingle set in ONE grouped pass over exploded shingles:
    // each shingle is hashed exactly once (Generate is a projection
    // barrier), then k MIN aggregates + collect_list run as a single
    // two-phase aggregation. Computing the signature array inline with
    // higher-order lambdas instead re-evaluates the char-level hash k
    // times per shingle in interpreted (CodegenFallback) eval — measured
    // 30× slower at sf0.1.
    val mins = (0 until k).map(j =>
      min((col("h") * lit(389L * (j + 1) + 1) + lit(211L * (j + 1) + 7)) % lit(ModBig))
        .as(s"_m$j"))
    docs
      .select(col("doc_id"), explode(array_distinct(shingles(col("text"), 3))).as("g"))
      .select(col("doc_id"), col("g"), hash31(col("g")).as("h"))
      .groupBy("doc_id")
      .agg(collect_list(col("g")).as("sh"), mins: _*)
      .select(col("doc_id"), col("sh"),
        array((0 until k).map(j => col(s"_m$j")): _*).as("sig"))
      .persist()
  }

  /** LSH banding + candidate equi-join + exact-Jaccard verify over a
    * signature relation from [[lshSignatures]].
    */
  /** LSH band keys for a [[lshSignatures]]-shaped relation: one row per
    * (doc, band), key = the band's slice of the signature. Shared by the
    * self-join (qd04), the incremental new-vs-index join (qd13), and the
    * streaming gate (graft.streaming.DocStreams.nearDupAgainstIndex).
    * `carry` threads extra columns through the explode (the streaming
    * path carries the shingle set so verification needs no second join);
    * batch callers leave it empty to keep the banded shuffle slim.
    */
  // ONE banding geometry for every LSH path (batch self-join, batch
  // incremental, streaming gate): 4 bands of 4 rows over the k=16
  // signature. Any change here propagates to all of them at once.
  private[graft] val LshBands = 4
  private[graft] val LshBandRows = 4

  private[graft] def lshBanded(sig: DataFrame, carry: Seq[String] = Nil): DataFrame =
    sig.select(Seq(
      col("doc_id"),
      explode(sequence(lit(0), lit(LshBands - 1))).as("band"),
      col("sig")) ++ carry.map(col): _*)
      .select(Seq(col("doc_id"), col("band"),
        concat_ws("-", slice(col("sig"), col("band") * LshBandRows + 1, lit(LshBandRows))).as("band_key"))
        ++ carry.map(col): _*)

  /** All of a signature's band keys as ONE array column — the same
    * geometry as [[lshBanded]] (shared constants), used by the streaming
    * gate's smallest-matching-band filter.
    */
  private[graft] def lshBandKeyArray(sig: DataFrame, as: String): DataFrame =
    sig.withColumn(as, transform(sequence(lit(0), lit(LshBands - 1)),
      b => concat_ws("-", slice(col("sig"), b * LshBandRows + 1, lit(LshBandRows)))))

  /** Exact Jaccard between two shingle-set columns, and the verify
    * threshold — ONE definition for qd04's self-join and qd13's
    * incremental join, so the two paths cannot silently diverge.
    */
  private[graft] def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast(DoubleType) /
      size(array_union(a, b)).cast(DoubleType)
  private[graft] val VerifyJaccard = 0.5

  /** Banded candidate pairs (doc_a < doc_b, distinct) for a
    * [[lshSignatures]]-shaped relation — the ONE definition of "LSH
    * candidate" shared by the verify pass ([[lshVerifiedPairs]]) and the
    * audit queries (qd21's sketch calibration, qd22's cluster quality),
    * so a geometry change can never drift between them.
    */
  private[graft] def lshCandidatePairs(sig: DataFrame): DataFrame = {
    val banded = lshBanded(sig)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  def lshVerifiedPairs(sig: DataFrame): DataFrame = {
    val cand = lshCandidatePairs(sig)
    // verify candidates with exact Jaccard on the shingle sets
    val sets = sig.select(col("doc_id"), col("sh"))
    cand
      .join(sets.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("sa.sh"), col("sb.sh")).as("jaccard"))
      .filter(col("jaccard") >= VerifyJaccard)
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
  }

  /** Incremental dedup: verified near-dup pairs between a NEW batch and
    * an existing signature INDEX — never new-vs-new or index-vs-index.
    * This is how a batched 100 TB ingestion actually dedups: the corpus
    * signature relation lands once as a silver artifact (see
    * [[lshSignatures]]'s contract), and each incoming batch band-joins
    * against it — cost scales with the BATCH, not the corpus, and the
    * index side shuffles only its band keys. Emits the incoming doc
    * (`doc_id`), the index doc it duplicates (`dup_of`), and the exact
    * Jaccard; the batch's internal duplicates are a separate
    * [[lshVerifiedPairs]] pass over the batch alone.
    */
  def lshIncrementalPairs(indexSig: DataFrame, newSig: DataFrame): DataFrame = {
    val cand = lshBanded(indexSig).as("a")
      .join(lshBanded(newSig).as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key"))
      .select(col("b.doc_id").as("doc_id"), col("a.doc_id").as("dup_of"))
      .distinct()
    cand
      .join(newSig.select(col("doc_id"), col("sh")).as("sn"), Seq("doc_id"))
      .join(indexSig.select(col("doc_id").as("dup_of"), col("sh").as("_ish")).as("si"), Seq("dup_of"))
      .select(col("doc_id"), col("dup_of"),
        jaccard(col("sh"), col("_ish")).as("jaccard"))
      .filter(col("jaccard") >= VerifyJaccard)
      .orderBy(col("jaccard").desc, col("doc_id"), col("dup_of"))
  }

  // DuckDB CTE prefix computing the shingle sets, MinHash signatures and
  // LSH band keys for every doc — the shared front end of qd04 (self-
  // join), qd09/qd12 (clustering) and qd13 (incremental new-vs-index).
  private def duckBandedCtes(src: String = "documents"): String =
    s"""tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM $src),
       |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
       |         THEN list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |         ELSE [] END) AS s FROM tok),
       |hs AS (SELECT doc_id, s, list_transform(s, g -> ${duckPolyHash("g", 31L, ModBig)}) AS h
       |       FROM sh WHERE len(s) > 0),
       |sig AS (SELECT doc_id, s,
       |        list_transform(range(0, 4), band ->
       |          array_to_string(list_transform(range(band*4, band*4+4), j ->
       |            list_min(list_transform(h, x -> (x*(389*(j+1)+1) + 211*(j+1)+7) % $ModBig))), '-')) AS bkeys
       |        FROM hs),
       |banded AS (SELECT doc_id, r.b AS band, bkeys[r.b+1] AS band_key FROM sig, range(0,4) r(b))""".stripMargin

  val qd04 = Q(
    "qd04_minhash_lsh_pairs",
    s"""WITH ${duckBandedCtes()},
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM banded a JOIN banded b
       |           ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |jac AS (SELECT doc_a, doc_b,
       |        CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
       |        CAST(len(list_distinct(list_cat(sa.s, sb.s))) AS DOUBLE) AS jaccard
       |      FROM cand JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.5
       |ORDER BY jaccard DESC, doc_a, doc_b""".stripMargin) { (s, dir) =>
    // the signature relation stays cached under lshSignatures' caller-
    // owns-the-cache contract; the harness (Bench/Verify) clears between
    // queries, while library callers use lshSignatures/lshVerifiedPairs
    // directly and unpersist after their final action
    lshVerifiedPairs(lshSignatures(docsSpread(s, dir)))
  }

  // ---------------------------------------------------------------------
  // qd05 — SimHash fingerprints (62-bit, majority vote per bit over token
  // hashes): near-dup docs land within small Hamming distance.

  /** SimHash fingerprint relation (doc_id, simhash), shared by qd05 and
    * qd10. Explode tokens → hash each ONCE → 62 per-bit vote SUMs in a
    * single two-phase hash aggregate, then reassemble the fingerprint
    * from the vote signs. Same result as the array-lambda formulation
    * but the hot path (one hash per token + 62 shift/add per row) is a
    * plain codegen'd aggregate instead of interpreted nested lambdas.
    */
  private def simhashRel(s: SparkSession, dir: String): DataFrame = {
    val votes = (0 until 62).map(b =>
      sum(shiftright(col("h"), b) % lit(2L) * lit(2L) - lit(1L)).as(s"_v$b"))
    val fp = (0 until 62).map(b =>
      when(col(s"_v$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    docs(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tk"))
      .select(col("doc_id"), hash62(col("tk")).as("h"))
      .groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
  }

  // DuckDB CTE prefix computing the same (doc_id, simhash) relation.
  private def duckSimhashCtes: String =
    s"""tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
       |th AS (SELECT doc_id, list_transform(t, g -> ${duckHash62("g")}) AS h FROM tok),
       |sig AS (SELECT doc_id,
       |  list_reduce(list_transform(range(0, 62), b ->
       |    CASE WHEN list_reduce(list_transform(h, x -> ((x >> b) & 1)*2 - 1), (p,q) -> p+q) > 0
       |         THEN (1::BIGINT << b) ELSE 0::BIGINT END), (p,q) -> p+q) AS simhash
       |FROM th)""".stripMargin

  val qd05 = Q(
    "qd05_simhash",
    s"""WITH $duckSimhashCtes
       |SELECT doc_id, simhash FROM sig
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    simhashRel(s, dir).orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // qd10 — SimHash near-dup PAIRS via Hamming-ball banding (the pair-
  // generation half of the SimHash family; qd05 emits the fingerprints).
  // The classic web-dedup construction (Manku/Jain/Das Sarma, WWW'07
  // "Detecting Near-Duplicates for Web Crawling"): split the 62-bit
  // fingerprint into 4 contiguous bands (16+16+15+15 bits). A pair at
  // Hamming distance <= 3 differs in at most 3 bands, so by pigeonhole
  // it agrees EXACTLY on at least one band — candidates are an equi-join
  // on (band, band_value) with recall 1.0 inside the radius, and verify
  // is one codegen'd bit_count(xor) per candidate. Same plan family as
  // qd04's MinHash banding: shuffle on a band key, never all-pairs.
  //
  // 100 TB note: expected RANDOM collisions per band ≈ n²/2^(w+1), so a
  // 16-bit band saturates around n ≈ 10^5 docs per shard. Production
  // (Manku §3) keeps recall by widening the exact-match prefix and
  // taking t = C(k, d) block combinations instead of k contiguous bands
  // — the plan shape (equi-join per table on a band key + bit_count
  // verify) is IDENTICAL, only the band-key arithmetic and the number
  // of banded copies change; w scales as log2(n)+δ to hold collisions
  // per band at O(n).
  private val SimhashBandLayout: Seq[(Int, Int)] =
    Seq((0, 16), (16, 16), (32, 15), (47, 15)) // (low bit, width)
  private val MaxHamming = 3

  val qd10 = Q(
    "qd10_simhash_neardup",
    s"""WITH $duckSimhashCtes,
       |banded AS (SELECT doc_id, r.b AS band,
       |    (simhash >> ([0,16,32,47])[r.b+1]) & (([65535,65535,32767,32767])[r.b+1])::BIGINT AS band_key
       |  FROM sig, range(0,4) r(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM banded a JOIN banded b
       |           ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
       |FROM cand JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id
       |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= $MaxHamming
       |ORDER BY hamming, doc_a, doc_b""".stripMargin) { (s, dir) =>
    val sig = simhashRel(s, dir)
    val bandKeys = array(SimhashBandLayout.map { case (lo, w) =>
      shiftright(col("simhash"), lo).bitwiseAND(lit((1L << w) - 1))
    }: _*)
    // carry the 8-byte fingerprint THROUGH the banding explode: the pair
    // join verifies hamming from its own join row, eliminating the two
    // lookup joins back into the fingerprint relation — the fingerprint
    // aggregate runs twice (both self-join sides), not three times
    // (measured 6.4 s → 2.4 s at sf0.1). At bench SF one side broadcasts;
    // at scale both sides are the IDENTICAL shuffle (same pruning), so
    // ReuseExchange materializes it once. The distinct dedups multi-band
    // collisions; hamming is functionally dependent on the pair, so it
    // can sit inside it.
    val banded = sig.select(col("doc_id"), col("simhash"),
      posexplode(bandKeys).as(Seq("band", "band_key")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= MaxHamming)
      .orderBy("hamming", "doc_a", "doc_b")
  }

  // ---------------------------------------------------------------------
  // qd06 — embedding-cosine near-dup pairs, blocked by label (realistic
  // blocking: at 100 TB you never do unblocked all-pairs; the blocking
  // key here stands in for an LSH/IVF bucket).
  val qd06 = Q(
    "qd06_embedding_neardup",
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label,
       |  ${DuckSql.cosine("a.embedding", "b.embedding")} AS cos_sim
       |FROM embeddings a JOIN embeddings b
       |  ON a.label = b.label AND a.vec_id < b.vec_id
       |ORDER BY cos_sim DESC, id_a, id_b
       |LIMIT 100""".stripMargin) { (s, dir) =>
    val e = load(s, dir, "embeddings")
    e.as("a")
      .join(e.as("b"), col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("id_a"),
        col("b.vec_id").as("id_b"),
        col("a.label").as("label"),
        VectorFns.cosine(col("a.embedding"), col("b.embedding")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id_a"), col("id_b"))
      .limit(100)
  }

  // ---------------------------------------------------------------------
  // qd07 — sketch-based dedup stats: HLL++ approximate distinct content
  // hashes next to the exact count. At 100 TB the exact countDistinct
  // shuffles every distinct hash; the sketch is a constant-size partial
  // aggregate (one ~kilobyte buffer per group per partition) — the only
  // way to answer "how much duplication is there" in one pass over a
  // corpus that doesn't fit a shuffle. Sketch INTERNALS differ across
  // engines, so the raw approximate count can't hash-match an oracle;
  // instead the query emits the sketch's CONTRACT — a boolean "approx is
  // within 5% (or ±1) of exact" — which DuckDB expresses as a literal
  // TRUE expectation. The tighter per-source numbers are additionally
  // pinned in LlmQueriesSpec.
  val qd07 = Q(
    "qd07_dedup_sketch_stats",
    """SELECT source, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT md5(lower(text))) AS exact_unique,
      |  TRUE AS approx_ok
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (s, dir) =>
    val h = contentHash(col("text"))
    docs(s, dir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(h).as("exact_unique"),
        approx_count_distinct(h, 0.02).as("_approx"))
      .select(col("source"), col("n_docs"), col("exact_unique"),
        (abs(col("_approx") - col("exact_unique")).cast(DoubleType) <=
          greatest(lit(1.0), lit(0.05) * col("exact_unique"))).as("approx_ok"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------------
  // qd08 — embedding near-dup with sign-bit LSH blocking: the true
  // scale path qd06's label-blocking stands in for. Candidates are
  // LlmSimilarity's CORPUS-SCALED multi-table candidate set (band width
  // from an integer ladder over COUNT(*), 4 plane families, Hamming-1
  // probes, distinct pairs) — the round-6 fixed-64-bucket self-join was
  // O(n²/64), quadratic at scale, exactly the defect qs06 was called on;
  // all three embedding-pair queries (qs06/qd08/qd15) now share ONE
  // candidate definition, Spark-side and oracle-side. (This corpus has
  // no true near-dups — max pairwise cosine ≈ 0.5 — so the query
  // reports the top-100 most-similar blocked pairs rather than
  // thresholding; score exactness pinned against brute force in the
  // spec, recall-at-design-similarity in KnnJoinScaleSpec.)
  val qd08 = Q(
    "qd08_embedding_neardup_lsh",
    s"""WITH ${LlmSimilarity.scaledCandCtes}
       |SELECT vec_id AS id_a, neighbor_id AS id_b, cos_sim
       |FROM s WHERE vec_id < neighbor_id
       |ORDER BY cos_sim DESC, id_a, id_b
       |LIMIT 100""".stripMargin) { (s, dir) =>
    val e = load(s, dir, "embeddings").select("vec_id", "embedding")
    LlmSimilarity.knnCandidates(e, LlmSimilarity.joinPlanes(e.count()))
      .filter(col("vec_id") < col("neighbor_id"))
      .select(col("vec_id").as("id_a"), col("neighbor_id").as("id_b"), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id_a"), col("id_b"))
      .limit(100)
  }

  // ---------------------------------------------------------------------
  // qd09 — dedup clustering: connected components over qd04's verified
  // near-dup pairs, labeling every involved doc with its component's
  // minimum doc_id (the canonical representative a dedup pass keeps).
  // Spark-first iteration: driver-coordinated min-label propagation —
  // each round joins edges to labels, takes the per-node min, and stops
  // at fixpoint (the Pregel pattern with plain DataFrames). The edge set
  // is the VERIFIED pair list, which at 100 TB is sparse (tiny next to
  // the corpus), so every round is a small-key shuffle; rounds ~
  // component diameter, which for near-dup clusters is single digits.
  // The oracle computes the same components with a recursive CTE.
  // DuckDB CTE prefix computing qd04's verified pairs and their connected
  // components as `comp (doc_id, cluster_id)` — shared by qd09 and qd12.
  private def duckClusterCtes: String =
    s"""${duckBandedCtes()},
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM banded a JOIN banded b
       |           ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |pairs AS (SELECT doc_a, doc_b FROM cand JOIN sig sa ON doc_a = sa.doc_id
       |            JOIN sig sb ON doc_b = sb.doc_id
       |          WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
       |                CAST(len(list_distinct(list_cat(sa.s, sb.s))) AS DOUBLE) >= 0.5),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
       |comp AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src)""".stripMargin

  /** Spark twin of `duckClusterCtes`: qd04's verified near-dup pairs →
    * connected components, as `(doc_id, cluster_id)`.
    */
  private def clusterLabels(s: SparkSession, dir: String): DataFrame = {
    val pairs = qd04.fn(s, dir).select("doc_a", "doc_b")
    graft.ops.GraphOps.connectedComponents(pairs, "doc_a", "doc_b")
      .select(col("node").as("doc_id"), col("component").as("cluster_id"))
  }

  val qd09 = Q(
    "qd09_dedup_clusters",
    s"""WITH RECURSIVE $duckClusterCtes
       |SELECT c.doc_id, c.cluster_id, n.cluster_size
       |FROM comp c JOIN (SELECT cluster_id, COUNT(*) AS cluster_size
       |                  FROM comp GROUP BY cluster_id) n USING (cluster_id)
       |ORDER BY cluster_id, doc_id""".stripMargin) { (s, dir) =>
    val labels = clusterLabels(s, dir)
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .orderBy("cluster_id", "doc_id")
  }

  // ---------------------------------------------------------------------
  // qd11 — benchmark decontamination: for every training doc, the
  // fraction of its distinct 3-gram shingles that also appear in a
  // held-out benchmark set (here: source 'src0' plays the benchmark;
  // the real pipeline substitutes the eval suites). The canonical
  // test-set-leakage check a pretraining pipeline runs before training.
  //
  // Scale plan: the benchmark n-gram set is TINY next to the corpus
  // (benchmarks are thousands of docs, the corpus is billions), so the
  // distinct benchmark shingle hashes build one small relation that
  // Catalyst auto-broadcasts; the corpus side is a single explode →
  // broadcast-probe → per-doc count — one pass, one doc-keyed shuffle,
  // never a shuffle of the benchmark side. The overlap fraction is
  // emitted in exact integer basis points (no double division), so the
  // flag threshold is engine-exact.
  private val ContamBps = 1000L // flag docs with >= 10% benchmark overlap
  val qd11 = Q(
    "qd11_contamination",
    s"""WITH tok AS (SELECT doc_id, source, string_split(lower(text), ' ') AS t FROM documents),
       |sh AS (SELECT doc_id, source, list_distinct(CASE WHEN len(t) >= 3
       |         THEN list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |         ELSE [] END) AS s FROM tok),
       |hs AS (SELECT doc_id, source, s FROM sh WHERE len(s) > 0),
       |bench AS (SELECT DISTINCT unnest(s) AS g FROM hs WHERE source = 'src0'),
       |ex AS (SELECT doc_id, source, unnest(s) AS g FROM hs WHERE source <> 'src0'),
       |ov AS (SELECT e.doc_id, e.source,
       |         CAST(COUNT(*) AS BIGINT) AS n_shingles,
       |         CAST(SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
       |       FROM ex e LEFT JOIN bench b USING (g) GROUP BY 1, 2)
       |SELECT doc_id, source, n_shingles, n_overlap,
       |  n_overlap * 10000 // n_shingles AS overlap_bps,
       |  n_overlap * 10000 >= $ContamBps * n_shingles AS contaminated
       |FROM ov
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    contaminationStats(docs(s, dir), "src0", ContamBps)
  }

  /** qd11 core over any (doc_id, source, text) frame — injectable for
    * planted specs. See the qd11 comment for the plan shape.
    */
  def contaminationStats(docsDf: DataFrame, benchSource: String, thresholdBps: Long): DataFrame = {
    // The membership join runs on xxhash64 of the shingle — the same
    // 8-byte-key trick qd02 uses: a false hit needs two DISTINCT
    // shingles agreeing on 64 bits (~1e-11 here; a 31-bit hash would
    // fake ~0.1% phantom overlap per doc at billion-doc scale, real
    // mass next to a 10% threshold). The oracle joins on the shingle
    // STRING itself, so the comparison also polices collisions.
    val ex = docsDf
      .select(col("doc_id"), col("source"),
        explode(array_distinct(shingles(col("text"), 3))).as("g"))
      .select(col("doc_id"), col("source"), xxhash64(col("g")).as("g"))
    // benchmark branch: source pushdown reaches the scan, so this reads
    // only the benchmark rows; the distinct hash set is dim-sized
    val bench = ex.filter(col("source") === benchSource).select("g").distinct()
    ex.filter(col("source") =!= benchSource)
      .join(broadcast(bench.withColumn("_hit", lit(1))), Seq("g"), "left")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_shingles"),
        graft.util.Exact.countIf(col("_hit").isNotNull).as("n_overlap"))
      .select(col("doc_id"), col("source"), col("n_shingles"), col("n_overlap"),
        // SQL `div`: exact integer floor division at any magnitude
        expr("n_overlap * 10000 div n_shingles").as("overlap_bps"),
        (col("n_overlap") * lit(10000L) >= lit(thresholdBps) * col("n_shingles")).as("contaminated"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // qd12 — cluster-aware canonical selection: the decision step that
  // turns qd09's near-dup clusters into a dedup ACTION. Within each
  // cluster keep the highest-quality copy (qt02's weighted score;
  // ties broken by lowest doc_id), drop the rest — the "keep best, not
  // keep first" policy a curation pipeline applies where near-dups
  // differ in quality. Docs outside any cluster are implicit singleton
  // survivors; the output is one decision row per multi-doc cluster.
  //
  // Scale: the cluster relation is SPARSE (only docs in verified pairs),
  // so the quality join touches a small fraction of the corpus and the
  // per-cluster window partitions are near-dup-cluster-sized (single
  // digits) — no skew, no corpus-wide window.
  val qd12 = Q(
    "qd12_cluster_keep_best",
    s"""WITH RECURSIVE $duckClusterCtes,
       |q AS (
       |  SELECT doc_id,
       |    (CAST(len(list_distinct(t)) AS DOUBLE) / len(t)) * CAST(0.5 AS DOUBLE)
       |      + (CAST(len(list_filter(t, x -> x IN ('the', 'a', 'of', 'and', 'is', 'to', 'in'))) AS DOUBLE) / len(t)) * CAST(0.3 AS DOUBLE)
       |      + LEAST(CAST(1.0 AS DOUBLE), CAST(len(t) AS DOUBLE) / CAST(200.0 AS DOUBLE)) * CAST(0.2 AS DOUBLE) AS score
       |  FROM tok),
       |ranked AS (
       |  SELECT c.cluster_id, c.doc_id, q.score,
       |    ROW_NUMBER() OVER (PARTITION BY c.cluster_id ORDER BY q.score DESC, c.doc_id) AS rn
       |  FROM comp c JOIN q USING (doc_id))
       |SELECT cluster_id,
       |  CAST(COUNT(*) AS BIGINT) AS cluster_size,
       |  MAX(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc_id,
       |  CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
       |FROM ranked
       |GROUP BY cluster_id
       |ORDER BY cluster_id""".stripMargin) { (s, dir) =>
    keepBestPerCluster(
      clusterLabels(s, dir),
      docs(s, dir).select(col("doc_id"), qualityScore(col("text")).as("score")))
  }

  /** qd12 decision core over any `(doc_id, cluster_id)` labels +
    * `(doc_id, score)` quality frame — injectable for planted specs
    * pinning the keep-BEST (not keep-first) policy.
    */
  def keepBestPerCluster(labels: DataFrame, quality: DataFrame): DataFrame = {
    val w = Window.partitionBy("cluster_id").orderBy(col("score").desc, col("doc_id"))
    labels.join(quality, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .groupBy("cluster_id")
      .agg(
        count(lit(1)).as("cluster_size"),
        max(when(col("rn") === 1, col("doc_id"))).as("kept_doc_id"),
        (count(lit(1)) - lit(1)).as("n_dropped"))
      .orderBy("cluster_id")
  }

  // ---------------------------------------------------------------------
  // qd13 — incremental dedup against an existing index: even doc_ids
  // play the already-ingested corpus (whose signature relation a
  // production pipeline reads back from silver), odd doc_ids the
  // incoming batch. Only new-vs-index pairs are emitted — the join
  // shape whose cost scales with the batch, not the corpus (see
  // lshIncrementalPairs). The oracle replays both sides' banding from
  // the shared CTE prefix and applies the parity split in the
  // candidate join.
  val qd13 = Q(
    "qd13_incremental_dedup",
    s"""WITH ${duckBandedCtes()},
       |cand AS (SELECT DISTINCT b.doc_id AS doc_id, a.doc_id AS dup_of
       |         FROM banded a JOIN banded b
       |           ON a.band = b.band AND a.band_key = b.band_key
       |          AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1),
       |jac AS (SELECT c.doc_id, c.dup_of,
       |        CAST(len(list_intersect(sn.s, si.s)) AS DOUBLE) /
       |        CAST(len(list_distinct(list_cat(sn.s, si.s))) AS DOUBLE) AS jaccard
       |      FROM cand c JOIN sig sn ON c.doc_id = sn.doc_id
       |        JOIN sig si ON c.dup_of = si.doc_id)
       |SELECT doc_id, dup_of, jaccard FROM jac WHERE jaccard >= 0.5
       |ORDER BY jaccard DESC, doc_id, dup_of""".stripMargin) { (s, dir) =>
    val d = docsSpread(s, dir)
    // both signature relations stay cached under lshSignatures'
    // caller-owns-the-cache contract (same note as qd04)
    val index = lshSignatures(d.filter(col("doc_id") % 2 === 0))
    val batch = lshSignatures(d.filter(col("doc_id") % 2 === 1))
    lshIncrementalPairs(index, batch)
  }

  // ---------------------------------------------------------------------
  // qd14 — dedup clustering on the O(log²n)-round path: identical
  // semantics (and identical oracle SQL) to qd09, but the components
  // come from GraphOps.connectedComponentsStar (alternating large-star/
  // small-star rewrites) instead of min-label propagation. qd09's
  // rounds scale with component DIAMETER — right for near-dup blobs,
  // wrong for chain-shaped duplicate graphs (template families that
  // drift document-to-document), where diameter grows with cluster
  // size. The star path converges in O(log²n) rounds on any topology
  // and never materializes a node's full adjacency in one task, so at
  // 100 TB a viral template with millions of members costs log-rounds
  // of edge-list shuffles, not million-round propagation. Sharing
  // qd09's oracle makes the two engines' paths mutually checking: both
  // must hash-match the same recursive-CTE ground truth.
  val qd14 = Q(
    "qd14_dedup_clusters_star",
    s"""WITH RECURSIVE $duckClusterCtes
       |SELECT c.doc_id, c.cluster_id, n.cluster_size
       |FROM comp c JOIN (SELECT cluster_id, COUNT(*) AS cluster_size
       |                  FROM comp GROUP BY cluster_id) n USING (cluster_id)
       |ORDER BY cluster_id, doc_id""".stripMargin) { (s, dir) =>
    val pairs = qd04.fn(s, dir).select("doc_a", "doc_b")
    val labels = graft.ops.GraphOps.connectedComponentsStar(pairs, "doc_a", "doc_b")
      .select(col("node").as("doc_id"), col("component").as("cluster_id"))
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .orderBy("cluster_id", "doc_id")
  }

  // ---------------------------------------------------------------------
  // qd15 — embedding dedup DECISION (the SemDeDup policy, Abbas et al.
  // 2023): qd06/qd08 emit ranked near-dup PAIRS; this query turns them
  // into a keep/drop verdict — a vector is dropped iff some SMALLER-id
  // candidate neighbor has cosine ≥ τ, and its dup_of is the smallest
  // such candidate (deterministic, order-free — the same min-id
  // canonicalization qd01 applies to exact dups). Candidates are the
  // SAME corpus-scaled multi-table set as qs06/qd08 (one shared
  // definition both engines), so the decision inherits their scale
  // envelope: bounded per-vector candidates, recall held at the
  // near-dup design similarity by the table OR-construction. τ = 0.35
  // sits at this synthetic corpus's p99.9 pairwise cosine (production
  // embeddings of true near-dups cluster at ≥ 0.9 — the policy is
  // threshold-agnostic).
  private val SemDedupTau = 0.35
  val qd15 = Q(
    "qd15_semantic_dedup",
    s"""WITH ${LlmSimilarity.scaledCandCtes},
       |hit AS (SELECT vec_id, neighbor_id AS dup_of, cos_sim,
       |          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY neighbor_id) AS rn
       |        FROM s WHERE neighbor_id < vec_id AND cos_sim >= $SemDedupTau)
       |SELECT vec_id, dup_of, cos_sim FROM hit WHERE rn = 1
       |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    semanticDedupDrops(load(s, dir, "embeddings"), SemDedupTau)
  }

  /** qd15 decision core over any (vec_id, embedding) frame — injectable
    * for planted specs pinning the drop-iff-smaller-id-neighbor policy.
    * See the qd15 comment for the plan shape.
    */
  def semanticDedupDrops(embDf: DataFrame, tau: Double): DataFrame = {
    val e = embDf.select(col("vec_id"), col("embedding"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("dup_of"))
    LlmSimilarity.knnCandidates(e, LlmSimilarity.joinPlanes(e.count()))
      .filter(col("neighbor_id") < col("vec_id") && col("cos_sim") >= tau)
      .select(col("vec_id"), col("neighbor_id").as("dup_of"), col("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("vec_id", "dup_of", "cos_sim")
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------------
  // qd16 — leakage-free train/val split: assign every document to a
  // split such that a near-dup CLUSTER never straddles the boundary —
  // the split discipline that stops a model from being "validated" on a
  // near-copy of its own training data. The unit of assignment is the
  // cluster (qd09's connected components over verified pairs; docs
  // outside any pair are their own singleton cluster), and the
  // assignment is a deterministic function of the cluster id
  // (cluster_id mod 10 — engine-exact, seedable by salting the id), so
  // the split is reproducible and independent of partitioning. ~10%
  // lands in val; the exact fraction follows the cluster-id
  // distribution, which a production pipeline replaces with a uniform
  // hash — the INVARIANT this query pins is co-assignment, not the
  // percentages.
  //
  // Scale: the cluster relation is sparse (docs in verified pairs);
  // the corpus-wide pass is one broadcast-or-shuffle left join plus a
  // per-row mod — no new shuffles beyond qd09's own.
  val qd16 = Q(
    "qd16_leakage_free_split",
    s"""WITH RECURSIVE $duckClusterCtes,
       |assigned AS (
       |  SELECT d.doc_id,
       |    COALESCE(c.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN comp c USING (doc_id))
       |SELECT doc_id, cluster_id,
       |  CASE WHEN cluster_id % 10 = 0 THEN 'val' ELSE 'train' END AS split
       |FROM assigned
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    leakageFreeSplit(docs(s, dir).select("doc_id"), clusterLabels(s, dir))
  }

  /** qd16 core: docs (doc_id) + sparse cluster labels → co-assigned
    * splits. Injectable for planted specs pinning the co-assignment
    * invariant (every member of a cluster gets the cluster's split).
    */
  def leakageFreeSplit(docIds: DataFrame, labels: DataFrame): DataFrame =
    docIds
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .select(col("doc_id"), col("cluster_id"),
        when(col("cluster_id") % 10 === 0, lit("val")).otherwise(lit("train")).as("split"))
      .orderBy("doc_id")

  // ---------------------------------------------------------------------
  // qd17 — cross-source overlap matrix: for every pair of sources, how
  // much identical content they BOTH ship (the provenance diagnostic a
  // curation pipeline runs before weighting sources — two mirrors of the
  // same crawl must not count twice in qt12's token budgeting, and a
  // benchmark source overlapping a training source is qd11's
  // contamination seen from the provenance side).
  //
  // Scale plan: one distinct (source, content-hash) vote per source per
  // content (two-phase agg on the 16-byte hash), then a self-join ON THE
  // HASH. Unlike a shingle join (qd02's df problem), this join key is
  // inherently bounded: a hash matches at most n_sources rows, so the
  // per-key pair blow-up is ≤ n_sources² regardless of corpus size — no
  // df cap needed. Overlap coefficient = shared / min(|A|,|B|): one
  // double division per output row, bit-exact cross-engine.
  val qd17 = Q(
    "qd17_source_overlap",
    """WITH f AS (SELECT DISTINCT source, md5(lower(text)) AS h FROM documents),
      |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_contents FROM f GROUP BY source),
      |pairs AS (SELECT a.source AS src_a, b.source AS src_b,
      |            CAST(COUNT(*) AS BIGINT) AS n_shared
      |          FROM f a JOIN f b ON a.h = b.h AND a.source < b.source
      |          GROUP BY a.source, b.source)
      |SELECT p.src_a, p.src_b, p.n_shared, sa.n_contents AS n_a, sb.n_contents AS n_b,
      |  CAST(p.n_shared AS DOUBLE) / CAST(LEAST(sa.n_contents, sb.n_contents) AS DOUBLE)
      |    AS overlap_coef
      |FROM pairs p
      |JOIN sz sa ON p.src_a = sa.source
      |JOIN sz sb ON p.src_b = sb.source
      |ORDER BY src_a, src_b""".stripMargin) { (s, dir) =>
    val f = docs(s, dir)
      .select(col("source"), contentHash(col("text")).as("h"))
      .distinct()
    val sz = f.groupBy("source").agg(count(lit(1)).as("n_contents"))
    val pairs = f.as("a")
      .join(f.as("b"), col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(sz.select(col("source").as("src_a"), col("n_contents").as("n_a"))), Seq("src_a"))
      .join(broadcast(sz.select(col("source").as("src_b"), col("n_contents").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"), col("n_a"), col("n_b"),
        (col("n_shared").cast(DoubleType) /
          least(col("n_a"), col("n_b")).cast(DoubleType)).as("overlap_coef"))
      .orderBy("src_a", "src_b")
  }

  // ---------------------------------------------------------------------
  // qd18 — decontamination in the XL-benchmark regime: qd11's decision
  // semantics when the held-out set is too big to broadcast. qd11's plan
  // assumes the benchmark shingle set is dim-sized (thousands of eval
  // docs); a pipeline that decontaminates against the UNION of every
  // eval suite plus held-out validation shards can carry a shingle set
  // of tens of GB — past any broadcast threshold. The scale-correct plan
  // is then a SHUFFLE join on the 8-byte shingle hash: both sides
  // partition on the key, no single executor ever holds the whole
  // benchmark set. The merge hints pin that shape even at test SF
  // (where Catalyst would happily broadcast); at production size the
  // same plan falls out of the cost model with no hint.
  //
  // The overlap probe is an INNER join (qd11 uses a left join + _hit
  // flag) precisely so the corpus side is PRUNABLE: rows that can't
  // match may be dropped before the shuffle without changing the
  // result, which is what lets Spark's runtime bloom-filter injection
  // build a filter over the benchmark side and push `might_contain`
  // into the corpus branch — at 100 TB that prunes almost the whole
  // corpus-shingle shuffle (benchmark overlap is rare), recovering
  // most of broadcast's savings without the memory cliff. Injection
  // needs the join key to trace to a scan attribute, so it fires when
  // the shingle relation is materialized as a silver artifact (the
  // qd13 discipline); the inline explode here breaks that lineage —
  // both behaviors pinned empirically in LlmQueriesSpec. Per-doc
  // totals come from a PRE-join aggregate (map-side combinable — a
  // doc's shingles are generated contiguously, so partial aggregation
  // collapses them before any shuffle), and the totals⟕overlap join
  // runs on two doc-keyed aggregates co-partitioned by doc_id.
  //
  // Output is the per-source ACTION summary (the report a curation run
  // publishes): docs scanned, docs flagged at the integer-bps threshold,
  // shingle mass scanned/dropped, and the dropped fraction in exact
  // basis points. `shingle_mass > 0` by construction (a per-doc row
  // exists only for docs with ≥1 shingle), so the floor division is
  // total. The oracle joins on shingle STRINGS (no hashing), policing
  // 64-bit hash collisions exactly as qd11's does.
  val qd18 = Q(
    "qd18_contamination_xl",
    s"""WITH tok AS (SELECT doc_id, source, string_split(lower(text), ' ') AS t FROM documents),
       |sh AS (SELECT doc_id, source, list_distinct(CASE WHEN len(t) >= 3
       |         THEN list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |         ELSE [] END) AS s FROM tok),
       |hs AS (SELECT doc_id, source, s FROM sh WHERE len(s) > 0),
       |bench AS (SELECT DISTINCT unnest(s) AS g FROM hs WHERE source = 'src0'),
       |ex AS (SELECT doc_id, source, unnest(s) AS g FROM hs WHERE source <> 'src0'),
       |ov AS (SELECT e.doc_id, e.source,
       |         CAST(COUNT(*) AS BIGINT) AS n_shingles,
       |         CAST(SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
       |       FROM ex e LEFT JOIN bench b USING (g) GROUP BY 1, 2),
       |per AS (SELECT source,
       |          CAST(COUNT(*) AS BIGINT) AS n_docs,
       |          CAST(SUM(CASE WHEN n_overlap * 10000 >= $ContamBps * n_shingles
       |                        THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       |          CAST(SUM(n_shingles) AS BIGINT) AS shingle_mass,
       |          CAST(SUM(CASE WHEN n_overlap * 10000 >= $ContamBps * n_shingles
       |                        THEN n_shingles ELSE 0 END) AS BIGINT) AS dropped_mass
       |        FROM ov GROUP BY source)
       |SELECT source, n_docs, n_contaminated, shingle_mass, dropped_mass,
       |  dropped_mass * 10000 // shingle_mass AS dropped_bps
       |FROM per ORDER BY source""".stripMargin) { (s, dir) =>
    contaminationSummaryXl(docsSpread(s, dir), "src0", ContamBps)
  }

  /** qd18 core over any (doc_id, source, text) frame — injectable for
    * planted specs. See the qd18 comment for the plan shape.
    */
  def contaminationSummaryXl(docsDf: DataFrame, benchSource: String,
      thresholdBps: Long): DataFrame = {
    val ex = docsDf
      .select(col("doc_id"), col("source"),
        explode(array_distinct(shingles(col("text"), 3))).as("g"))
      .select(col("doc_id"), col("source"), xxhash64(col("g")).as("g"))
    // the XL path: bench stays DISTRIBUTED (distinct is a shuffle on the
    // hash key; no driver set, no broadcast) and the membership probe is
    // a shuffle merge join on the same key
    val bench = ex.filter(col("source") === benchSource).select("g").distinct()
    val corpusSh = ex.filter(col("source") =!= benchSource)
    // per-doc totals BEFORE the probe join: prunable inner join below
    // must not change them, and partial aggregation collapses each
    // doc's contiguous shingles pre-shuffle. source is unique per doc.
    val totals = corpusSh.groupBy("doc_id")
      .agg(max(col("source")).as("source"), count(lit(1)).as("n_shingles"))
    // bench g is distinct → inner-join multiplicity 1 per corpus shingle
    val overlaps = corpusSh.join(bench.hint("merge"), Seq("g"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    // two doc-keyed aggregates, co-partitioned by doc_id; billions of
    // rows each at scale → merge join, never a broadcast
    val perDoc = totals.join(overlaps.hint("merge"), Seq("doc_id"), "left")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
    val contaminated =
      col("n_overlap") * lit(10000L) >= lit(thresholdBps) * col("n_shingles")
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        graft.util.Exact.countIf(contaminated).as("n_contaminated"),
        sum(col("n_shingles")).as("shingle_mass"),
        sum(when(contaminated, col("n_shingles")).otherwise(lit(0L))).as("dropped_mass"))
      .select(col("source"), col("n_docs"), col("n_contaminated"),
        col("shingle_mass"), col("dropped_mass"),
        expr("dropped_mass * 10000 div shingle_mass").as("dropped_bps"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------------
  // qd19 — cardinality sketches as mergeable ARTIFACTS: qd07 estimates
  // inline (one opaque approx_count_distinct next to its exact); qd19
  // lands DataSketches HLL sketches as a first-class relation — one
  // ~kB binary per (source, lang) cell — and answers every downstream
  // rollup by MERGING sketches, never re-reading the corpus: per-source
  // (union over langs), per-lang (union over sources), and the corpus
  // total (a second-level union over the per-source merges). This is
  // the shape a 100 TB curation run actually uses: the cell-sketch
  // relation is written once at ingest (a silver artifact, like qd13's
  // shingle index), and "how many distinct contents landed this
  // month / per source / overall" becomes kilobyte-sized sketch merges
  // — no re-scan, no distinct-shuffle of content hashes. HLL union is
  // register-wise max, so merge order can't change the result, which
  // is what makes the two-level rollup legal.
  //
  // Sketch internals differ across engines (qd07's rule), so the query
  // emits exact distincts (hash-gated vs DuckDB) next to the sketch
  // CONTRACT — each merged estimate within 5% (or ±8) of exact, a
  // ±3σ window at lgK=12 (rsd ≈ 1.04/√2¹² ≈ 1.6%) — as booleans the
  // oracle expects TRUE. The exact branch exists FOR the oracle: a
  // production run keeps only the sketch branch (one corpus pass).
  val qd19 = Q(
    "qd19_sketch_rollup",
    """WITH f AS (SELECT source, lang, md5(lower(text)) AS h FROM documents),
      |per AS (
      |  SELECT 'source' AS dim, source AS grp, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(COUNT(DISTINCT h) AS BIGINT) AS exact_unique
      |  FROM f GROUP BY source
      |  UNION ALL
      |  SELECT 'lang', lang, CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT h) AS BIGINT)
      |  FROM f GROUP BY lang
      |  UNION ALL
      |  SELECT 'all', 'all', CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT h) AS BIGINT)
      |  FROM f)
      |SELECT dim, grp, n_docs, exact_unique, TRUE AS sketch_ok
      |FROM per ORDER BY dim, grp""".stripMargin) { (s, dir) =>
    sketchRollup(docs(s, dir)
      .select(col("source"), col("lang"), contentHash(col("text")).as("h")))
  }

  private val SketchLgK = 12

  /** qd19 core over any (source, lang, h) frame — injectable for specs.
    * Returns (dim, grp, n_docs, exact_unique, sketch_ok) rows for the
    * per-source, per-lang, and corpus-total rollups, every estimate
    * derived from the ONE cell-sketch relation by union-merging.
    */
  def sketchRollup(f: DataFrame): DataFrame = {
    // the silver artifact: one sketch per (source, lang) cell — a
    // map-side-combinable aggregate whose buffer is a bounded register
    // array (constant memory per partition per cell)
    val cells = f.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        hll_sketch_agg(col("h"), lit(SketchLgK)).as("sk"))
    // rollups touch ONLY cells (≤ sources×langs rows of kB sketches)
    val bySource = cells.groupBy("source")
      .agg(sum(col("n_docs")).as("n_docs"), hll_union_agg(col("sk")).as("sk"))
    val byLang = cells.groupBy("lang")
      .agg(sum(col("n_docs")).as("n_docs"), hll_union_agg(col("sk")).as("sk"))
    // corpus total: SECOND-level merge over the per-source unions —
    // legal because HLL union is register-wise max (associative,
    // merge-order-insensitive)
    val total = bySource.agg(sum(col("n_docs")).as("n_docs"),
      hll_union_agg(col("sk")).as("sk"))
    val est = bySource
      .select(lit("source").as("dim"), col("source").as("grp"), col("n_docs"), col("sk"))
      .unionByName(byLang.select(lit("lang").as("dim"), col("lang").as("grp"),
        col("n_docs"), col("sk")))
      .unionByName(total.select(lit("all").as("dim"), lit("all").as("grp"),
        col("n_docs"), col("sk")))
    // exact branch — the ORACLE's side of the contract; production
    // drops it (and with it 3 of the 4 corpus passes)
    val exact = f.groupBy("source")
      .agg(countDistinct(col("h")).as("exact_unique"))
      .select(lit("source").as("dim"), col("source").as("grp"), col("exact_unique"))
      .unionByName(f.groupBy("lang").agg(countDistinct(col("h")).as("exact_unique"))
        .select(lit("lang").as("dim"), col("lang").as("grp"), col("exact_unique")))
      .unionByName(f.agg(countDistinct(col("h")).as("exact_unique"))
        .select(lit("all").as("dim"), lit("all").as("grp"), col("exact_unique")))
    est.join(exact, Seq("dim", "grp"))
      .select(col("dim"), col("grp"), col("n_docs"), col("exact_unique"),
        (abs(hll_sketch_estimate(col("sk")) - col("exact_unique")).cast(DoubleType) <=
          greatest(lit(8.0), lit(0.05) * col("exact_unique"))).as("sketch_ok"))
      .orderBy("dim", "grp")
  }

  // ---------------------------------------------------------------------
  // qd20 — containment pairs: the subset-duplication family Jaccard
  // structurally misses. A 50-shingle quote pasted inside a 5000-shingle
  // page scores Jaccard ≈ 50/5000 = 0.01 — invisible at any usable
  // threshold — while its CONTAINMENT (inter / |smaller set|, the
  // overlap coefficient on shingle sets) is ≈ 1.0. This is the detector
  // for quoted-inside, boilerplate-wrapped, and excerpt duplicates that
  // a Jaccard-only dedup pass ships into training. Same bounded
  // inverted-index core as qd02 (ONE shared definition —
  // shinglePairStats: df-capped postings, hash keys, fan-out
  // repartition), so the 100 TB story is qd02's; only the final
  // projection differs: each pair is reported DIRECTIONALLY as
  // (contained_doc, container_doc) — the smaller shingle set is the
  // contained side (tie → lower doc_id, and doc_a < doc_b makes that
  // deterministic) — because the dedup ACTION is asymmetric: drop or
  // trim the contained doc, keep the container.
  val qd20 = Q(
    "qd20_containment_pairs",
    s"""WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
      |         THEN list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |         ELSE [] END) AS s FROM tok),
      |ex0 AS (SELECT doc_id, unnest(s) AS g FROM sh),
      |keep AS (SELECT g FROM ex0 GROUP BY g HAVING COUNT(*) BETWEEN 2 AND $MaxDf),
      |ex AS (SELECT ex0.doc_id, ex0.g FROM ex0 JOIN keep USING (g)),
      |sz AS (SELECT doc_id, len(s)::BIGINT AS n FROM sh),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
      |      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |d AS (SELECT CASE WHEN sa.n <= sb.n THEN p.doc_a ELSE p.doc_b END AS contained_doc,
      |        CASE WHEN sa.n <= sb.n THEN p.doc_b ELSE p.doc_a END AS container_doc,
      |        p.inter, LEAST(sa.n, sb.n) AS n_contained, GREATEST(sa.n, sb.n) AS n_container,
      |        CAST(p.inter AS DOUBLE) / CAST(LEAST(sa.n, sb.n) AS DOUBLE) AS containment
      |      FROM p JOIN sz sa ON p.doc_a = sa.doc_id JOIN sz sb ON p.doc_b = sb.doc_id)
      |SELECT * FROM d WHERE containment >= 0.05
      |ORDER BY containment DESC, contained_doc, container_doc
      |LIMIT 100""".stripMargin) { (s, dir) =>
    containmentPairs(docsSpread(s, dir), MaxDf)
  }

  /** qd20 core with an injectable df cap (spec plants a true
    * quote-inside-page corpus where Jaccard stays under threshold).
    */
  def containmentPairs(docsDf: DataFrame, maxDf: Int): DataFrame = {
    val aContained = col("n_a") <= col("n_b")
    shinglePairStats(docsDf, maxDf)
      .select(
        when(aContained, col("doc_a")).otherwise(col("doc_b")).as("contained_doc"),
        when(aContained, col("doc_b")).otherwise(col("doc_a")).as("container_doc"),
        col("inter"),
        least(col("n_a"), col("n_b")).as("n_contained"),
        greatest(col("n_a"), col("n_b")).as("n_container"),
        (col("inter").cast(DoubleType) /
          least(col("n_a"), col("n_b")).cast(DoubleType)).as("containment"))
      .filter(col("containment") >= 0.05)
      .orderBy(col("containment").desc, col("contained_doc"), col("container_doc"))
      .limit(100)
  }

  // ---------------------------------------------------------------------
  // qd21 — MinHash calibration audit: for every banded candidate pair
  // that exact-verifies as a near-dup, compare the SKETCH's Jaccard
  // estimate (matching components / k — the unbiased MinHash estimator)
  // with the exact shingle-set Jaccard, in integer bps. This is the QA
  // table a production dedup pipeline keeps next to its sketches: it
  // answers "is k = 16 enough at our similarity threshold, or are we
  // banding on noise?" empirically, per corpus — the operator that
  // justifies (or resizes) qd03/qd04's k before anyone trusts the
  // banding recall math. All comparison arithmetic is INTEGER (equal
  // longs, counts, `div`), so both engines agree exactly.
  //
  // 100 TB shape: the audit touches only the banded CANDIDATE pairs
  // (bounded by the LSH geometry, never all-pairs), joins the persisted
  // signature relation twice by doc_id, and is map-side after those
  // joins. The exact-Jaccard side reuses the same shingle sets the
  // verify pass already carries.
  val qd21 = Q(
    "qd21_minhash_calibration",
    s"""WITH ${duckBandedCtes()},
       |sg AS (SELECT doc_id, s, list_transform(range(0, 16), j ->
       |         list_min(list_transform(h, x -> (x*(389*(j+1)+1) + 211*(j+1)+7) % $ModBig))) AS sig16
       |       FROM hs),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM banded a JOIN banded b
       |           ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |p AS (SELECT doc_a, doc_b,
       |        CAST(len(list_filter(range(1, len(sa.sig16)+1), i -> sa.sig16[CAST(i AS INT)] = sb.sig16[CAST(i AS INT)])) AS BIGINT) AS n_eq,
       |        CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS ninter,
       |        CAST(len(list_distinct(list_cat(sa.s, sb.s))) AS BIGINT) AS nuni
       |      FROM cand JOIN sg sa ON doc_a = sa.doc_id JOIN sg sb ON doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, n_eq,
       |  n_eq * 10000 // 16 AS est_bps,
       |  ninter * 10000 // nuni AS exact_bps,
       |  abs(n_eq * 10000 // 16 - ninter * 10000 // nuni) AS err_bps
       |FROM p WHERE ninter * 10000 // nuni >= 5000
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    val sig = lshSignatures(docsSpread(s, dir))
    lshCandidatePairs(sig)
      .join(sig.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sig.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(filter(zip_with(col("sa.sig"), col("sb.sig"), (x, y) => x === y),
          b => b)).cast(LongType).as("n_eq"),
        size(array_intersect(col("sa.sh"), col("sb.sh"))).cast(LongType).as("ninter"),
        size(array_union(col("sa.sh"), col("sb.sh"))).cast(LongType).as("nuni"))
      .filter(expr("ninter * 10000 div nuni") >= 5000L)
      .select(col("doc_a"), col("doc_b"), col("n_eq"),
        expr("n_eq * 10000 div 16").as("est_bps"),
        expr("ninter * 10000 div nuni").as("exact_bps"),
        abs(expr("n_eq * 10000 div 16") - expr("ninter * 10000 div nuni")).as("err_bps"))
      .orderBy("doc_a", "doc_b")
  }

  // ---------------------------------------------------------------------
  // qd22 — cluster-quality audit: per dedup cluster (qd09's components),
  // the verified-edge count, min/avg within-cluster Jaccard, and EDGE
  // DENSITY vs the complete graph — the diagnostic for connected-
  // components' known failure mode: transitive CHAINING (A~B~C with
  // A̸~C) merges dissimilar docs into one cluster, and it shows up here
  // as low density + a min_jaccard far under the avg. qd12 decides WHAT
  // to keep per cluster; qd22 decides whether the cluster should have
  // existed at all. Completes the approximate-path audit trilogy: qd21
  // audits the sketch, qs09 the ANN index, qd22 the clustering.
  // All audit arithmetic is INTEGER bps (j_bps >= 5000 is exactly
  // jaccard >= 0.5: inter·10⁴ div uni >= 5000 ⟺ 2·inter >= uni), so
  // both engines agree exactly. 100 TB shape: edges are the sparse
  // verified pair list; the audit is two grouped aggregates over it.
  val qd22 = Q(
    "qd22_cluster_quality",
    s"""WITH RECURSIVE $duckClusterCtes,
       |pj AS (SELECT p.doc_a, p.doc_b,
       |         CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) * 10000 //
       |         CAST(len(list_distinct(list_cat(sa.s, sb.s))) AS BIGINT) AS j_bps
       |       FROM pairs p JOIN sig sa ON p.doc_a = sa.doc_id
       |                    JOIN sig sb ON p.doc_b = sb.doc_id),
       |pe AS (SELECT c.cluster_id, pj.j_bps FROM pj JOIN comp c ON pj.doc_a = c.doc_id),
       |sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
       |       FROM comp GROUP BY cluster_id),
       |ag AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_edges,
       |         CAST(MIN(j_bps) AS BIGINT) AS min_jaccard_bps,
       |         CAST(SUM(j_bps) AS BIGINT) // COUNT(*) AS avg_jaccard_bps
       |       FROM pe GROUP BY cluster_id)
       |SELECT s.cluster_id, s.cluster_size, a.n_edges, a.min_jaccard_bps, a.avg_jaccard_bps,
       |  a.n_edges * 10000 // (s.cluster_size * (s.cluster_size - 1) // 2) AS density_bps
       |FROM sz s JOIN ag a USING (cluster_id)
       |ORDER BY cluster_id""".stripMargin) { (s, dir) =>
    val sig = lshSignatures(docsSpread(s, dir))
    val pj = lshCandidatePairs(sig)
      .join(sig.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sig.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sa.sh"), col("sb.sh"))).cast(LongType) * lit(10000L))
          .as("_num"),
        size(array_union(col("sa.sh"), col("sb.sh"))).cast(LongType).as("_den"))
      .select(col("doc_a"), col("doc_b"), expr("_num div _den").as("j_bps"))
      .filter(col("j_bps") >= 5000L)
    val labels = graft.ops.GraphOps.connectedComponents(
        pj.select("doc_a", "doc_b"), "doc_a", "doc_b")
      .select(col("node"), col("component").as("cluster_id"))
    val pe = pj.join(labels.withColumnRenamed("node", "doc_a"), Seq("doc_a"))
    val sz = labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    val ag = pe.groupBy("cluster_id").agg(
      count(lit(1)).as("n_edges"),
      min(col("j_bps")).as("min_jaccard_bps"),
      expr("sum(j_bps) div count(1)").as("avg_jaccard_bps"))
    sz.join(ag, Seq("cluster_id"))
      .select(col("cluster_id"), col("cluster_size"), col("n_edges"),
        col("min_jaccard_bps"), col("avg_jaccard_bps"),
        expr("n_edges * 10000 div (cluster_size * (cluster_size - 1) div 2)")
          .as("density_bps"))
      .orderBy("cluster_id")
  }

  // ---------------------------------------------------------------------
  // qd23 — batch replay of the STREAMING distinct monitor
  // (graft.streaming.DocStreams.distinctMonitor), run through the very
  // same mapGroupsWithState operator in batch execution — so the code
  // path the crawl monitor runs per trigger is itself oracle-gated, not
  // just spec-pinned. Follows qd19's sketch-gating rule: sketch
  // internals aren't replayable cross-engine, so the query emits the
  // EXACT per-source distincts (hash-gated vs DuckDB) next to the
  // monitor CONTRACT — the HLL estimate within 5% (or ±8) of exact, a
  // ±3σ window at lgK=12 — as a boolean the oracle expects TRUE. The
  // exact branch exists FOR the oracle; production keeps only the
  // monitor's register-bounded state.
  val qd23 = Q(
    "qd23_distinct_monitor_replay",
    """WITH f AS (SELECT source, md5(lower(text)) AS h FROM documents)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(DISTINCT h) AS BIGINT) AS exact_unique,
      |  TRUE AS monitor_ok
      |FROM f GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    val mon = graft.streaming.DocStreams.distinctMonitor(d).toDF()
    val exact = d
      .select(col("source"), contentHash(col("text")).as("h"))
      .groupBy("source").agg(countDistinct(col("h")).as("exact_unique"))
    mon.join(exact, Seq("source"))
      .select(col("source"), col("n_docs"), col("exact_unique"),
        (abs(col("distinct_est").cast(DoubleType) - col("exact_unique").cast(DoubleType)) <=
          greatest(lit(8.0), lit(0.05) * col("exact_unique").cast(DoubleType)))
          .as("monitor_ok"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------------
  // qd24 — materialized cluster-index artifact: the production
  // discipline for the whole CC family. qd09/qd12/qd14/qd16/qd22 each
  // rebuild connected components from scratch by the independent-query
  // contract; a real pipeline runs CC ONCE (a scheduled silver job),
  // lands the labels as a table, and every consumer — keep-best, split
  // leakage, audit — reads the artifact. qd24 times the full
  // build+persist+consume cycle against qd09's oracle (the artifact
  // must hash-match the direct clustering), while the CONSUMING read is
  // artifact-only: ClusterIndexSpec pins that its scans touch nothing
  // but the labels parquet — no shingles, no posting lists, no CC
  // rounds — so at 100 TB the marginal cost of the Nth consumer is a
  // labels-table read, not a graph computation.

  /** Run CC once and persist the (doc_id, cluster_id) labels. */
  def writeClusterIndex(s: SparkSession, dir: String, artifactDir: String): Unit =
    clusterLabels(s, dir).write.mode("overwrite").parquet(artifactDir)

  /** A consumer of the persisted index: qd09's output shape, derived
    * purely from the artifact (labels scan + one size rollup).
    */
  def readClusterIndex(s: SparkSession, artifactDir: String): DataFrame = {
    val labels = s.read.parquet(artifactDir)
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .orderBy("cluster_id", "doc_id")
  }

  val qd24 = Q(
    "qd24_cluster_index_artifact",
    s"""WITH RECURSIVE $duckClusterCtes
       |SELECT c.doc_id, c.cluster_id, n.cluster_size
       |FROM comp c JOIN (SELECT cluster_id, COUNT(*) AS cluster_size
       |                  FROM comp GROUP BY cluster_id) n USING (cluster_id)
       |ORDER BY cluster_id, doc_id""".stripMargin) { (s, dir) =>
    val art = tempDir("graft-qd24")
    writeClusterIndex(s, dir, art)
    readClusterIndex(s, art)
  }

  // ---------------------------------------------------------------------
  // qd25 — the MAINTAINED signature index (graft.ops.IncrementalMap over
  // the change data feed): the corpus lives in a CDC-enabled versioned
  // table, its MinHash signature index bootstraps once and then follows
  // a delete / text-update / new-docs storm through ONE incremental
  // refresh — deletes are the right-to-be-forgotten path (a forgotten
  // doc's signatures leave the index in the same exactly-once commit).
  // The near-dup pairs are then answered FROM THE INDEX, and the oracle
  // re-derives them from the relationally-replayed FINAL corpus — a
  // hash match proves maintained == rebuilt, end to end. (qd13 is the
  // batch-vs-static-index join; this is the index's LIFECYCLE.)
  val qd25 = Q(
    "qd25_maintained_sig_index",
    s"""WITH base AS (SELECT doc_id, text FROM documents),
       |ad AS (SELECT * FROM base WHERE doc_id % 5 <> 3),
       |au AS (SELECT doc_id,
       |         CASE WHEN doc_id % 7 = 0 THEN text || ' zz7' ELSE text END AS text
       |       FROM ad),
       |docs_final AS (SELECT * FROM au UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, text FROM base WHERE doc_id % 11 = 0),
       |${duckBandedCtes("docs_final")},
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM banded a JOIN banded b
       |           ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |jac AS (SELECT doc_a, doc_b,
       |        CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
       |        CAST(len(list_distinct(list_cat(sa.s, sb.s))) AS DOUBLE) AS jaccard
       |      FROM cand JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.5
       |ORDER BY jaccard DESC, doc_a, doc_b""".stripMargin) { (s, dir) =>
    val tmp = tempDir("graft-qd25")
    val src = graft.ecom.VersionedTable(s, s"$tmp/docs")
    val idx = graft.ecom.VersionedTable(s, s"$tmp/idx")
    val base = docsSpread(s, dir).select(col("doc_id"), col("text")).persist()
    src.commitAppend(base)
    src.setTableProperty("graft.enableChangeDataFeed", "true")
    def refresh(): Unit = require(graft.ops.IncrementalMap.refresh(
      idx, src, Seq("doc_id"), lshSignatures).isDefined, "qd25 refresh must land")
    refresh() // bootstrap
    // the storm as ONE multi-clause merge — the forget-deletes, the
    // text edits, and the new docs (copies of the ORIGINAL base, so an
    // updated original and its copy become near- rather than exact
    // dups) land in a single commit: same final state as the
    // sequential ops (slices are disjoint — deletes win the %5∩%7
    // overlap, exactly as delete-then-update would), one COW + one CDC
    // sidecar instead of three
    locally {
      import graft.ecom.VersionedTable.{MergeDelete, MergeInsert, MergeUpdate, MergeWhen}
      val sf = (c: String) => col("s").getField(c)
      val storm = base.filter(col("doc_id") % 5 === 3)
        .select(col("doc_id"), col("text"), lit("d").as("op"))
        .unionByName(base.filter(col("doc_id") % 7 === 0 && col("doc_id") % 5 =!= 3)
          .select(col("doc_id"), concat(col("text"), lit(" zz7")).as("text"),
            lit("u").as("op")))
        .unionByName(base.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
            lit("i").as("op")))
      src.mergeClauses(storm, Seq("doc_id"),
        matched = Seq(
          MergeWhen(Some(sf("op") === "d"), MergeDelete),
          MergeWhen(Some(sf("op") === "u"),
            MergeUpdate(Map("text" -> sf("text"))))),
        notMatched = Seq(MergeWhen(Some(sf("op") === "i"),
          MergeInsert(Map("doc_id" -> sf("doc_id"), "text" -> sf("text"))))),
        sourceKeyUnique = true) // disjoint residue slices + shifted ids
    }
    refresh() // ONE pass over the delete+update+append window
    base.unpersist(blocking = false)
    lshVerifiedPairs(idx.read().select("doc_id", "sh", "sig"))
  }

  // ---------------------------------------------------------------------
  // qd26 — the cluster-index artifact driven ENTIRELY from SQL (r16):
  // build via `CALL graft.system.create_cluster_index(...)`, consume via
  // the `graft_cluster_index` table-valued function — qd24's capability
  // with zero Scala, hash-pinned to the same oracle.
  private val qd26Counter = new java.util.concurrent.atomic.AtomicInteger()
  val qd26 = Q("qd26_cluster_index_sql", qd24.sql.get) { (s, dir) =>
    val wh = tempDir("graft-qd26-wh")
    val art = tempDir("graft-qd26")
    val cat = s"g26d${qd26Counter.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CALL $cat.system.create_cluster_index(corpus_dir => '$dir', " +
      s"artifact_dir => '$art')").collect()
    s.sql(s"SELECT * FROM graft_cluster_index('$art')")
  }

  val all: Seq[Q] =
    Seq(qd01, qd02, qd03, qd04, qd05, qd06, qd07, qd08, qd09, qd10, qd11, qd12,
      qd13, qd14, qd15, qd16, qd17, qd18, qd19, qd20, qd21, qd22, qd23, qd24,
      qd25, qd26)
}
