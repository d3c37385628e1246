package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graft.shims.tempDir

import graft.util.Tables.load
import graft.functions.VectorFns._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`embedding: array<float>`, 64-dim).
  *
  * qs01 is the exact brute-force baseline: broadcast the (small) query
  * set against the corpus — at 100 TB this is the "score a handful of
  * probes" path, linear in corpus size with no shuffle (broadcast join +
  * per-partition top-k via TakeOrdered).
  *
  * qs02 is the scale path: sign-bit LSH bucketing — candidate generation
  * becomes an equi-join on the bucket id, so the corpus side is touched
  * once and only same-bucket candidates are scored. Recall vs qs01 is
  * pinned in LlmSimilaritySpec.
  */
object LlmSimilarity {

  private def emb(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")

  // ---------------------------------------------------------------------
  // qs01 — exact cosine top-5 neighbors for query vectors vec_id < 8.
  val qs01 = Q(
    "qs01_cosine_topk",
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
       |s AS (SELECT q.query_id, c.vec_id AS neighbor_id,
       |        ${DuckSql.cosine("q.qe", "c.embedding")} AS cos_sim
       |      FROM q, embeddings c WHERE c.vec_id <> q.query_id)
       |SELECT query_id, neighbor_id, rank, cos_sim FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM s) ranked
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qe"), col("embedding")).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id", "rank", "cos_sim")
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------------
  // qs02 — LSH-bucketed ANN: candidates are the corpus vectors in the
  // query's bucket or any of its Hamming-1 neighbors, under a plane
  // count scaled from COUNT(*) by the same integer ladder as qs06 — so
  // candidates per probe stay ~(np+1)·KnnTargetBucket at any corpus
  // size (the round-6 fixed-64-bucket variant scanned n/64 per probe:
  // still linear). A (probe, neighbor) pair matches at most one probe
  // bucket, so multi-probe adds no duplicates and needs no dedup. This
  // is the cheap single-table ANN tier; qs03 (IVF) and qs04 (quantized
  // + rerank) are the production tiers, and qs06 carries the
  // multi-table recall construction. The closed-form hyperplane family
  // reproduces in SQL, so the oracle replays bucketing + probing +
  // ranking exactly; score agreement vs the exact qs01 is additionally
  // pinned in tests.
  val qs02 = Q(
    "qs02_ann_lsh_topk",
    s"""WITH np AS (SELECT $knnNpCase AS np FROM (SELECT COUNT(*) AS c FROM embeddings)),
       |e AS (SELECT vec_id, embedding, ${dynBucket("embedding", "0")} AS bucket
       |      FROM embeddings, np),
       |q AS (SELECT vec_id AS query_id, embedding AS qe,
       |        unnest(list_prepend(bucket, list_transform(range(0, np.np),
       |          p -> xor(bucket, CAST(1 AS BIGINT) << p)))) AS pbucket
       |      FROM e, np WHERE vec_id < 8),
       |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
       |        ${DuckSql.cosine("q.qe", "e.embedding")} AS cos_sim
       |      FROM e JOIN q ON e.bucket = q.pbucket WHERE e.vec_id <> q.query_id)
       |SELECT query_id, neighbor_id, rank, cos_sim FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM s) ranked
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    val e0 = emb(s, dir)
    val np = knnPlanes(e0.count())
    val e = e0.withColumn("bucket", lshBucket(col("embedding"), tablePlanes(0, np)))
    val probeCols = col("bucket") +:
      (0 until np).map(p => col("bucket").bitwiseXOR(lit(1L << p)))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        explode(array(probeCols: _*)).as("bucket"))
    val scored = e.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qe"), col("embedding")).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id", "rank", "cos_sim")
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------------
  // qs03 — IVF ANN: k-means coarse quantizer (deterministic seeds = the k
  // lowest vec_ids, 2 Lloyd iterations), then probe the nprobe nearest
  // cells per query. The scale anatomy mirrors MLlib k-means: centroids
  // live on the driver (k×dim doubles) and ship into ONE map-side argmax
  // expression per pass — assignment never shuffles or blows up rows;
  // the only shuffles are the per-cell centroid averages (k×dim rows)
  // and the final per-query top-k. Corpus cells are the IVF inverted
  // lists: probing touches ~nprobe/k of the corpus.
  // The oracle replays the ENTIRE pipeline in DuckDB — deterministic
  // init (k lowest vec_ids), both Lloyd iterations (argmax assignment
  // with first-max-wins ties, per-cell per-dimension means, empty-cell
  // fallback to the previous centroid), unit normalization, nprobe
  // probing, exact-cosine scoring — bit-exactly at every tested SF.
  // ---- IVF building blocks (qs03 in-memory pipeline; qs10 persisted
  // artifact) ----------------------------------------------------------

  // ONE Literal node per centroid (an array() of 64 lit()s is 65 nodes;
  // 16 centroids × 65 nodes made every analyzer/optimizer pass walk
  // thousand-node trees — driver time dominated the query at small SF)
  private def ivfLitVec(c: Array[Double]): Column = typedlit(c.toSeq)
  // Unit-normalize on the driver: argmax_j cos(v, c_j) == argmax_j
  // dot(v, c_j / |c_j|) for any v (the row norm is a common positive
  // factor), so assignment is 16 plain dots per row — no per-row
  // norms, no sqrt, a third of the flops of the cosine form.
  private def ivfUnit(c: Array[Double]): Array[Double] = {
    val n = math.sqrt(c.map(x => x * x).sum)
    if (n == 0.0) c else c.map(_ / n)
  }
  // index of the most-similar centroid, computed per row with no blowup
  private def ivfBestCell(v: Column, cents: Seq[Array[Double]]): Column = {
    val sims = array(cents.map(c => dot(v, ivfLitVec(ivfUnit(c)))): _*)
    (array_position(sims, array_max(sims)) - 1).cast("int")
  }

  /** Deterministic k-means coarse quantizer (seeds = the k lowest
    * vec_ids, 2 Lloyd iterations). Centroids live on the driver (k×dim
    * doubles, the MLlib k-means shape) and ship into ONE map-side
    * argmax expression per pass — assignment never shuffles or blows up
    * rows; the only shuffle is the per-cell centroid average (k×dim
    * rows: partial aggregation reduces each partition to k rows × dim
    * doubles BEFORE the shuffle — the posexplode form shuffled
    * corpus×dim rows, corpus-sized traffic for a k×dim result).
    */
  private def ivfCentroids(e: DataFrame, k: Int = 16): Seq[Array[Double]] = {
    var centroids: Seq[Array[Double]] = e.orderBy("vec_id").limit(k)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray).toSeq
    val dim = 64
    val avgs = (0 until dim).map(i =>
      avg(element_at(col("embedding"), i + 1)).as(s"_m$i"))
    for (_ <- 1 to 2) {
      val means = e.select(ivfBestCell(col("embedding"), centroids).as("cell"), col("embedding"))
        .groupBy("cell")
        .agg(avgs.head, avgs.tail: _*)
        .collect()
        .map(r => r.getInt(0) -> Array.tabulate(dim)(i => r.getDouble(i + 1)))
        .toMap
      centroids = centroids.indices.map(i => means.getOrElse(i, centroids(i)))
    }
    centroids
  }

  /** nprobe-cell IVF probe + exact-cosine top-k over a cell-tagged
    * corpus — the shared probe of qs03 (in-memory lists), qs10–qs13,
    * [[readIvfTopK]] and [[ivfSearch]]. `queries` = (query_id, qe).
    *
    * One shuffle between the scan and the result:
    *  - each query's nprobe cells are chosen inside its projection
    *    ([[graft.functions.IvfProbeCells]], exploded): similarity
    *    descending, the lower cell first on ties, the order of a
    *    row_number window over the cells, with no exchange on the
    *    (broadcast) probe side and no centroid literals in the plan;
    *  - the scan, the scoring and a per-partition top-k
    *    (WindowGroupLimit, partial) run in parallel; the survivors are
    *    hash-shuffled on query_id for the final top-k;
    *  - the result keeps its (query_id, rank) order without a range
    *    sort (whose exchange samples its input with an extra job): the
    *    final top-k stage is coalesced into ONE partition and sorted
    *    there. That partition reads at most (map partitions × queries ×
    *    topk) rows and returns at most queries × topk, so a probe batch
    *    must stay driver-sized — as a collect of its result already is.
    */
  private def ivfRank(corpus: DataFrame, queries: DataFrame,
      centroids: Seq[Array[Double]], nprobe: Int, topk: Int,
      excludeSelf: Boolean = true): DataFrame = {
    // ranking by dot-with-unit-centroid == ranking by cosine
    val probes = queries.select(col("query_id"), col("qe"),
      explode(ivfProbeCells(col("qe"), centroids.map(ivfUnit), nprobe)).as("cell"))
    // score only the probed cells' lists, exact cosine, top-k
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    corpus.join(broadcast(probes), Seq("cell"))
      // corpus-member queries exclude themselves; AD-HOC queries
      // (ivfSearch) have no corpus identity, so nothing is excluded
      .filter(if (excludeSelf) col("vec_id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qe"), col("embedding")).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= topk)
      .select("query_id", "neighbor_id", "rank", "cos_sim")
      .coalesce(1)
      .sortWithinPartitions("query_id", "rank")
  }

  val qs03 = Q("qs03_ann_ivf_topk", Qs03Sql.sql) { (s, dir) =>
    // persist: five passes read the corpus (seed collect, 2 Lloyd
    // iterations, cell tagging, probe ranking) — holding the vectors
    // resident IS what building a vector index means; without it every
    // pass re-reads parquet
    val e = emb(s, dir).persist()
    val centroids = ivfCentroids(e)
    // inverted lists: corpus tagged with its cell
    val corpus = e.select(col("vec_id"), col("embedding"),
      ivfBestCell(col("embedding"), centroids).as("cell"))
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val ranked = ivfRank(corpus, queries, centroids, nprobe = 4, topk = 5)
    // An index-build + probe pipeline is inherently EAGER (the Lloyd
    // collects above already were), so finish it eagerly too: the
    // tagging and probe passes run NOW, against the cache — earlier
    // rounds unpersisted here and ate two extra parquet scans when the
    // caller consumed the frame (the one measured bench regression of
    // r6). The final result is 8 probes × top-5 = ≤40 rows, so
    // collecting it driver-side is free; the cache is released BEFORE
    // return, which CacheContractSpec pins (a library caller must
    // inherit zero cached state). The returned frame is the already-
    // ordered local result.
    val rows = ranked.collect()
    val schema = ranked.schema
    e.unpersist(blocking = false)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  // ---------------------------------------------------------------------
  // qs04 — scalar-quantized (int8) ANN with exact rerank. The 100 TB
  // anatomy: (1) index build = ONE exact scalar (the corpus max-|x|,
  // order-independent, driver-sized) fixing the symmetric quantizer
  // q = floor(x * 127/maxabs + 0.5); (2) the scan-everything stage
  // scores int8 vectors with an exact integer dot (native codegen'd
  // LongVecDot) — in production the quantized corpus is a materialized
  // silver artifact 4× smaller than the floats, so the full-corpus pass
  // reads a quarter of the bytes and runs SIMD-able integer math;
  // (3) float vectors are fetched by id ONLY for the top-C candidates
  // per query (a broadcast join of 8×C rows against the corpus scan)
  // and reranked by exact cosine. floor(x+0.5) instead of round():
  // identical half-up semantics in Spark and DuckDB, no tie ambiguity.
  // Recall@5 vs the exact qs01 is pinned in LlmSimilaritySpec.
  val qs04 = Q(
    "qs04_ann_quantized_topk",
    s"""WITH sc AS (SELECT CAST(127 AS DOUBLE) /
       |    MAX(list_max(list_transform(embedding, x -> abs(x::DOUBLE)))) AS s FROM embeddings),
       |qz AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(x::DOUBLE * sc.s + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings, sc),
       |p AS (SELECT vec_id AS query_id, qv AS pqv FROM qz WHERE vec_id < 8),
       |cand AS (SELECT p.query_id, c.vec_id AS neighbor_id,
       |    list_reduce(list_transform(range(1, len(c.qv)+1), i -> c.qv[i] * p.pqv[i]), (a,b) -> a+b) AS qdot
       |  FROM qz c, p WHERE c.vec_id <> p.query_id),
       |topc AS (SELECT query_id, neighbor_id, qdot FROM (
       |    SELECT query_id, neighbor_id, qdot,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qdot DESC, neighbor_id) AS cr
       |    FROM cand) t WHERE cr <= 20),
       |rr AS (SELECT t.query_id, t.neighbor_id, t.qdot,
       |    ${DuckSql.cosine("q.embedding", "n.embedding")} AS cos_sim
       |  FROM topc t JOIN embeddings q ON q.vec_id = t.query_id
       |              JOIN embeddings n ON n.vec_id = t.neighbor_id)
       |SELECT query_id, neighbor_id, rank, qdot, cos_sim FROM (
       |  SELECT query_id, neighbor_id, qdot, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM rr) ranked
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    val e = emb(s, dir)
    // index build: one exact order-independent scalar to the driver
    val maxAbs = e
      .agg(max(array_max(transform(col("embedding"), x => abs(x.cast(DoubleType))))))
      .head.getDouble(0)
    val scale = 127.0 / maxAbs
    def quant(v: Column): Column =
      transform(v, x => floor(x.cast(DoubleType) * lit(scale) + lit(0.5)))
    val qz = e.select(col("vec_id"), quant(col("embedding")).as("qv"))
    val p = qz.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("qv").as("pqv"))
    // full-corpus int8 pass: broadcast probes, native integer dot
    val cand = qz.crossJoin(broadcast(p))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        ldot(col("qv"), col("pqv")).as("qdot"))
    val cw = Window.partitionBy(col("query_id"))
      .orderBy(col("qdot").desc, col("neighbor_id"))
    val topc = cand.withColumn("cr", row_number().over(cw)).filter(col("cr") <= 20)
      .select("query_id", "neighbor_id", "qdot")
    // rerank: fetch floats by id for the 8×20 candidates only
    val qvecs = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    e.join(broadcast(topc), col("vec_id") === col("neighbor_id"))
      .join(broadcast(qvecs), "query_id")
      .select(col("query_id"), col("neighbor_id"), col("qdot"),
        cosine(col("qe"), col("embedding")).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id", "rank", "qdot", "cos_sim")
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------------
  // qs05 — per-label centroid + dispersion stats: the index-side health
  // metrics an embedding table carries in production (mean vector per
  // class/cluster, how tightly members hug it). Two linear passes:
  //
  //  1. centroid = 64 avg(element_at) columns — partial aggregation
  //     reduces each partition to |labels| × 64 doubles BEFORE the
  //     shuffle (the posexplode form would shuffle corpus×dim rows);
  //  2. centroids broadcast back; per-row cosine-to-own-centroid is a
  //     fixed left-fold of 64 codegen'd multiply-adds (the SAME
  //     association order as the oracle's list_reduce, so the per-row
  //     double rounds identically), then one two-phase aggregate.
  //
  // Cross-engine exactness: float sums in double are EXACT (24-bit
  // mantissas + log2(n) carry bits ≪ 53) so the centroid avg is
  // order-independent; the cosine AVERAGE across rows is NOT, so it
  // goes through the house decimal-sum rule (dsum scale 12 — order-
  // independent under any shuffle); MIN is order-free.
  val qs05 = Q(
    "qs05_embedding_centroid_stats",
    """WITH cent AS (
      |  SELECT label, r.i AS i, AVG(CAST(embedding[r.i] AS DOUBLE)) AS m
      |  FROM embeddings, range(1, 65) r(i)
      |  GROUP BY label, r.i),
      |c2 AS (SELECT label, array_agg(m ORDER BY i) AS c FROM cent GROUP BY label),
      |scored AS (
      |  SELECT e.label,
      |    list_reduce(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * c2.c[i]), (p, q) -> p + q)
      |      / (sqrt(list_reduce(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (p, q) -> p + q))
      |         * sqrt(list_reduce(list_transform(range(1, 65), i -> c2.c[i] * c2.c[i]), (p, q) -> p + q))) AS cos
      |  FROM embeddings e JOIN c2 USING (label))
      |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |  CAST(SUM(CAST(cos AS DECIMAL(18,12))) AS DOUBLE) / COUNT(cos) AS avg_cos_to_centroid,
      |  MIN(cos) AS min_cos_to_centroid
      |FROM scored
      |GROUP BY label
      |ORDER BY label""".stripMargin) { (s, dir) =>
    val dim = 64
    val e = emb(s, dir)
    val avgs = (0 until dim).map(i =>
      avg(element_at(col("embedding"), i + 1)).as(s"_m$i"))
    val cents = e.groupBy("label").agg(avgs.head, avgs.tail: _*)
    def v(i: Int): Column = element_at(col("embedding"), i + 1).cast(DoubleType)
    val dotVC = (0 until dim).map(i => v(i) * col(s"_m$i")).reduce(_ + _)
    val normV = (0 until dim).map(i => v(i) * v(i)).reduce(_ + _)
    val normC = (0 until dim).map(i => col(s"_m$i") * col(s"_m$i")).reduce(_ + _)
    val cos = dotVC / (sqrt(normV) * sqrt(normC))
    e.join(broadcast(cents), Seq("label"))
      .select(col("label"), cos.as("cos"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        graft.util.Exact.davg(col("cos"), 12).as("avg_cos_to_centroid"),
        min(col("cos")).as("min_cos_to_centroid"))
      .orderBy("label")
  }

  // ---------------------------------------------------------------------
  // qs06 — kNN JOIN: top-3 neighbors for EVERY corpus vector (not just a
  // probe set) via LSH blocking — the primitive behind SemDeDup-style
  // embedding curation and similarity-graph construction, where the
  // output feeds qd09/qd14's clustering. qs01/qs02 broadcast a handful
  // of probes; a kNN join is corpus × corpus, so the only viable shape
  // at 100 TB is block-then-score: candidates come from a bucket
  // SELF-join (both sides shuffle-partitioned by bucket — no broadcast,
  // each task scores one bucket's pairs), ranked per vector with a
  // window over the candidate set, never the corpus.
  //
  // The index SCALES WITH THE CORPUS along both LSH axes:
  //  - band width: np = the smallest plane count (≥6, capped at 20)
  //    with 2^np buckets of expected size ≤ the tier's target bucket —
  //    so per-table candidates stay ~(np+1)·target regardless of corpus
  //    rows. A FIXED plane count makes the self-join O(n²/2^np),
  //    quadratic again at scale. The formula is pure integer arithmetic
  //    (no log2 floats whose last-bit rounding could disagree across
  //    engines); the oracle derives np from COUNT(*) through an
  //    identical CASE ladder built from the same constants.
  //  - tables: shrinking buckets costs recall, so KnnTables independent
  //    plane families (OR-construction, the classic Indyk–Motwani
  //    amplification) each contribute candidates, and each table also
  //    probes its np Hamming-1 buckets. At the DESIGN similarity — the
  //    near-duplicate regime this join feeds (SemDeDup, similarity
  //    graphs; cos ≥ 0.95 → per-plane agreement p ≈ 0.9) — planted-
  //    neighbor recall is 1-(1-(p^np + np·p^(np-1)(1-p)))^L ≈ 0.995 at
  //    np=10, L=4 (0.999 at np=8). For uniform noise (top-3 here sits
  //    at cos ≈ 0.33) no sublinear scheme holds recall — that's the LSH
  //    lower bound, not a defect; the guarantee-bearing regime is the
  //    planted one, which KnnJoinScaleSpec pins. For a fixed recall at
  //    ever-larger n the theory says L ~ n^ρ (ρ<1): L is a constant
  //    here, surfaced as the one knob a deployment would raise.
  //
  // TWO bucket-size tiers, because the two call shapes price recall
  // differently:
  //  - KnnTargetBucket=32 for qs02's query-time top-k: a handful of
  //    probes each scan (np+1)·32 candidates — bucket size is cheap
  //    there, and bigger buckets are the only recall lever in the
  //    noise regime qs09 audits.
  //  - JoinTargetBucket=8 for the SELF-join family (qs06/qd08/qd15):
  //    every corpus vector is a probe, so candidate volume IS the
  //    runtime — ~L·(np+1)·bucket cosines per vector. Paying 2 extra
  //    planes (np+2) for 4× smaller buckets cuts the join's candidate
  //    volume ~3-4× while the Hamming-1 OR-construction keeps planted
  //    recall ≥ 0.995 (per-plane agreement, not bucket population,
  //    carries the design-regime guarantee — the formula above).
  // A pair found by several (table, probe) routes is deduplicated
  // BEFORE ranking (distinct on the scored row — both engines compute
  // the identical double, so the dedup is exact). Bucket skew is
  // bounded by construction: random hyperplanes split near-uniformly
  // (the planted-skew analogue is qd02's df cap). Vectors with no
  // co-bucketed member emit no rows — approximate-kNN semantics,
  // replayed identically by the oracle.
  // `final val` + literal = compile-time constants (inlined at use
  // sites): qs02's SQL string, declared above this line, reads them
  // during object init — plain vals would still be 0 there.
  private[queries] final val KnnTargetBucket = 32
  private[queries] final val JoinTargetBucket = 8
  private[queries] final val KnnMaxPlanes = 20
  private[queries] final val KnnTables = 4
  private def planesFor(n: Long, target: Int): Int = {
    var np = 6
    while (np < KnnMaxPlanes && (1L << np) * target < n) np += 1
    np
  }
  private[queries] def knnPlanes(n: Long): Int = planesFor(n, KnnTargetBucket)
  private[queries] def joinPlanes(n: Long): Int = planesFor(n, JoinTargetBucket)
  // same thresholds as planesFor, as a DuckDB CASE ladder over COUNT(*).
  // defs, not vals: qs02's SQL (declared ABOVE this line) interpolates
  // during object init, and a val would still be null at that point —
  // the oracle would silently become `SELECT null AS np` and match nothing.
  private def npCase(target: Int): String =
    (6 until KnnMaxPlanes)
      .map(p => s"WHEN c <= ${(1L << p) * target} THEN $p")
      .mkString("CASE ", " ", s" ELSE $KnnMaxPlanes END")
  private def knnNpCase: String = npCase(KnnTargetBucket)
  private def joinNpCase: String = npCase(JoinTargetBucket)
  /** Full-avalanche 32-bit mix (the public xorshift-multiply finalizer
    * h = ((h>>16)^h)·0x45d9f3b, two rounds + final fold): every step is
    * a BIJECTION on Z_2^32 (xor-shift, odd multiply mod 2^32), so the
    * whole mix is one — and every intermediate fits signed 64-bit
    * (2^32·0x45d9f3b < 2^59), so DuckDB replays it with plain BIGINT
    * arithmetic.
    */
  private[queries] def mix32(x0: Long): Long = {
    var h = x0 % 4294967296L
    h = (((h >> 16) ^ h) * 73244475L) % 4294967296L
    h = (((h >> 16) ^ h) * 73244475L) % 4294967296L
    (h >> 16) ^ h
  }

  /** Plane family for table `t`: coefficient(p,t,d) = mix32(u) − 2^31
    * for the injective index u = (p + 1000t)·64 + d. mix32 bijective ⟹
    * all coefficients across the whole (p,t,d) grid are DISTINCT — no
    * two planes can share a pattern, at any np (PlaneFamilySpec pins
    * it). Avalanche matters as much as distinctness: the previous
    * `% 19` family had 19 patterns total (tables correlated from np=6,
    * identical at np ≥ 19 — the OR-construction's recall silently
    * gone at exactly the corpus sizes that raise np); and a single
    * multiplicative round over a d-linear seed leaves planes AFFINELY
    * correlated (Weyl drift), which skews the joint bucket distribution
    * and inflates candidate volume — KnnJoinScaleSpec's volume contract
    * catches both. Coefficient magnitude < 2^31: a 64-dim dot stays
    * < 2^42 — exact in double. No RNG state to ship; the oracle replays
    * the same closed form.
    */
  private[queries] def tablePlanes(t: Int, np: Int): Seq[Array[Double]] =
    (0 until np).map { p =>
      Array.tabulate(64) { d =>
        val u = (p + 1000L * t) * 64L + d
        (mix32(u) - 2147483648L).toDouble
      }
    }
  // dynamic twin of DuckSql.planeDot/lshBucket for table `t` (an SQL
  // expression — the `t` column for multi-table callers, "0" for the
  // single-table base family) and plane count read from the np column —
  // same formula, same fold
  // SQL twin of mix32 over the inline index u — nested rather than
  // CTE'd so it stays a scalar expression inside the lambda
  private def mixSql(u: String): String = {
    val h1 = s"((xor(($u) // 65536, $u) * 73244475) % 4294967296)"
    val h2 = s"((xor($h1 // 65536, $h1) * 73244475) % 4294967296)"
    s"xor($h2 // 65536, $h2)"
  }

  private def dynBucket(v: String, t: String = "t"): String =
    s"""list_reduce(list_transform(range(0, np.np), p ->
       |  CASE WHEN list_reduce(list_transform(range(1, len($v)+1),
       |      i -> $v[i]::DOUBLE * CAST((${mixSql(s"(p + 1000*($t))*64 + (i-1)")} - 2147483648) AS DOUBLE)),
       |      (x,y) -> x+y) > 0
       |  THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END), (a,b) -> a+b)""".stripMargin

  /** The deduplicated scored candidate set of qs06's kNN join —
    * factored out so KnnJoinScaleSpec can measure candidate volume and
    * planted-neighbor recall on synthetic corpora across the np
    * breakpoints.
    */
  private[queries] def knnCandidates(e0: DataFrame, np: Int): DataFrame = {
    // one (table, bucket) pair per vector per table, as array columns
    val bucketCols = (0 until KnnTables).map(t =>
      lshBucket(col("embedding"), tablePlanes(t, np)).as(s"_b$t"))
    val e = e0.select(col("vec_id") +: col("embedding") +: bucketCols: _*)
    // index side: L rows per vector, keyed (t, bucket)
    val right = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"),
      posexplode(array((0 until KnnTables).map(t => col(s"_b$t")): _*)).as(Seq("t", "bucket")))
    // probe side: per table, own bucket + the np Hamming-1 buckets
    val probeStructs = for {
      t <- 0 until KnnTables
      pc <- col(s"_b$t") +: (0 until np).map(p => col(s"_b$t").bitwiseXOR(lit(1L << p)))
    } yield struct(lit(t).as("t"), pc.as("bucket"))
    val left = e
      .select(col("vec_id"), col("embedding"), explode(array(probeStructs: _*)).as("pb"))
      .select(col("vec_id"), col("embedding"),
        col("pb.t").as("t"), col("pb.bucket").as("bucket"))
    left.join(right, Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        cosine(col("embedding"), col("ne")).as("cos_sim"))
      .distinct() // a pair reachable via several (t, probe) routes scores once
  }

  /** qs06's corpus-scaled multi-table kNN join over a
    * `(vec_id, embedding)` frame.
    */
  def knnJoin(e0: DataFrame): DataFrame = {
    // one count() to size the index — at scale this is a parquet
    // metadata pass, and real deployments know their corpus size anyway
    val np = joinPlanes(e0.count())
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    knnCandidates(e0, np)
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 3)
      .select("vec_id", "neighbor_id", "rank", "cos_sim")
      .orderBy("vec_id", "rank")
  }

  /** Shared oracle CTE prefix producing `s` — the DISTINCT scored
    * candidate pairs of the corpus-scaled multi-table LSH (both
    * orientations). qs06 ranks it per vector; qd08/qd15 mine/decide
    * over it — ONE definition of the candidate set across all three.
    */
  private[queries] val scaledCandCtes: String =
    s"""np AS (SELECT $joinNpCase AS np FROM (SELECT COUNT(*) AS c FROM embeddings)),
       |b AS (SELECT vec_id, embedding, r.t, ${dynBucket("embedding")} AS bucket
       |      FROM embeddings, np, range(0, $KnnTables) r(t)),
       |pr AS (SELECT vec_id, embedding, t,
       |        unnest(list_prepend(bucket, list_transform(range(0, np.np),
       |          p -> xor(bucket, CAST(1 AS BIGINT) << p)))) AS pbucket
       |       FROM b, np),
       |s AS (SELECT DISTINCT pr.vec_id, b2.vec_id AS neighbor_id,
       |        ${DuckSql.cosine("pr.embedding", "b2.embedding")} AS cos_sim
       |      FROM pr JOIN b b2 ON pr.t = b2.t AND pr.pbucket = b2.bucket
       |        AND pr.vec_id <> b2.vec_id)""".stripMargin

  val qs06 = Q(
    "qs06_knn_join",
    s"""WITH $scaledCandCtes
       |SELECT vec_id, neighbor_id, rank, cos_sim FROM (
       |  SELECT vec_id, neighbor_id, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM s) ranked
       |WHERE rank <= 3
       |ORDER BY vec_id, rank""".stripMargin) { (s, dir) =>
    knnJoin(emb(s, dir))
  }

  // ---------------------------------------------------------------------
  // qs07 — MMR diversified re-rank (maximal marginal relevance,
  // Carbonell & Goldstein 1998): from the query's top-20 relevance pool,
  // greedily pick 5 where each pick maximizes
  //   λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s)
  // — the diversity-aware selection a RAG pipeline runs AFTER dense
  // retrieval (qs01-04) so the context window isn't five copies of the
  // same paragraph; within a curation pipeline it is the "pick diverse
  // exemplars per cluster" primitive next to qd12's keep-best.
  //
  // Plan: pool selection is the distributed part (brute-force scored
  // corpus → TakeOrderedAndProject top-20, same shape as qs01 — swap in
  // qs03's IVF probe at 100 TB); the greedy is inherently sequential in
  // k, so it runs on the driver over the COLLECTED ≤20-row pool (k·pool²
  // local cosines — the qs03 eager-pipeline precedent, not a distributed
  // anti-pattern). λ = 0.5: halving is exact in binary floating point,
  // so every MMR score is one multiply + one subtract over bit-exact
  // cosines — the greedy's comparisons agree with DuckDB's recursive-CTE
  // replay to the last ulp, ties broken by smaller vec_id both sides.
  private val MmrPool = 20
  private val MmrK = 5
  val qs07 = Q(
    "qs07_mmr_rerank",
    s"""WITH RECURSIVE
       |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |scored AS (SELECT e.vec_id, e.embedding, ${DuckSql.cosine("e.embedding", "qv.qe")} AS qsim
       |           FROM embeddings e, qv WHERE e.vec_id <> 0),
       |cand AS (SELECT vec_id, embedding, qsim FROM scored
       |         ORDER BY qsim DESC, vec_id LIMIT $MmrPool),
       |ps AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
       |         ${DuckSql.cosine("a.embedding", "b.embedding")} AS sim
       |       FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
       |sel(step, picked, ids) AS (
       |  SELECT 1,
       |    (SELECT vec_id FROM cand ORDER BY qsim DESC, vec_id LIMIT 1),
       |    [(SELECT vec_id FROM cand ORDER BY qsim DESC, vec_id LIMIT 1)]
       |  UNION ALL
       |  SELECT step + 1,
       |    (SELECT d.vec_id FROM cand d WHERE NOT list_contains(sel.ids, d.vec_id)
       |     ORDER BY 0.5 * d.qsim - 0.5 * (SELECT MAX(p.sim) FROM ps p
       |         WHERE p.ia = d.vec_id AND list_contains(sel.ids, p.ib)) DESC, d.vec_id
       |     LIMIT 1),
       |    list_append(sel.ids, (SELECT d.vec_id FROM cand d
       |     WHERE NOT list_contains(sel.ids, d.vec_id)
       |     ORDER BY 0.5 * d.qsim - 0.5 * (SELECT MAX(p.sim) FROM ps p
       |         WHERE p.ia = d.vec_id AND list_contains(sel.ids, p.ib)) DESC, d.vec_id
       |     LIMIT 1))
       |  FROM sel WHERE step < $MmrK)
       |SELECT CAST(s.step AS BIGINT) AS rank, s.picked AS vec_id, c.qsim AS relevance
       |FROM sel s JOIN cand c ON c.vec_id = s.picked
       |ORDER BY rank""".stripMargin) { (s, dir) =>
    mmrRerank(emb(s, dir), queryVecId = 0L, lambda = 0.5, pool = MmrPool, k = MmrK)
  }

  /** qs07's operator: distributed top-`pool` relevance retrieval, then
    * the driver-side MMR greedy. Factored out so LlmSimilaritySpec can
    * run it on planted clustered pools (diversity property, tie-breaks).
    */
  def mmrRerank(e0: DataFrame, queryVecId: Long, lambda: Double,
      pool: Int, k: Int): DataFrame = {
    val s = e0.sparkSession
    val qe = e0.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qe"))
    val collected = e0.crossJoin(broadcast(qe))
      .filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"), col("embedding"), cosine(col("embedding"), col("qe")).as("qsim"))
      .orderBy(col("qsim").desc, col("vec_id"))
      .limit(pool)
      .collect()
    // driver-side greedy over the collected pool. cosLocal replicates the
    // engine fold exactly: double-cast elements, sequential left fold
    // from 0.0 (VectorFns' documented numeric discipline).
    def cosLocal(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val cands = collected.map(r => (r.getLong(0),
      r.getSeq[Float](1).toArray, r.getDouble(2)))
    val byId = cands.map(c => c._1 -> c._2).toMap
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val chosen = scala.collection.mutable.Set.empty[Long]
    while (selected.size < k && chosen.size < cands.length) {
      // argmax of (score, -id): ties go to the smaller vec_id, matching
      // the oracle's ORDER BY ... DESC, vec_id
      val best = cands.iterator.filterNot(c => chosen(c._1)).map { case (id, v, qsim) =>
        val maxSel = selected.iterator
          .map(sel => cosLocal(v, byId(sel._1)))
          .foldLeft(Double.NegativeInfinity)(math.max)
        val score = if (selected.isEmpty) qsim else lambda * qsim - (1 - lambda) * maxSel
        (id, qsim, score)
      }.minBy { case (id, _, score) => (-score, id) }
      selected += ((best._1, best._2))
      chosen += best._1
    }
    val rows = selected.zipWithIndex.map { case ((id, qsim), i) =>
      org.apache.spark.sql.Row((i + 1).toLong, id, qsim)
    }
    val schema = StructType(Seq(
      StructField("rank", LongType, nullable = false),
      StructField("vec_id", LongType, nullable = false),
      StructField("relevance", DoubleType, nullable = false)))
    s.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*), schema)
  }

  // ---------------------------------------------------------------------
  // qs08 — product-quantization ANN (Jégou, Douze & Schmid 2011): split
  // each 64-dim vector into M=8 subspaces of 8 dims, quantize every
  // subvector to its nearest of KS=16 codewords, and score candidates by
  // ADC (asymmetric distance computation) — the query precomputes one
  // KS-entry lookup table per subspace, so scoring a candidate is M array
  // lookups + M−1 adds over its CODES, never its floats. The 100 TB
  // anatomy this demonstrates:
  //  - the scan-everything artifact is (vec_id, 8 small codes) — ~8 bytes
  //    a vector vs 256 float bytes, a 32× scan reduction (qs04's int8 is
  //    4×); codes are a materialized silver table in production;
  //  - the codebook is KS×64 doubles built driver-side and shipped as
  //    literals (same discipline as qs03's centroids), LUTs are built per
  //    query row — M·KS doubles each — and broadcast with the probes;
  //  - exact-cosine rerank touches floats for only the top-C per query
  //    (qs04's fetch-by-id shape).
  // Codebook = the KS lowest vec_ids' subvectors (deterministic sampled
  // codebook — codebook REFINEMENT is qs03's Lloyd loop; the operator
  // here is the code/ADC path). The oracle replays the whole pipeline:
  // argmin code assignment (first-min-wins by codeword index over
  // identical left-fold squared distances), LUT dots, the ordered-list
  // ADC fold, shortlist, rerank. Recall@5 vs exact qs01 pinned in
  // LlmQueriesSpec.
  private[queries] final val PqM = 8         // subspaces
  private[queries] final val PqSub = 8       // dims per subspace
  private[queries] final val PqKs = 16       // codewords per subspace
  private[queries] final val PqShortlist = 20
  val qs08 = Q("qs08_pq_ann_topk", Qs08Sql.sql) { (s, dir) =>
    val e = emb(s, dir)
    // driver-held codebook: KS×64 doubles — the qs03 "index build on the
    // driver" precedent, one tiny ordered collect
    val seedRows: Array[Array[Double]] = e.orderBy("vec_id").limit(PqKs)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    // ONE 2-D literal per subspace (16×8 doubles) + higher-order-function
    // loops, NOT 128 inlined per-codeword expressions: the inlined form
    // generated a ~8 MB task binary whose wholestage method blows the
    // JIT's compilable-size limit — the scan ran INTERPRETED and qs08
    // cost 10 s at sf0.1; the loop form runs in ~1 s. Fold order is
    // unchanged (zip_with preserves index order, aggregate seeds 0.0 and
    // folds left — 0.0 + x == x, the DuckSql.dot argument), so the
    // oracle's list_reduce replays bit-identically.
    def cbLit(m: Int): Column =
      typedlit(seedRows.map(_.slice(m * PqSub, (m + 1) * PqSub).toSeq).toSeq)
    def subm(m: Int): Column = slice(col("embedding"), m * PqSub + 1, PqSub)
    // squared L2 to every codeword of subspace m, in codeword order
    def distsCol(m: Int): Column =
      transform(cbLit(m), cw =>
        aggregate(zip_with(subm(m), cw, (x, c) => {
          val d = x.cast(DoubleType) - c; d * d
        }), lit(0.0), (a, x) => a + x))
    // first-min-wins argmin (array_position finds the FIRST equal value,
    // matching the oracle's ORDER BY dist, j LIMIT 1)
    def codeCol(m: Int): Column = {
      val ds = distsCol(m)
      (array_position(ds, array_min(ds)) - 1).cast(IntegerType)
    }
    // the quantized corpus: vec_id + M codes (the silver artifact)
    val codes = e.select(
      col("vec_id") +: (0 until PqM).map(m => codeCol(m).as(s"_c$m")): _*)
    // per-query LUTs: dot(q_m, c_{m,j}) for every j, in codeword order
    def lutCol(m: Int): Column =
      transform(cbLit(m), cw =>
        aggregate(zip_with(subm(m), cw, (x, c) => x.cast(DoubleType) * c),
          lit(0.0), (a, x) => a + x))
    val q = e.filter(col("vec_id") < 8).select(
      col("vec_id").as("query_id") +:
        (0 until PqM).map(m => lutCol(m).as(s"_lut$m")): _*)
    // ADC: M lookups + M−1 adds per (candidate, query) — left fold over
    // m, the oracle's ordered-list fold
    val adcExpr = (0 until PqM)
      .map(m => element_at(col(s"_lut$m"), col(s"_c$m") + 1))
      .reduce(_ + _)
    val cand = codes.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), adcExpr.as("adc"))
    val cw2 = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    val topc = cand.withColumn("cr", row_number().over(cw2))
      .filter(col("cr") <= PqShortlist)
      .select("query_id", "neighbor_id", "adc")
    // rerank: floats fetched by id for the ≤ 8×C survivors only
    val qvecs = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    e.join(broadcast(topc), col("vec_id") === col("neighbor_id"))
      .join(broadcast(qvecs), "query_id")
      .select(col("query_id"), col("neighbor_id"), col("adc"),
        cosine(col("qe"), col("embedding")).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id", "rank", "adc", "cos_sim")
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------------
  // qs09 — ANN recall audit: per probe, how much of the EXACT top-5 the
  // LSH path (qs02) actually returned, in integer bps — the index-
  // quality table a pipeline keeps next to its ANN tier (qd21 is the
  // same idea for the MinHash sketch; together they make "trust the
  // approximate path" an measured claim, not an assumption). Both
  // pipelines are reused VERBATIM — the Spark side calls qs01/qs02's
  // own definitions and the oracle nests their full SQL as CTEs — so
  // the audit can never drift from the audited queries. Hit counting
  // and recall are pure integer arithmetic (equi-join + COUNT + `div`).
  //
  // 100 TB shape: the audit itself joins two ≤ probes×5-row relations —
  // free; its cost IS the two audited pipelines, which is the point (a
  // production run audits a SAMPLE of probes at exactly this shape).
  val qs09 = Q(
    "qs09_ann_recall_audit",
    s"""WITH exact AS (${qs01.sql.get}),
       |ann AS (${qs02.sql.get}),
       |h AS (SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
       |      FROM exact e JOIN ann a
       |        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
       |      GROUP BY e.query_id),
       |b AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_true
       |      FROM exact GROUP BY query_id)
       |SELECT b.query_id, b.n_true,
       |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  COALESCE(h.n_hits, 0) * 10000 // b.n_true AS recall_bps
       |FROM b LEFT JOIN h USING (query_id)
       |ORDER BY query_id""".stripMargin) { (s, dir) =>
    val exact = qs01.fn(s, dir).select(col("query_id"), col("neighbor_id"))
    val ann = qs02.fn(s, dir).select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(ann, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_true"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr("coalesce(n_hits, 0) * 10000 div n_true").as("recall_bps"))
      .orderBy("query_id")
  }

  // qs10 — the PERSISTED IVF index artifact (the qd24 cluster-index
  // discipline applied to qs03): build once — centroids parquet (k=16
  // rows) + cell-partitioned inverted lists — then serve every probe
  // from the artifact alone. Production shape for "build the vector
  // index nightly, answer queries all day": the probe path re-reads
  // NOTHING from the raw corpus (IvfArtifactSpec pins the scanned
  // files), and the only driver-held state is the k×dim centroid
  // matrix, exactly what qs03 holds during its build.

  /** Build the IVF artifact: `artifactDir/centroids` (cell, centroid)
    * and `artifactDir/lists` (vec_id, embedding) partitioned by cell —
    * probing nprobe of k cells then scans ~nprobe/k of the corpus via
    * partition pruning / DPP on the cell dirs. Each table keeps the
    * schema it was written with (the corpus' own `vec_id` and
    * `embedding` types) in a `_schema.json` beside its files.
    */
  def writeIvfIndex(s: SparkSession, dir: String, artifactDir: String): Unit = {
    val e = emb(s, dir).persist()
    val centroids = ivfCentroids(e)
    val lists = e.select(col("vec_id"), col("embedding"),
      ivfBestCell(col("embedding"), centroids).as("cell"))
    lists.write.mode("overwrite").partitionBy("cell").parquet(s"$artifactDir/lists")
    writeIvfSchema(s, s"$artifactDir/lists", lists.schema)
    val cents = s.createDataFrame(centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) })
      .toDF("cell", "centroid")
    cents.coalesce(1).write.mode("overwrite").parquet(s"$artifactDir/centroids")
    writeIvfSchema(s, s"$artifactDir/centroids", cents.schema)
    e.unpersist(blocking = false)
  }

  // Each artifact table carries the schema it was written with in a
  // hidden `_schema.json` (file listings skip `_` names), so a probe
  // reads the tables with no schema-inference job; an artifact written
  // without one is read by inference.
  private def writeIvfSchema(s: SparkSession, table: String, schema: StructType): Unit = {
    val p = new org.apache.hadoop.fs.Path(table, "_schema.json")
    val out = p.getFileSystem(s.sessionState.newHadoopConf()).create(p, true)
    try out.write(schema.json.getBytes("UTF-8")) finally out.close()
  }

  private def readIvfTable(s: SparkSession, table: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(table, "_schema.json")
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    val schema =
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(DataType.fromJson(new String(in.readAllBytes(), "UTF-8")).asInstanceOf[StructType])
        finally in.close()
      }
    schema.fold(s.read)(s.read.schema).parquet(table)
  }

  /** The artifact's centroid matrix (cell order) and its inverted lists.
    * Building the pair runs one Spark job, the k-row centroid collect
    * (driver-bounded by design), sorted on the driver.
    */
  private def ivfArtifact(s: SparkSession, artifactDir: String)
      : (Seq[Array[Double]], DataFrame) = {
    val centroids = readIvfTable(s, s"$artifactDir/centroids").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray).toSeq
    (centroids, readIvfTable(s, s"$artifactDir/lists"))
  }

  /** Probe the persisted index: top-`topk` exact-cosine neighbors of the
    * vec_id < 8 queries, nprobe cells each — reading ONLY the artifact.
    * The centroid collect is k=16 rows (driver-bounded by design).
    */
  def readIvfTopK(s: SparkSession, artifactDir: String,
      nprobe: Int = 4, topk: Int = 5): DataFrame = {
    val (centroids, lists) = ivfArtifact(s, artifactDir)
    val queries = lists.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    ivfRank(lists.select(col("vec_id"), col("embedding"), col("cell")),
      queries, centroids, nprobe, topk)
  }

  val qs10 = Q("qs10_ann_ivf_artifact", Qs03Sql.sql) { (s, dir) =>
    val art = tempDir("graft-qs10")
    writeIvfIndex(s, dir, art)
    readIvfTopK(s, art)
  }

  // ---------------------------------------------------------------------
  // qs11 — the MAINTAINED IVF index: the vector corpus is a CDC-enabled
  // versioned table, the inverted lists a graft.ops.IncrementalMap view
  // over it (transform = nearest-centroid assignment against centroids
  // FROZEN at build — production IVF maintenance: re-center rarely,
  // reassign incrementally). The storm deletes vectors (forget), FLIPS
  // embeddings (cell reassignment, exact under float negation), and
  // appends exact copies (which must surface as cos=1 neighbors); one
  // refresh applies it all, probes read ONLY the maintained lists. The
  // oracle reuses qs03's pipeline verbatim — centroid chain from the
  // BUILD corpus, probe/serve over the relationally replayed final
  // state — so a hash match pins maintained == rebuilt-on-final-state.
  val qs11 = Q("qs11_maintained_ivf", Qs03Sql.sqlOver("ef",
    """
      |ef AS (
      |  SELECT vec_id, embedding, emb FROM e
      |  WHERE NOT (vec_id % 9 = 5 AND vec_id >= 20)
      |    AND NOT (vec_id % 11 = 7 AND vec_id >= 20)
      |  UNION ALL
      |  SELECT vec_id, list_transform(embedding, x -> -x),
      |         list_transform(emb, x -> -x)
      |  FROM e WHERE vec_id % 11 = 7 AND vec_id >= 20
      |    AND NOT (vec_id % 9 = 5 AND vec_id >= 20)
      |  UNION ALL
      |  SELECT vec_id + 1000000, embedding, emb FROM e WHERE vec_id % 13 = 2),""".stripMargin)) { (s, dir) =>
    val tmp = tempDir("graft-qs11")
    val src = graft.ecom.VersionedTable(s, s"$tmp/emb")
    val lists = graft.ecom.VersionedTable(s, s"$tmp/lists")
    val base = emb(s, dir).persist()
    src.commitAppend(base)
    src.setTableProperty("graft.enableChangeDataFeed", "true")
    // centroids freeze at build time, from the BOOTSTRAP corpus (==
    // base: nothing has changed yet — the persisted frame saves the
    // k-means passes re-reading the versioned snapshot)
    val centroids = ivfCentroids(base)
    val assignT: DataFrame => DataFrame = d => d.select(col("vec_id"),
      col("embedding"), ivfBestCell(col("embedding"), centroids).as("cell"))
    def refresh(): Unit = require(graft.ops.IncrementalMap.refresh(
      lists, src, Seq("vec_id"), assignT).isDefined, "qs11 refresh must land")
    refresh() // bootstrap the inverted lists
    // the storm as ONE multi-clause merge: forget-deletes, embedding
    // flips (cell reassignment), and exact-copy appends land in a
    // single commit — same final state as the sequential ops (slices
    // are disjoint; deletes win the %9∩%11 overlap exactly as
    // delete-then-update would), one COW + one CDC sidecar, not three
    locally {
      import graft.ecom.VersionedTable.{MergeDelete, MergeInsert, MergeUpdate, MergeWhen}
      val sf = (c: String) => col("s").getField(c)
      val storm = base.filter(col("vec_id") % 9 === 5 && col("vec_id") >= 20)
        .select(col("vec_id"), col("embedding"), lit("d").as("op"))
        .unionByName(base.filter(col("vec_id") % 11 === 7 && col("vec_id") >= 20 &&
            col("vec_id") % 9 =!= 5)
          .select(col("vec_id"),
            transform(col("embedding"), x => -x).as("embedding"), lit("u").as("op")))
        .unionByName(base.filter(col("vec_id") % 13 === 2)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"),
            lit("i").as("op")))
      src.mergeClauses(storm, Seq("vec_id"),
        matched = Seq(
          MergeWhen(Some(sf("op") === "d"), MergeDelete),
          MergeWhen(Some(sf("op") === "u"),
            MergeUpdate(Map("embedding" -> sf("embedding"))))),
        notMatched = Seq(MergeWhen(Some(sf("op") === "i"),
          MergeInsert(Map("vec_id" -> sf("vec_id"), "embedding" -> sf("embedding"))))),
        sourceKeyUnique = true) // disjoint residue slices + shifted ids
    }
    refresh() // ONE pass over the delete+flip+append window
    base.unpersist(blocking = false)
    val l = lists.read()
    val queries = l.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    ivfRank(l.select(col("vec_id"), col("embedding"), col("cell")),
      queries, centroids, nprobe = 4, topk = 5)
  }

  // ---------------------------------------------------------------------
  // qs12 — the IVF index artifact driven ENTIRELY from SQL (r16): the
  // build is `CALL graft.system.create_ivf_index(...)`, the probe is the
  // `graft_ivf_topk` table-valued function — qs10's capability with zero
  // Scala in the user's hands, hash-pinned to the SAME oracle as
  // qs03/qs10 (the probe must equal the library pipeline bit-for-bit).
  private val qs12Counter = new java.util.concurrent.atomic.AtomicInteger()
  val qs12 = Q("qs12_ivf_index_sql", Qs03Sql.sql) { (s, dir) =>
    val wh = tempDir("graft-qs12-wh")
    val art = tempDir("graft-qs12")
    val cat = s"g12s${qs12Counter.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CALL $cat.system.create_ivf_index(corpus_dir => '$dir', " +
      s"artifact_dir => '$art')").collect()
    s.sql(s"SELECT * FROM graft_ivf_topk('$art')")
  }

  /** Probe the persisted IVF artifact with AD-HOC query vectors — the
    * real vector-index entry ("top-k neighbors of THIS embedding"),
    * vs [[readIvfTopK]] which probes the query set frozen into the
    * artifact. `queries` carries an id column (`query_id` or `vec_id`)
    * and a vector column (`qe` or `embedding`, cast to array&lt;float&gt;
    * so literal-supplied doubles score with the corpus' float math).
    * Ad-hoc queries have no corpus identity, so nothing is
    * self-excluded: a query equal to a stored vector surfaces it at
    * cos=1. Same scale shape as every IVF probe here: the k×dim
    * centroid collect is the only driver state, assignment is map-side,
    * and only the probed cells' lists are scanned.
    */
  def ivfSearch(s: SparkSession, artifactDir: String, queries: DataFrame,
      nprobe: Int = 4, topk: Int = 5): DataFrame = {
    val (centroids, lists) = ivfArtifact(s, artifactDir)
    def pick(cands: Seq[String], what: String): String =
      cands.flatMap(c => queries.columns.find(_.equalsIgnoreCase(c))).headOption
        .getOrElse(throw new IllegalArgumentException(
          s"ivfSearch: the query frame needs a $what column " +
            s"(one of ${cands.mkString(", ")}); has " +
            queries.columns.mkString(", ")))
    val idCol = pick(Seq("query_id", "vec_id"), "query-id")
    val vecCol = pick(Seq("qe", "embedding"), "vector")
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast(ArrayType(FloatType)).as("qe"))
    ivfRank(lists.select(col("vec_id"), col("embedding"), col("cell")),
      q, centroids, nprobe, topk, excludeSelf = false)
  }

  /** [[ivfSearch]] for ONE ad-hoc vector (the SQL array-literal face of
    * `graft_ivf_search`) — no query id to report, so the result is just
    * (neighbor_id, rank, cos_sim).
    */
  def ivfSearchVector(s: SparkSession, artifactDir: String,
      vec: Array[Float], nprobe: Int = 4, topk: Int = 5): DataFrame = {
    val schema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("qe", ArrayType(FloatType), nullable = false)))
    val one = s.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(0L, vec.toSeq)), schema)
    ivfSearch(s, artifactDir, one, nprobe, topk).drop("query_id")
  }

  // ---------------------------------------------------------------------
  // qs13 — AD-HOC probes against the IVF artifact from SQL (r17): the
  // r16 `graft_ivf_topk` face could only replay the artifact's frozen
  // query set; `graft_ivf_search` takes the probe itself — a query
  // TABLE by name (every row probed) or ONE vector as a SQL array
  // literal. The query exercises both faces and pins them to each
  // other; the oracle replays qs03's full pipeline WITHOUT the
  // self-exclusion (an ad-hoc probe has no corpus identity — a stored
  // vector equal to the probe must surface at cos=1).
  private val qs13Counter = new java.util.concurrent.atomic.AtomicInteger()
  val qs13 = Q("qs13_ivf_search_sql", Qs03Sql.searchSql) { (s, dir) =>
    val art = tempDir("graft-qs13")
    writeIvfIndex(s, dir, art)
    // face 1 — query table by name: the vec_id < 8 vectors as a view
    val vn = s"qs13_queries_${qs13Counter.incrementAndGet()}"
    emb(s, dir).filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .createOrReplaceTempView(vn)
    val fromTable = s.sql(s"SELECT * FROM graft_ivf_search('$art', '$vn')")
    // face 2 — one ad-hoc ARRAY LITERAL (query 0's vector, spelled out
    // as floats) must reproduce the table face's query-0 rows exactly
    val v0 = emb(s, dir).filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    val litSql = v0.map(f => s"CAST('$f' AS FLOAT)")
      .mkString("array(", ", ", ")")
    val one = s.sql(s"SELECT * FROM graft_ivf_search('$art', $litSql)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val zero = fromTable.filter(col("query_id") === 0)
      .select("neighbor_id", "rank", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    require(one == zero,
      s"array-literal probe must equal the table probe for query 0: got $one, want $zero")
    fromTable
  }

  val all: Seq[Q] =
    Seq(qs01, qs02, qs03, qs04, qs05, qs06, qs07, qs08, qs09, qs10, qs11,
      qs12, qs13)
}

/** DuckDB twin of qs03's driver-side k-means + IVF probe. Kept in its
  * own object purely for readability — the CTE chain mirrors the Scala
  * stages one-for-one (c0 init → a1/m1/c1 iteration 1 → a2/m2/c2
  * iteration 2 → corpus/probes/scored).
  */
private object Qs03Sql {
  import DuckSql._

  private val K = 16
  private val NPROBE = 4
  private val DIM = 64

  /** First-max-wins argmax of dot(row.emb, centroid) as a correlated
    * subquery (ties break to the lowest cell, matching Spark's
    * array_position-of-array_max).
    */
  private def assign(e: String, cu: String): String =
    s"(SELECT c.cell FROM $cu c ORDER BY ${dot(s"$e.emb", "c.ucent")} DESC, c.cell LIMIT 1)"

  // centroid chain (c0..cu2) always derives from `e` (the BUILD corpus);
  // `src` is the corpus probed/served — qs03/qs10 probe the build corpus
  // itself, qs11 probes the maintained final state (extraCtes replays it)
  def sqlOver(src: String, extraCtes: String,
      excludeSelf: Boolean = true): String =
    s"""WITH e AS (SELECT vec_id, embedding, list_transform(embedding, x -> x::DOUBLE) AS emb FROM embeddings),$extraCtes
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, emb AS cent
       |       FROM e ORDER BY vec_id LIMIT $K),
       |cu0 AS (SELECT cell, ${unitVec("cent")} AS ucent FROM c0),
       |a1 AS (SELECT e.vec_id, e.emb, ${assign("e", "cu0")} AS cell FROM e),
       |m1pos AS (SELECT cell, r.i AS pos, avg(emb[CAST(r.i AS INT)]) AS m
       |          FROM a1, range(1, ${DIM + 1}) r(i) GROUP BY cell, r.i),
       |m1 AS (SELECT cell, list(m ORDER BY pos) AS cent FROM m1pos GROUP BY cell),
       |c1 AS (SELECT c0.cell, COALESCE(m1.cent, c0.cent) AS cent FROM c0 LEFT JOIN m1 ON c0.cell = m1.cell),
       |cu1 AS (SELECT cell, ${unitVec("cent")} AS ucent FROM c1),
       |a2 AS (SELECT e.vec_id, e.emb, ${assign("e", "cu1")} AS cell FROM e),
       |m2pos AS (SELECT cell, r.i AS pos, avg(emb[CAST(r.i AS INT)]) AS m
       |          FROM a2, range(1, ${DIM + 1}) r(i) GROUP BY cell, r.i),
       |m2 AS (SELECT cell, list(m ORDER BY pos) AS cent FROM m2pos GROUP BY cell),
       |c2 AS (SELECT c1.cell, COALESCE(m2.cent, c1.cent) AS cent FROM c1 LEFT JOIN m2 ON c1.cell = m2.cell),
       |cu2 AS (SELECT cell, ${unitVec("cent")} AS ucent FROM c2),
       |corpus AS (SELECT $src.vec_id, $src.embedding, ${assign(src, "cu2")} AS cell FROM $src),
       |probes AS (SELECT query_id, qe, cell FROM (
       |    SELECT q.vec_id AS query_id, q.embedding AS qe, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY ${dot("q.emb", "c.ucent")} DESC, c.cell) AS pr
       |    FROM $src q, cu2 c WHERE q.vec_id < 8) t WHERE pr <= $NPROBE),
       |scored AS (SELECT p.query_id, co.vec_id AS neighbor_id, ${cosine("p.qe", "co.embedding")} AS cos_sim
       |           FROM corpus co JOIN probes p ON co.cell = p.cell
       |           ${if (excludeSelf) "WHERE co.vec_id <> p.query_id" else ""})
       |SELECT query_id, neighbor_id, rank, cos_sim FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM scored) ranked
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  val sql: String = sqlOver("e", "")

  /** qs13's twin: the same pipeline with NO self-exclusion — ad-hoc
    * probes have no corpus identity, so a stored vector equal to the
    * probe legitimately ranks first at cos=1.
    */
  val searchSql: String = sqlOver("e", "", excludeSelf = false)
}

/** DuckDB twin of qs08's PQ pipeline — codebook slicing, first-min-wins
  * code assignment, LUT dots, the ordered-list ADC fold, shortlist,
  * exact-cosine rerank, stage for stage. Same left-fold association as
  * the Scala expressions at every floating-point step.
  */
private object Qs08Sql {
  private val M = 8
  private val SUB = 8
  private val KS = 16
  private val C = 20

  // Σ_d over the 8-dim slices, left fold. DuckDB 1.0 binder quirk: an
  // outer-correlated column inside a lambda only binds when the SAME
  // column also appears outside a lambda in the expression — hence
  // `range(1, len(..)+1)` (the slice has exactly SUB elements) rather
  // than a constant range; qs03's oracle relies on the same shape.
  private def sqdist(esub: String, cbSub: String): String =
    s"""list_reduce(list_transform(range(1, len($esub)+1),
       |  i -> ($esub[i] - $cbSub[i]) * ($esub[i] - $cbSub[i])), (a,b) -> a + b)""".stripMargin

  val sql: String =
    s"""WITH seed AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS j, embedding
       |              FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT $KS)),
       |cb AS (SELECT j, m.m AS m,
       |         list_transform(embedding[(m.m*$SUB + 1):(m.m*$SUB + $SUB)], x -> x::DOUBLE) AS sub
       |       FROM seed, range(0, $M) m(m)),
       |es AS (SELECT vec_id, m.m AS m,
       |         list_transform(embedding[(m.m*$SUB + 1):(m.m*$SUB + $SUB)], x -> x::DOUBLE) AS esub
       |       FROM embeddings, range(0, $M) m(m)),
       |codes AS (SELECT es.vec_id, es.m,
       |   (SELECT cb.j FROM cb WHERE cb.m = es.m
       |    ORDER BY ${sqdist("es.esub", "cb.sub")} ASC, cb.j LIMIT 1) AS code
       | FROM es),
       |lut AS (SELECT es.vec_id AS query_id, cb.m, cb.j,
       |   list_reduce(list_transform(range(1, len(es.esub)+1),
       |     i -> es.esub[i] * cb.sub[i]), (a,b) -> a + b) AS v
       | FROM es JOIN cb ON cb.m = es.m WHERE es.vec_id < 8),
       |adcs AS (SELECT l.query_id, c.vec_id AS neighbor_id,
       |   list_reduce(list(l.v ORDER BY l.m), (a,b) -> a + b) AS adc
       | FROM codes c JOIN lut l ON l.m = c.m AND l.j = c.code AND c.vec_id <> l.query_id
       | GROUP BY l.query_id, c.vec_id),
       |topc AS (SELECT query_id, neighbor_id, adc FROM (
       |   SELECT query_id, neighbor_id, adc,
       |     ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS cr
       |   FROM adcs) t WHERE cr <= $C),
       |rr AS (SELECT t.query_id, t.neighbor_id, t.adc,
       |    ${DuckSql.cosine("q.embedding", "n.embedding")} AS cos_sim
       |  FROM topc t JOIN embeddings q ON q.vec_id = t.query_id
       |              JOIN embeddings n ON n.vec_id = t.neighbor_id)
       |SELECT query_id, neighbor_id, rank, adc, cos_sim FROM (
       |  SELECT query_id, neighbor_id, adc, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM rr) ranked
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
}
