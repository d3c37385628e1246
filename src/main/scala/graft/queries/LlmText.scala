package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.util.Tables.load
import graft.functions.TextFns._

/** Text-analysis operators over the `documents` table: language ID,
  * quality scoring, token counting, fingerprinting. All per-row map-side
  * work (no shuffle except final aggregates/sorts) — at 100 TB these run
  * as a single pass over the corpus inside whole-stage codegen.
  */
object LlmText {

  private def docs(s: SparkSession, dir: String): DataFrame = load(s, dir, "documents")

  private val stopEn = Seq("the", "a", "and", "of", "is")
  private val stopDe = Seq("der", "die", "und", "das", "nicht")
  private val stopEs = Seq("el", "los", "y", "las", "una")
  private val stopFr = Seq("le", "les", "et", "est", "vous")
  private val stopZh = Seq("的", "是", "了", "我", "不")

  private def duckIn(vocab: Seq[String]): String =
    vocab.map(v => s"'$v'").mkString("(", ", ", ")")

  // ---------------------------------------------------------------------
  // qt01 — n-gram/stopword-marker language ID: score each language by
  // marker-token hits, argmax with a fixed priority order (deterministic
  // tie-break). A real pipeline swaps in bigger marker sets; the plan
  // shape (one map pass) is the point.
  // Shared DuckDB front end for the marker-set predictor (qt01/qt17):
  // tok/sc CTEs + the fixed-priority argmax — ONE SQL definition
  // mirroring the ONE Scala definition (langPredictions below), same
  // precedent as LlmDedup.duckBandedCtes.
  private def duckLangCtes: String =
    s"""tok AS (SELECT doc_id, lang, source, string_split(lower(text), ' ') AS t FROM documents),
       |sc AS (SELECT doc_id, lang, source,
       |  len(list_filter(t, x -> x IN ${duckIn(stopEn)}))::BIGINT AS score_en,
       |  len(list_filter(t, x -> x IN ${duckIn(stopDe)}))::BIGINT AS score_de,
       |  len(list_filter(t, x -> x IN ${duckIn(stopEs)}))::BIGINT AS score_es,
       |  len(list_filter(t, x -> x IN ${duckIn(stopFr)}))::BIGINT AS score_fr,
       |  len(list_filter(t, x -> x IN ${duckIn(stopZh)}))::BIGINT AS score_zh
       |FROM tok),
       |pred AS (SELECT *,
       |  CASE WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr AND score_en >= score_zh THEN 'en'
       |       WHEN score_de >= score_es AND score_de >= score_fr AND score_de >= score_zh THEN 'de'
       |       WHEN score_es >= score_fr AND score_es >= score_zh THEN 'es'
       |       WHEN score_fr >= score_zh THEN 'fr'
       |       ELSE 'zh' END AS pred_lang
       |FROM sc)""".stripMargin

  val qt01 = Q(
    "qt01_langid",
    s"""WITH $duckLangCtes
       |SELECT doc_id, lang, score_en, score_de, score_es, score_fr, score_zh, pred_lang
       |FROM pred
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    langPredictions(docs(s, dir)).drop("source").orderBy("doc_id")
  }

  /** The marker-set language predictor shared by qt01 (per-doc scores)
    * and qt17 (per-source label-noise audit): one map pass emitting the
    * five marker scores and the fixed-priority argmax.
    */
  private def langPredictions(docsDf: DataFrame): DataFrame = {
    val withScores = docsDf
      .select(col("doc_id"), col("lang"), col("source"), tokens(col("text")).as("t"))
      .select(col("doc_id"), col("lang"), col("source"),
        vocabHits(col("t"), stopEn).as("score_en"),
        vocabHits(col("t"), stopDe).as("score_de"),
        vocabHits(col("t"), stopEs).as("score_es"),
        vocabHits(col("t"), stopFr).as("score_fr"),
        vocabHits(col("t"), stopZh).as("score_zh"))
    val en = col("score_en"); val de = col("score_de"); val es = col("score_es")
    val fr = col("score_fr"); val zh = col("score_zh")
    withScores
      .withColumn("pred_lang",
        when(en >= de && en >= es && en >= fr && en >= zh, "en")
          .when(de >= es && de >= fr && de >= zh, "de")
          .when(es >= fr && es >= zh, "es")
          .when(fr >= zh, "fr")
          .otherwise("zh"))
  }

  // ---------------------------------------------------------------------
  // qt02 — per-doc quality scoring: token stats, type/token ratio,
  // stopword ratio, and a weighted score (the length/punct/stopword
  // heuristic family used by pretraining-data filters).
  // qualityScore / stopQuality / redactPii / contentHash live in
  // graft.functions.TextFns (imported wholesale above): they are text
  // PRIMITIVES shared by these queries, the streaming curation path,
  // and the graft_* SQL surface.

  val qt02 = Q(
    "qt02_quality_score",
    s"""WITH c AS (
       |  SELECT doc_id,
       |    length(text)::BIGINT AS n_chars,
       |    len(t)::BIGINT AS n_tokens,
       |    len(list_distinct(t))::BIGINT AS n_distinct_tokens,
       |    list_reduce(list_transform(t, x -> len(x)::BIGINT), (a,b) -> a+b) AS sum_token_len,
       |    len(list_filter(t, x -> x IN ${duckIn(stopQuality)}))::BIGINT AS n_stopwords
       |  FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS t FROM documents))
       |SELECT doc_id, n_chars, n_tokens, n_distinct_tokens,
       |  CAST(sum_token_len AS DOUBLE) / n_tokens AS avg_token_len,
       |  CAST(n_distinct_tokens AS DOUBLE) / n_tokens AS type_token_ratio,
       |  CAST(n_stopwords AS DOUBLE) / n_tokens AS stopword_ratio,
       |  (CAST(n_distinct_tokens AS DOUBLE) / n_tokens) * CAST(0.5 AS DOUBLE)
       |    + (CAST(n_stopwords AS DOUBLE) / n_tokens) * CAST(0.3 AS DOUBLE)
       |    + LEAST(CAST(1.0 AS DOUBLE), CAST(n_tokens AS DOUBLE) / CAST(200.0 AS DOUBLE)) * CAST(0.2 AS DOUBLE) AS quality_score
       |FROM c
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val base = docs(s, dir)
      .select(col("doc_id"), col("text"), tokens(col("text")).as("t"))
      .select(
        col("doc_id"), col("text"),
        length(col("text")).cast(LongType).as("n_chars"),
        size(col("t")).cast(LongType).as("n_tokens"),
        size(array_distinct(col("t"))).cast(LongType).as("n_distinct_tokens"),
        aggregate(transform(col("t"), x => length(x).cast(LongType)), lit(0L), (a, b) => a + b)
          .as("sum_token_len"),
        vocabHits(col("t"), stopQuality).as("n_stopwords"))
    val ttr = col("n_distinct_tokens").cast(DoubleType) / col("n_tokens")
    val swr = col("n_stopwords").cast(DoubleType) / col("n_tokens")
    base.select(
      col("doc_id"), col("n_chars"), col("n_tokens"), col("n_distinct_tokens"),
      (col("sum_token_len").cast(DoubleType) / col("n_tokens")).as("avg_token_len"),
      ttr.as("type_token_ratio"),
      swr.as("stopword_ratio"),
      // the ONE shared definition (same value as the component-column
      // formula; using the helper keeps every consumer retunable in
      // one place)
      qualityScore(col("text")).as("quality_score"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // qt03 — token counting per source: whitespace tokens + a BPE-ish
  // regex tokenizer (letters / digits / single punctuation).
  val qt03 = Q(
    "qt03_token_stats",
    """WITH c AS (
      |  SELECT doc_id, source,
      |    len(string_split(lower(text), ' '))::BIGINT AS n_ws,
      |    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS n_bpe
      |  FROM documents)
      |SELECT source,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_ws) AS BIGINT) AS total_ws_tokens,
      |  CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
      |  CAST(SUM(n_ws) AS DOUBLE) / COUNT(*) AS avg_tokens_per_doc,
      |  MAX(n_ws) AS max_tokens,
      |  MIN(n_ws) AS min_tokens
      |FROM c
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (s, dir) =>
    docs(s, dir)
      .select(
        col("source"),
        size(tokens(col("text"))).cast(LongType).as("n_ws"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .cast(LongType).as("n_bpe"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_ws")).as("total_ws_tokens"),
        sum(col("n_bpe")).as("total_bpe_tokens"),
        (sum(col("n_ws")).cast(DoubleType) / count(lit(1))).as("avg_tokens_per_doc"),
        max(col("n_ws")).as("max_tokens"),
        min(col("n_ws")).as("min_tokens"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------------
  // qt04 — document fingerprinting: 62-bit rolling-hash content id (the
  // cheap exact-dup / shard-assignment key at corpus scale).
  val qt04 = Q(
    "qt04_fingerprint",
    """SELECT doc_id,
      |  list_reduce(list_transform(range(1, len(text)+1), i -> ascii(substr(text,i,1))), (a,b) -> (a::BIGINT*31+b) % 2147483647)
      |  + list_reduce(list_transform(range(1, len(text)+1), i -> ascii(substr(text,i,1))), (a,b) -> (a::BIGINT*37+b) % 2147483647) * 2147483648 AS fingerprint
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    docs(s, dir)
      .select(col("doc_id"), hash62(col("text")).as("fingerprint"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // qt05 — deterministic per-group sampling: take 5 docs per source,
  // chosen by rank over a content hash (the reproducible "uniform"
  // sample a training-data pipeline shards with — same rows on every
  // run, every engine, any partitioning; no RNG state to coordinate).
  // row_number over (source, hash) compiles to WindowGroupLimit: each
  // partition keeps only its local top-5 before the shuffle.
  val qt05 = Q(
    "qt05_doc_sampling",
    """SELECT source, doc_id, h FROM (
      |  SELECT source, doc_id,
      |    list_reduce(list_transform(range(1, len(text)+1), i -> ascii(substr(text,i,1))), (a,b) -> (a::BIGINT*31+b) % 1000000007) AS h,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY
      |      list_reduce(list_transform(range(1, len(text)+1), i -> ascii(substr(text,i,1))), (a,b) -> (a::BIGINT*31+b) % 1000000007),
      |      doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 5
      |ORDER BY source, h, doc_id""".stripMargin) { (s, dir) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    docs(s, dir)
      .select(col("source"), col("doc_id"), hash31(col("text")).as("h"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select("source", "doc_id", "h")
      .orderBy("source", "h", "doc_id")
  }

  // ---------------------------------------------------------------------
  // qt06 — corpus length distribution: exact interpolated percentiles of
  // token counts per language (the length-filter calibration step of a
  // pretraining pipeline). Spark `percentile` and DuckDB `quantile_cont`
  // share the linear-interpolation definition.
  val qt06 = Q(
    "qt06_length_percentiles",
    """SELECT lang,
      |  COUNT(*) AS n_docs,
      |  quantile_cont(n_tokens, 0.5) AS p50,
      |  quantile_cont(n_tokens, 0.9) AS p90,
      |  quantile_cont(n_tokens, 0.99) AS p99,
      |  CAST(MIN(n_tokens) AS DOUBLE) AS min_tokens,
      |  CAST(MAX(n_tokens) AS DOUBLE) AS max_tokens
      |FROM (SELECT lang, len(string_split(lower(text), ' '))::BIGINT AS n_tokens FROM documents)
      |GROUP BY lang
      |ORDER BY lang""".stripMargin) { (s, dir) =>
    docs(s, dir)
      .select(col("lang"), size(tokens(col("text"))).cast(LongType).as("n_tokens"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        percentile(col("n_tokens"), lit(0.5)).as("p50"),
        percentile(col("n_tokens"), lit(0.9)).as("p90"),
        percentile(col("n_tokens"), lit(0.99)).as("p99"),
        min(col("n_tokens")).cast(DoubleType).as("min_tokens"),
        max(col("n_tokens")).cast(DoubleType).as("max_tokens"))
      .orderBy("lang")
  }

  // ---------------------------------------------------------------------
  // qt07 — the full curation pipeline composed end-to-end: quality
  // filter → exact dedup (keep lowest doc_id per content hash) →
  // per-source survival accounting. This is the LLM-pretraining data
  // path in ONE linear plan: a single map pass computes (source,
  // content-hash, quality-pass) per doc; one window shuffle on the
  // 128-bit content hash marks the dedup survivor (passing docs sort
  // first, so rank 1 = lowest doc_id among the kept); one conditional
  // rollup produces all three per-source counts. The naive composition
  // (three aggregates + joins over a reused `kept` subplan) recomputes
  // the tokenization per branch and shuffles the full text through the
  // dedup window — this form tokenizes each doc exactly once and the
  // wide `text` column never crosses an exchange. At 100 TB nothing
  // here buffers more than a group's running state.
  val qt07 = Q(
    "qt07_curation_pipeline",
    s"""WITH scored AS (
       |  SELECT doc_id, source, lang, text,
       |    len(list_distinct(t))::BIGINT AS n_distinct, len(t)::BIGINT AS n_tokens,
       |    len(list_filter(t, x -> x IN ${duckIn(stopQuality)}))::BIGINT AS n_stop
       |  FROM (SELECT doc_id, source, lang, text, string_split(lower(text), ' ') AS t FROM documents)),
       |q AS (
       |  SELECT doc_id, source, lang, text,
       |    (CAST(n_distinct AS DOUBLE) / n_tokens) * CAST(0.5 AS DOUBLE)
       |      + (CAST(n_stop AS DOUBLE) / n_tokens) * CAST(0.3 AS DOUBLE)
       |      + LEAST(CAST(1.0 AS DOUBLE), CAST(n_tokens AS DOUBLE) / CAST(200.0 AS DOUBLE)) * CAST(0.2 AS DOUBLE) AS score
       |  FROM scored),
       |kept AS (SELECT doc_id, source, lang, text FROM q WHERE score >= 0.3),
       |dedup AS (
       |  SELECT doc_id, source FROM (
       |    SELECT doc_id, source,
       |      ROW_NUMBER() OVER (PARTITION BY md5(lower(text)) ORDER BY doc_id) AS rn
       |    FROM kept)
       |  WHERE rn = 1)
       |SELECT d.source,
       |  CAST((SELECT COUNT(*) FROM documents x WHERE x.source = d.source) AS BIGINT) AS n_input,
       |  CAST((SELECT COUNT(*) FROM kept k WHERE k.source = d.source) AS BIGINT) AS n_quality,
       |  COUNT(*) AS n_survivors
       |FROM dedup d
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin) { (s, dir) =>
    // single map pass: everything downstream needs only these 4 columns
    val scored = docs(s, dir).select(
      col("doc_id"), col("source"),
      (qualityScore(col("text")) >= 0.3).as("pass"),
      contentHash(col("text")).as("h"))
    // passing docs sort first within a hash group -> rank 1 is the
    // lowest doc_id among the KEPT copies; survivor = pass && rank 1
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("pass").desc, col("doc_id"))
    scored
      .withColumn("survivor", col("pass") && row_number().over(w) === 1)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_input"),
        graft.util.Exact.countIf(col("pass")).as("n_quality"),
        graft.util.Exact.countIf(col("survivor")).as("n_survivors"))
      .filter(col("n_survivors") > 0) // oracle groups FROM the dedup set
      .orderBy("source")
  }

  // ---------------------------------------------------------------------
  // qt08 — corpus vocabulary: top-200 tokens by document frequency and
  // total frequency (the vocab-building pass before tokenizer training).
  // Plan: explode tokens → Spark's single-distinct rewrite: a partial
  // aggregate keyed (token, doc_id) collapses each partition's repeats
  // of a (token, doc) pair before the first shuffle, which therefore
  // carries per-doc vocabularies (bounded by doc length), not the raw
  // token stream; a second token-keyed shuffle then merges the tiny
  // per-token rows. Top-k is TakeOrdered, never a full sort.
  val qt08 = Q(
    "qt08_vocab_topk",
    """WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tk FROM documents)
      |SELECT tk AS token, CAST(COUNT(*) AS BIGINT) AS n_total,
      |  COUNT(DISTINCT doc_id) AS n_docs
      |FROM tok
      |WHERE tk <> ''
      |GROUP BY tk
      |ORDER BY n_total DESC, token
      |LIMIT 200""".stripMargin) { (s, dir) =>
    docs(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token")
      .agg(count(lit(1)).as("n_total"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_total").desc, col("token"))
      .limit(200)
  }

  // ---------------------------------------------------------------------
  // qt09 — repetition quality filters (the Gopher/RefinedWeb family):
  // per doc, the fraction of tokens in the most-frequent token / the
  // duplicated tokens, and the same over bigrams, plus a composite
  // `repetitive` flag. Plan: ONE scan explodes tokens and bigrams
  // together (tagged structs — no second pass over the text), a
  // (doc, n, gram)-keyed two-phase aggregate collapses repeats map-side
  // before the only data-sized shuffle (carrying per-doc gram
  // vocabularies, bounded by doc length), and a per-doc conditional
  // rollup pivots both gram lengths in one pass. Thresholds calibrated
  // on the testdata so both arms of the flag fire (11 and 280 of 500
  // docs at sf0.01).
  val qt09 = Q(
    "qt09_repetition",
    """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      |g AS (SELECT doc_id, unnest(list_concat(
      |    list_transform(tk, x -> {'glen': 1, 'gram': x}),
      |    list_transform(range(1, len(tk)), i -> {'glen': 2, 'gram': tk[i] || ' ' || tk[i+1]}))) AS u FROM t),
      |c AS (SELECT doc_id, u.glen AS glen, u.gram AS gram, COUNT(*) AS n FROM g GROUP BY doc_id, glen, gram),
      |r AS (SELECT doc_id,
      |    CAST(SUM(CASE WHEN glen=1 THEN n END) AS BIGINT) AS n_tokens,
      |    MAX(CASE WHEN glen=1 THEN n END) AS top_token,
      |    CAST(COALESCE(SUM(CASE WHEN glen=1 AND n>1 THEN n END), 0) AS BIGINT) AS dup_token,
      |    CAST(COALESCE(SUM(CASE WHEN glen=2 THEN n END), 0) AS BIGINT) AS n_bigrams,
      |    COALESCE(MAX(CASE WHEN glen=2 THEN n END), 0) AS top_bigram,
      |    CAST(COALESCE(SUM(CASE WHEN glen=2 AND n>1 THEN n END), 0) AS BIGINT) AS dup_bigram
      |  FROM c GROUP BY doc_id)
      |SELECT doc_id, n_tokens,
      |  CAST(top_token AS DOUBLE) / n_tokens AS top_token_frac,
      |  CAST(dup_token AS DOUBLE) / n_tokens AS dup_token_frac,
      |  n_bigrams,
      |  CAST(top_bigram AS DOUBLE) / GREATEST(n_bigrams, 1) AS top_bigram_frac,
      |  CAST(dup_bigram AS DOUBLE) / GREATEST(n_bigrams, 1) AS dup_bigram_frac,
      |  ((top_bigram >= 2 AND CAST(top_bigram AS DOUBLE) / GREATEST(n_bigrams, 1) > 0.1)
      |    OR CAST(dup_token AS DOUBLE) / n_tokens > 0.8) AS repetitive
      |FROM r
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    repetitionStats(docs(s, dir))
  }

  /** qt09 core over any (doc_id, text) frame — injectable for planted
    * specs. See the qt09 comment for the plan shape.
    */
  def repetitionStats(d: DataFrame): DataFrame = {
    val tk = tokens(col("text"))
    // one pass: tokens and bigrams tagged into a single exploded stream
    val tagged = concat(
      transform(tk, x => struct(lit(1).as("glen"), x.as("gram"))),
      transform(shingles(col("text"), 2), g => struct(lit(2).as("glen"), g.as("gram"))))
    val one = col("glen") === 1
    val two = col("glen") === 2
    val r = d
      .select(col("doc_id"), explode(tagged).as("u"))
      .select(col("doc_id"), col("u.glen").as("glen"), col("u.gram").as("gram"))
      .groupBy("doc_id", "glen", "gram").agg(count(lit(1)).as("n"))
      .groupBy("doc_id").agg(
        sum(when(one, col("n"))).as("n_tokens"),
        max(when(one, col("n"))).as("top_token"),
        coalesce(sum(when(one && col("n") > 1, col("n"))), lit(0L)).as("dup_token"),
        coalesce(sum(when(two, col("n"))), lit(0L)).as("n_bigrams"),
        coalesce(max(when(two, col("n"))), lit(0L)).as("top_bigram"),
        coalesce(sum(when(two && col("n") > 1, col("n"))), lit(0L)).as("dup_bigram"))
    val nbg = greatest(col("n_bigrams"), lit(1L))
    val topBigramFrac = col("top_bigram").cast(DoubleType) / nbg
    val dupTokenFrac = col("dup_token").cast(DoubleType) / col("n_tokens")
    r.select(
      col("doc_id"), col("n_tokens"),
      (col("top_token").cast(DoubleType) / col("n_tokens")).as("top_token_frac"),
      dupTokenFrac.as("dup_token_frac"),
      col("n_bigrams"),
      topBigramFrac.as("top_bigram_frac"),
      (col("dup_bigram").cast(DoubleType) / nbg).as("dup_bigram_frac"),
      // top-bigram arm requires the bigram to actually REPEAT (count ≥ 2):
      // a short all-distinct doc trivially has top_bigram_frac 1/n_bigrams
      // > 0.1 and must not be flagged for being short
      ((col("top_bigram") >= 2 && topBigramFrac > 0.1) || dupTokenFrac > 0.8)
        .as("repetitive"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // qt10 — boilerplate n-gram coverage (the C4/RefinedWeb "remove
  // templated text" signal): 3-gram shingles whose document frequency
  // reaches 1% of the corpus (floor 2) are boilerplate; report each
  // doc's coverage by them. Scale anatomy: the df aggregate is two-phase
  // (map-side collapses per-partition repeats); the boilerplate set is
  // then BROADCAST back onto the shingle stream — its size is bounded by
  // total-shingles / (0.01 × n_docs) ≈ 100 × avg doc length, a constant
  // independent of corpus row count, so the broadcast never grows with
  // the data. n_docs is one driver-sized count; the relative threshold
  // keeps the definition stable across SFs where any absolute df would
  // flip between empty and everything.
  val qt10 = Q(
    "qt10_boilerplate",
    """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      |n AS (SELECT GREATEST(CAST(ceil(0.01 * COUNT(*)) AS BIGINT), 2) AS thr FROM documents),
      |sh AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)-1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g FROM t),
      |df AS (SELECT g, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY g),
      |bp AS (SELECT g FROM df WHERE df >= (SELECT thr FROM n)),
      |cov AS (SELECT sh.doc_id, COUNT(*) AS n_shingles, COUNT(bp.g) AS n_boilerplate
      |        FROM sh LEFT JOIN bp ON sh.g = bp.g GROUP BY sh.doc_id)
      |SELECT doc_id,
      |  CAST(n_shingles AS BIGINT) AS n_shingles,
      |  CAST(n_boilerplate AS BIGINT) AS n_boilerplate,
      |  CAST(n_boilerplate AS DOUBLE) / n_shingles AS boilerplate_frac,
      |  CAST(n_boilerplate AS DOUBLE) / n_shingles > 0.1 AS boilerplate_heavy
      |FROM cov
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    boilerplateCoverage(docs(s, dir))
  }

  /** qt10 core over any (doc_id, text) frame — injectable for planted
    * specs. See the qt10 comment for the plan shape and broadcast bound.
    */
  def boilerplateCoverage(d: DataFrame, dfFrac: Double = 0.01): DataFrame = {
    // driver-sized: one count fixes the corpus-relative df threshold
    val thr = math.max(math.ceil(dfFrac * d.count()).toLong, 2L)
    val sh = d.select(col("doc_id"), explode(shingles(col("text"), 3)).as("g"))
    val bp = sh.groupBy("g").agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= thr)
      .select(col("g"), lit(1L).as("hit"))
    sh.join(broadcast(bp), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_boilerplate"))
      .select(
        col("doc_id"), col("n_shingles"), col("n_boilerplate"),
        (col("n_boilerplate").cast(DoubleType) / col("n_shingles")).as("boilerplate_frac"),
        (col("n_boilerplate").cast(DoubleType) / col("n_shingles") > 0.1).as("boilerplate_heavy"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // qt11 — PII detection + redaction (the scrub pass a training pipeline
  // runs before anything else). The testdata corpus is synthetic word
  // salad with no PII, so the query PLANTS deterministic PII first —
  // the same concat expression in both engines (an email for every doc,
  // a phone for even doc_ids, an IPv4 for doc_ids % 3 == 0) — then
  // detects and redacts it. The plant makes the oracle non-degenerate;
  // the detect/redact path is the production operator: three anchored
  // character-class regexes (identical semantics in Java regex and
  // RE2), counts via regexp_count, global regexp_replace, all codegen'd
  // per-row work — one map pass, no shuffle before the final sort.
  // Patterns (TextFns.EmailRe/PhoneRe/IpRe) use [.] / [+] — not
  // backslash escapes — so the same literal parses identically in both
  // engines and in Scala interpolation.
  val qt11 = Q(
    "qt11_pii_redaction",
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
       |      || CASE WHEN doc_id % 2 = 0
       |           THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |           ELSE '' END
       |      || CASE WHEN doc_id % 3 = 0
       |           THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
       |           ELSE '' END AS s
       |  FROM documents),
       |red AS (
       |  SELECT doc_id,
       |    len(regexp_extract_all(s, '$EmailRe'))::BIGINT AS n_emails,
       |    len(regexp_extract_all(s, '$PhoneRe'))::BIGINT AS n_phones,
       |    len(regexp_extract_all(s, '$IpRe'))::BIGINT AS n_ips,
       |    regexp_replace(regexp_replace(regexp_replace(s,
       |      '$EmailRe', '<EMAIL>', 'g'),
       |      '$PhoneRe', '<PHONE>', 'g'),
       |      '$IpRe', '<IP>', 'g') AS redacted
       |  FROM aug)
       |SELECT doc_id, n_emails, n_phones, n_ips,
       |  n_emails + n_phones + n_ips > 0 AS has_pii,
       |  length(redacted)::BIGINT AS redacted_len,
       |  md5(redacted) AS redacted_hash
       |FROM red
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val aug = concat(
      col("text"), lit(" contact user"), col("doc_id").cast(StringType), lit("@example.com"),
      when(col("doc_id") % 2 === 0,
        concat(lit(" call +1-555-"), lpad((col("doc_id") % 10000).cast(StringType), 4, "0")))
        .otherwise(lit("")),
      when(col("doc_id") % 3 === 0,
        concat(lit(" from 10."), (col("doc_id") % 256).cast(StringType), lit(".0.1")))
        .otherwise(lit("")))
    piiScrub(docs(s, dir).select(col("doc_id"), aug.as("s")))
  }

  /** qt11 detect/redact core over any (doc_id, s) frame — injectable
    * for specs with real (non-planted) PII-bearing strings.
    */
  def piiScrub(d: DataFrame): DataFrame = {
    val redacted = redactPii(col("s"))
    d.select(col("doc_id"),
        regexp_count(col("s"), lit(EmailRe)).cast(LongType).as("n_emails"),
        regexp_count(col("s"), lit(PhoneRe)).cast(LongType).as("n_phones"),
        regexp_count(col("s"), lit(IpRe)).cast(LongType).as("n_ips"),
        redacted.as("redacted"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
        (col("n_emails") + col("n_phones") + col("n_ips") > 0).as("has_pii"),
        length(col("redacted")).cast(LongType).as("redacted_len"),
        md5(col("redacted")).as("redacted_hash"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // qt12 — token-budget data mixing: given per-language mixture weights
  // and a total token budget (half the corpus), deterministically select
  // documents per language — hash-ordered, so the sample is stable
  // across runs and engines — until each language's budget is filled.
  // The allocation step of training-data mixture construction.
  //
  // Scale plan: TWO passes over the per-doc token counts — one
  // aggregates the corpus total down to a single broadcast-back scalar,
  // one feeds the per-language cumulative-sum window (a single shuffle
  // partitioned by language). Both passes re-tokenize here; a
  // production run lands the (doc_id, lang, n_tokens) stats relation
  // once and reads it twice — the stats are ~16 bytes/doc, noise next
  // to the corpus scan that produces them. At 100 TB the window
  // partition for one language can be huge, but the window only
  // carries (doc_id, n_tokens) — the production variant
  // range-partitions by (lang, hash-bucket) and offsets each bucket by
  // the previous buckets' totals, same semantics. All arithmetic is
  // integer (floor division), so the budget boundary is engine-exact.
  private val MixWeights = Seq("de" -> 2L, "en" -> 5L, "es" -> 1L, "fr" -> 1L, "zh" -> 1L)

  val qt12 = Q(
    "qt12_token_budget_mix",
    s"""WITH d AS (
       |  SELECT doc_id, lang, len(string_split(lower(text), ' '))::BIGINT AS n_tokens
       |  FROM documents),
       |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM d),
       |b AS (
       |  SELECT d.*,
       |    (CASE lang ${MixWeights.map { case (l, w) => s"WHEN '$l' THEN ${w}" }.mkString(" ")} END
       |      * (SELECT total FROM tot)) // 20 AS budget_tokens,
       |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR))
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM d)
       |SELECT lang, MAX(budget_tokens) AS budget_tokens,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN cum <= budget_tokens THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
       |  CAST(SUM(CASE WHEN cum <= budget_tokens THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_selected,
       |  CAST(SUM(n_tokens) AS BIGINT) AS lang_tokens
       |FROM b
       |GROUP BY lang
       |ORDER BY lang""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast(LongType).as("n_tokens"))
    tokenBudgetMix(d, MixWeights, budgetDen = 20L)
  }

  /** qt12 allocation core over any (doc_id, lang, n_tokens) frame —
    * injectable for specs. Per-language budget = weight × corpus total
    * `div` budgetDen (so weights summing to 10 with budgetDen 20 spend
    * half the corpus); selection is the hash-ordered prefix whose
    * cumulative tokens fit the budget.
    */
  def tokenBudgetMix(d: DataFrame, weights: Seq[(String, Long)], budgetDen: Long): DataFrame = {
    val total = d.agg(sum(col("n_tokens")).as("_total"))
    val wmap = map(weights.flatMap { case (l, w) => Seq(lit(l), lit(w)) }: _*)
    val win = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast(StringType)))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val b = d.crossJoin(broadcast(total))
      .withColumn("_w", element_at(wmap, col("lang")))
      // SQL `div`: integer floor division — the budget boundary is
      // exact in both engines at any corpus size (no double rounding)
      .withColumn("budget_tokens", expr(s"_w * _total div ${budgetDen}L"))
      .withColumn("cum", sum(col("n_tokens")).over(win))
    val selected = col("cum") <= col("budget_tokens")
    b.groupBy("lang")
      .agg(
        max(col("budget_tokens")).as("budget_tokens"),
        count(lit(1)).as("n_docs"),
        graft.util.Exact.countIf(selected).as("n_selected"),
        sum(when(selected, col("n_tokens")).otherwise(lit(0L))).as("tokens_selected"),
        sum(col("n_tokens")).as("lang_tokens"))
      .orderBy("lang")
  }

  // ---------------------------------------------------------------------
  // qt13 — quantile SKETCH with an oracle-checked accuracy contract: the
  // scale path for qt06. Exact percentiles buffer every value per group
  // (qt06's percentile holds the whole distribution — fine per language,
  // fatal for a 100 TB ungrouped distribution); approx_percentile is a
  // bounded-size mergeable sketch (Greenwald-Khanna family) — constant
  // memory per partition, one partial-aggregate pass. Like qd07 (HLL),
  // sketch INTERNALS differ across engines, so the query emits the
  // sketch's CONTRACT: each approximate percentile must land between the
  // exact percentiles at p ± 0.04 (a far looser window than the
  // sketch's 1/accuracy rank guarantee), as booleans the oracle expects
  // TRUE — next to the exact values themselves, which hash-check against
  // DuckDB's quantile_cont like qt06.
  val qt13 = Q(
    "qt13_quantile_sketch",
    """WITH c AS (SELECT len(string_split(lower(text), ' '))::BIGINT AS n_tokens FROM documents)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  quantile_cont(n_tokens, 0.50) AS p50_exact,
      |  quantile_cont(n_tokens, 0.90) AS p90_exact,
      |  quantile_cont(n_tokens, 0.99) AS p99_exact,
      |  TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
      |FROM c""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
      .select(size(tokens(col("text"))).cast(LongType).as("n_tokens"))
    def okCol(p: Double): Column = {
      val approx = approx_percentile(col("n_tokens"), lit(p), lit(10000))
      // contract window: exact percentiles at p ± 0.04 (clamped to [0,1])
      val lo = percentile(col("n_tokens"), lit(math.max(p - 0.04, 0.0)))
      val hi = percentile(col("n_tokens"), lit(math.min(p + 0.04, 1.0)))
      approx.cast(DoubleType).between(lo, hi)
    }
    d.agg(
      count(lit(1)).as("n_docs"),
      percentile(col("n_tokens"), lit(0.50)).as("p50_exact"),
      percentile(col("n_tokens"), lit(0.90)).as("p90_exact"),
      percentile(col("n_tokens"), lit(0.99)).as("p99_exact"),
      okCol(0.50).as("p50_ok"),
      okCol(0.90).as("p90_ok"),
      okCol(0.99).as("p99_ok"))
  }

  // ---------------------------------------------------------------------
  // qt14 — segment-level exact dedup (the substring-dedup family of
  // Lee et al.'s "Deduplicating Training Data Makes Language Models
  // Better", at fixed-width granularity): chop every document into
  // consecutive 8-token segments, keep only the globally FIRST
  // occurrence of each distinct segment (first = lowest (doc_id,
  // seg_idx)), and report per document how many segments/tokens
  // survive. Complements qd01 (whole-doc exact dedup — misses partial
  // overlap) and qt10 (df-threshold boilerplate — a coverage metric,
  // not a keep/drop decision).
  //
  // Scale plan: one segment-keyed two-phase aggregate (min position per
  // segment) joined back onto the segment stream, then a doc-keyed
  // rollup — two shuffles, both on uniformly-hashed keys, no windows
  // and no driver state. The shuffle/join key is a PAIR of independent
  // xxhash64s of the segment (16 bytes instead of ~50-char strings —
  // qd02/qd11's trick, doubled because a single 64-bit key's birthday
  // bound is ~2^32 distinct segments, inside 100 TB reach); the oracle
  // joins on the segment STRING itself, so the hash-compare also
  // polices collisions. The global first-occurrence
  // rule is min over the (doc_id, seg_idx) STRUCT — a lexicographic
  // min, order-insensitive and exact at any doc length or id range (an
  // integer packing like doc_id·K + seg_idx silently reorders once a
  // doc exceeds K segments; both engines compare the pair directly).
  private val SegW = 8
  val qt14 = Q(
    "qt14_segment_dedup",
    s"""WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
       |seg AS (SELECT doc_id, i AS seg_idx,
       |          array_to_string(t[(i*$SegW+1):(i*$SegW+$SegW)], ' ') AS seg,
       |          LEAST($SegW, len(t) - i*$SegW)::BIGINT AS seg_len
       |        FROM tok, UNNEST(range(0, CAST(ceil(len(t) / CAST($SegW AS DOUBLE)) AS BIGINT))) AS u(i)),
       |k AS (SELECT seg, MIN((doc_id, seg_idx)) AS keep_pos FROM seg GROUP BY seg),
       |d AS (SELECT s.doc_id, s.seg_len,
       |        (s.doc_id, s.seg_idx) = k.keep_pos AS kept
       |      FROM seg s JOIN k USING (seg))
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_segments,
       |  CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
       |  CAST(SUM(seg_len) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN kept THEN seg_len ELSE 0 END) AS BIGINT) AS n_tokens_kept
       |FROM d GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    segmentDedupStats(docs(s, dir), SegW)
  }

  /** qt14 core over any (doc_id, text) frame — injectable for planted
    * specs (duplicated-span corpora, tail-segment widths). See the qt14
    * comment for the plan shape.
    */
  def segmentDedupStats(docsDf: DataFrame, w: Int): DataFrame = {
    require(w > 0, s"segment width must be positive, got $w")
    val segs = docsDf
      // a NULL text makes size(t) = -1 and sequence(0, -1) a DESCENDING
      // two-element array (garbage segments); the oracle's range(0,
      // NULL) emits nothing — drop null docs to match
      .filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      // one struct array per doc: ceil(len/w) segments incl. short tail
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0L), ceil(size(col("t")) / lit(w.toDouble)).cast(LongType) - 1),
        i => struct(
          array_join(slice(col("t"), (i * w + 1).cast(IntegerType), lit(w)), " ").as("seg"),
          least(lit(w.toLong), size(col("t")) - i * w).as("seg_len")))))
      // TWO independent 64-bit hashes (second = same xxhash64 with a
      // salt column prepended) as the group/join key: one hash's
      // birthday bound is ~2^32 distinct segments — crossed by a 100 TB
      // corpus, and a collision here silently DROPS a legitimate
      // segment. 128 combined bits push the bound past 2^64 for
      // +8 bytes/row of shuffle. The oracle joins on the segment STRING
      // itself, so any residual collision still fails the hash gate.
      .select(col("doc_id"), col("pos").cast(LongType).as("seg_idx"),
        xxhash64(col("col.seg")).as("seg_h"),
        xxhash64(lit("graft_seg2"), col("col.seg")).as("seg_h2"),
        col("col.seg_len").as("seg_len"))
      .withColumn("gpos", struct(col("doc_id"), col("seg_idx")))
    val keep = segs.groupBy("seg_h", "seg_h2").agg(min(col("gpos")).as("keep_pos"))
    segs.join(keep, Seq("seg_h", "seg_h2"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segments"),
        graft.util.Exact.countIf(col("gpos") =!= col("keep_pos")).as("n_dropped"),
        sum(col("seg_len")).as("n_tokens"),
        sum(when(col("gpos") === col("keep_pos"), col("seg_len")).otherwise(lit(0L)))
          .as("n_tokens_kept"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // qt15 — corpus quality deciles: rank every document by the shared
  // quality score (qt02 / graft_quality — ONE Catalyst definition) and
  // cut the corpus into 10 equal-count buckets with ntile, reporting
  // size, score range, and token mass per decile. This is the selection
  // table a curation pipeline reads to pick "top-30% by quality" with a
  // known token budget per slice (qt12 then does the mixing).
  //
  // ntile is an EXACT equal-count cut over a total order — but NOT via a
  // global single-partition WindowExec (one executor sorting the corpus;
  // the r17 verdict's WARN). NTILE(10) needs only each row's GLOBAL
  // RANK, and rank decomposes as (rows in earlier range partitions) +
  // (row index within my partition): range-partition by the NTILE
  // ordering, sort each partition locally in parallel, count partitions
  // once (P rows to the driver), and assign deciles arithmetically from
  // rank vs the 10 exact cut points. Same rows, same oracle; the sort
  // is P parallel partition sorts instead of one executor's. (The
  // approximate alternative — boundaries from qt13's mergeable sketch —
  // changes the rows; exact deciles stay exactly computable at scale
  // this way.) Emitting min/max per decile (never a float sum) keeps
  // the output hash-stable across engines and summation orders.
  val qt15 = Q(
    "qt15_quality_deciles",
    """WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |q AS (
      |  SELECT doc_id, len(t)::BIGINT AS n_tokens,
      |    (CAST(len(list_distinct(t)) AS DOUBLE) / len(t)) * CAST(0.5 AS DOUBLE)
      |      + (CAST(len(list_filter(t, x -> x IN ('the', 'a', 'of', 'and', 'is', 'to', 'in'))) AS DOUBLE) / len(t)) * CAST(0.3 AS DOUBLE)
      |      + LEAST(CAST(1.0 AS DOUBLE), CAST(len(t) AS DOUBLE) / CAST(200.0 AS DOUBLE)) * CAST(0.2 AS DOUBLE) AS score
      |  FROM tok),
      |d AS (SELECT doc_id, n_tokens, score,
      |        NTILE(10) OVER (ORDER BY score DESC, doc_id) AS decile
      |      FROM q)
      |SELECT CAST(decile AS BIGINT) AS decile,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  MIN(score) AS min_score, MAX(score) AS max_score,
      |  CAST(SUM(n_tokens) AS BIGINT) AS token_mass
      |FROM d GROUP BY decile
      |ORDER BY decile""".stripMargin) { (s, dir) =>
    // persisted: the range exchange SAMPLES its child for boundaries and
    // then shuffles it — without the cache the text tokenize/score pass
    // (the expensive part) would run twice before the sort even starts
    val q = docs(s, dir).select(
      col("doc_id"),
      size(tokens(col("text"))).cast(LongType).as("n_tokens"),
      qualityScore(col("text")).as("score")).persist()
    val parts = math.max(1, s.sparkContext.defaultParallelism)
    // _mid = (range partition id << 33) + in-partition row index, taken
    // ABOVE the per-partition sort (nondeterministic exprs never reorder
    // past a sort), so ids follow the NTILE ordering within a partition
    val ranked = q
      .repartitionByRange(parts, col("score").desc, col("doc_id"))
      .sortWithinPartitions(col("score").desc, col("doc_id"))
      .withColumn("_mid", monotonically_increasing_id())
      .persist() // two consumers: the offsets count and the decile agg
    val counts = ranked
      .groupBy(shiftright(col("_mid"), 33).as("_pid")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    q.unpersist(blocking = false)
    val n = counts.valuesIterator.sum
    // offset(p) = rows in partitions before p (range partitions are
    // ordered by the sort key, so this IS the global-rank prefix)
    val offsets: Seq[Long] = (0 until parts)
      .scanLeft(0L)((acc, p) => acc + counts.getOrElse(p.toLong, 0L))
      .take(parts)
    // NTILE(10): the first n%10 buckets hold n/10+1 rows, the rest n/10
    // — cut points as literals, decile = first cut the rank fits under
    val (base, rem) = (n / 10L, n % 10L)
    val cuts: Seq[Long] =
      (1 to 10).map(i => i * base + math.min(i.toLong, rem))
    val rank = element_at(typedLit(offsets),
        (shiftright(col("_mid"), 33) + 1L).cast(IntegerType)) +
      col("_mid").bitwiseAND(lit((1L << 33) - 1)) + lit(1L)
    val decile = cuts.zipWithIndex.init.foldRight(lit(10L): Column) {
      case ((c, i), rest) => when(rank <= c, lit(i + 1L)).otherwise(rest)
    }
    ranked
      .select(col("doc_id"), col("n_tokens"), col("score"),
        decile.as("decile"))
      .groupBy("decile")
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("score")).as("min_score"),
        max(col("score")).as("max_score"),
        sum(col("n_tokens")).as("token_mass"))
      .orderBy("decile")
  }

  // ---------------------------------------------------------------------
  // qt16 — bigram language-model scoring (the perplexity-filter family,
  // CCNet-style, with a deterministic twist): train the bigram model on
  // the corpus itself — counts n(w1,w2), prefix totals n(w1), vocab size
  // V — and score every document by (a) its average add-one-smoothed
  // bigram probability avg P(w2|w1) = (n12+1)/(n1+V), and (b) its
  // KNOWN-bigram rate in integer basis points (bigrams whose corpus
  // count ≥ 2, i.e. seen outside this one occurrence — the novelty/OOV
  // signal). True perplexity exponentiates a mean log — transcendental,
  // so the last ulp may differ between engines; the probability mean
  // (one IEEE division per bigram, decimal-summed) and the integer rate
  // carry the same ranking signal bit-exactly.
  //
  // Scale plan: one explode pass emits the (doc, w1, w2) stream; the
  // model is two aggregates OVER THAT STREAM (bigram counts, prefix
  // counts) — token-instance-linear, two-phase, map-side combined. The
  // per-doc score joins the stream back to the bigram relation on
  // (w1, w2) — at 100 TB the model relation is the big side and this is
  // a shuffle join on uniformly-hashed string pairs; a production run
  // caps the model at the top-k bigrams (zipf mass) and broadcasts.
  // Docs with < 2 tokens have no bigrams and are excluded (emitted by
  // neither engine).
  val qt16 = Q(
    "qt16_bigram_lm_score",
    """WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      |       FROM tok, UNNEST(range(1, len(t))) AS u(i)),
      |c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12 FROM bg GROUP BY w1, w2),
      |c1 AS (SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM c2 GROUP BY w1),
      |v AS (SELECT CAST(COUNT(DISTINCT u.w) AS BIGINT) AS vsize
      |      FROM (SELECT unnest(t) AS w FROM tok) u),
      |sc AS (SELECT b.doc_id,
      |         CAST(c2.n12 + 1 AS DOUBLE) / CAST(c1.n1 + v.vsize AS DOUBLE) AS p,
      |         CASE WHEN c2.n12 >= 2 THEN 1 ELSE 0 END AS known
      |       FROM bg b JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
      |SELECT doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |  CAST(SUM(CAST(p AS DECIMAL(18,12))) AS DOUBLE) / COUNT(p) AS avg_bigram_p,
      |  CAST(SUM(known) AS BIGINT) * 10000 // COUNT(*) AS known_bps
      |FROM sc GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    bigramLmScores(docs(s, dir))
  }

  /** qt16 core over any (doc_id, text) frame — injectable for planted
    * specs pinning the smoothing and known-bigram arithmetic. See the
    * qt16 comment for the plan shape.
    */
  def bigramLmScores(docsDf: DataFrame): DataFrame = {
    val bg = docsDf
      .select(col("doc_id"), explode(shingles(col("text"), 2)).as("g"))
      .select(col("doc_id"),
        split(col("g"), " ").getItem(0).as("w1"),
        split(col("g"), " ").getItem(1).as("w2"))
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
    val c1 = c2.groupBy("w1").agg(sum(col("n12")).as("n1"))
    val v = docsDf
      .select(explode(tokens(col("text"))).as("w"))
      .agg(countDistinct(col("w")).as("vsize"))
    bg.join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        ((col("n12") + lit(1)).cast(DoubleType) /
          (col("n1") + col("vsize")).cast(DoubleType)).as("p"),
        when(col("n12") >= 2, lit(1L)).otherwise(lit(0L)).as("known"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        graft.util.Exact.davg(col("p"), 12).as("avg_bigram_p"),
        expr("sum(known) * 10000 div count(1)").as("known_bps"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // qt17 — language-label noise audit: per source, how often does the
  // declared `lang` disagree with the marker-set prediction (shared
  // predictor with qt01)? Curation pipelines run exactly this before
  // trusting upstream language tags for per-language budgets (qt12) —
  // a source with high mismatch_bps gets re-identified, not trusted.
  // Mismatch rate is integer basis points (engine-exact); one map pass
  // plus a source-keyed two-phase aggregate.
  val qt17 = Q(
    "qt17_lang_label_noise",
    s"""WITH $duckLangCtes
       |SELECT source,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN lang <> pred_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
       |  CAST(SUM(CASE WHEN lang <> pred_lang THEN 1 ELSE 0 END) AS BIGINT) * 10000 // COUNT(*) AS mismatch_bps
       |FROM pred GROUP BY source
       |ORDER BY source""".stripMargin) { (s, dir) =>
    langPredictions(docs(s, dir))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        graft.util.Exact.countIf(col("lang") =!= col("pred_lang")).as("n_mismatch"))
      .withColumn("mismatch_bps", expr("n_mismatch * 10000 div n_docs"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------------
  // qt18 — quality deciles by SKETCH BOUNDARIES: the 100 TB path qt15's
  // comment promises. qt15's exact ntile is a single-partition global
  // sort — correct up to ~billions of (score, doc) pairs, a
  // one-task-holds-the-corpus stall past that. Here the cut points come
  // from ONE mergeable-sketch aggregate (approx_percentile at 9 interior
  // percentiles — constant memory per partition, map-side combined), the
  // single-row boundary frame broadcasts back, and every document's
  // decile is a map-side comparison against the broadcast array: no
  // Window anywhere in the plan (SketchDecileSpec pins that), no global
  // sort, nothing keyed finer than the 10-row rollup.
  //
  // Cross-engine contract (qt13's pattern — sketch internals differ
  // across engines, so emit the sketch's CONTRACT, not its internals):
  //  - count_ok: each decile's doc count within ±4% of n/10 (+1 for
  //    rounding) — the equal-count promise, tolerant at boundaries
  //    (rank error ≤ n/accuracy plus whatever score-tie mass sits ON a
  //    boundary; the window mirrors qt13's ±0.04 rank tolerance). All
  //    integer arithmetic in basis points — no float rounding to
  //    disagree across engines.
  //  - n_docs_total / token_mass_total: summed ACROSS the sketch
  //    deciles and hash-compared exactly — pins that bucketing
  //    partitioned the corpus (no row lost or duplicated), which a
  //    boolean alone would not.
  val qt18 = Q(
    "qt18_decile_sketch",
    """WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_total,
      |               CAST(SUM(len(t)) AS BIGINT) AS token_mass_total FROM tok)
      |SELECT CAST(r.d AS BIGINT) AS decile, TRUE AS count_ok,
      |  tot.n_docs_total, tot.token_mass_total
      |FROM range(1, 11) r(d), tot
      |ORDER BY decile""".stripMargin) { (s, dir) =>
    val q = docs(s, dir).select(
      col("doc_id"),
      size(tokens(col("text"))).cast(LongType).as("n_tokens"),
      qualityScore(col("text")).as("score"))
    sketchDeciles(s, q)
  }

  /** Per-document sketch-decile assignment over a
    * (doc_id, n_tokens, score) frame — decile 1 = best, mirroring
    * qt15's DESC ntile. Factored out so SketchDecileSpec can compare
    * assignments against exact ntile doc-by-doc.
    */
  def sketchDecileAssign(q: DataFrame, accuracy: Int = 10000): DataFrame = {
    val bounds = q.agg(
      percentile_approx(col("score"),
        typedlit((1 to 9).map(_ / 10.0)), lit(accuracy)).as("bs"),
      count(lit(1)).as("n_total"),
      sum(col("n_tokens")).as("tok_total"))
    // boundaries ascend (percentiles 0.1..0.9); a doc strictly above k
    // of them sits in decile 10-k (above all 9 -> decile 1, the top)
    q.crossJoin(broadcast(bounds))
      .withColumn("decile",
        (lit(10) - size(filter(col("bs"), b => col("score") > b))).cast(LongType))
  }

  /** qt18 rollup: 10 zero-filled decile rows with the tolerance boolean
    * and exact conservation totals.
    */
  def sketchDeciles(s: SparkSession, q: DataFrame): DataFrame = {
    val perDecile = sketchDecileAssign(q)
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("decile_tokens"),
        max(col("n_total")).as("n_total"))
    // conservation across the 10-row rollup (window-free second agg)
    val totals = perDecile.agg(
      sum(col("n_docs")).as("n_docs_total"),
      sum(col("decile_tokens")).as("token_mass_total"),
      max(col("n_total")).as("n_total"))
    // zero-fill: an (impossible under the tolerance) empty decile must
    // still emit its row, with count_ok = false, not vanish
    val frame = s.range(1, 11).select(col("id").as("decile"))
    // |n_docs - n/10| <= n*0.04 + 1, scaled by 1e4 to stay integral
    val slack = col("n_total") * lit(400L) + lit(10000L)
    val countOk =
      abs(coalesce(col("n_docs"), lit(0L)) * lit(10000L) - col("n_total") * lit(1000L)) <= slack
    frame.join(perDecile.drop("n_total"), Seq("decile"), "left")
      .crossJoin(broadcast(totals))
      .select(col("decile"), countOk.as("count_ok"),
        col("n_docs_total"), col("token_mass_total"))
      .orderBy("decile")
  }

  // ---------------------------------------------------------------------
  // qt21 — PER-LANGUAGE quality deciles: qt18's sketch-boundary
  // bucketing, grouped. A multilingual curation pipeline cuts quality
  // thresholds per language (the CCNet discipline) — a global cut
  // (qt15/qt18) systematically drops whole low-resource languages whose
  // score distribution sits below the corpus median.
  //
  // Scale plan: ONE grouped sketch aggregate (percentile_approx is
  // mergeable — constant memory per partition per language, map-side
  // combined; the result is #languages rows, broadcast back), decile
  // assignment is a map-side comparison, and the rollup is keyed
  // (lang, decile) — 10·#languages rows. No Window, no global sort, at
  // any corpus size. Cross-engine contract (qt18's pattern): count_ok
  // per cell (±4% + 1 doc of n_lang/10, integer-bps arithmetic;
  // trivially TRUE below 30 docs/language, where a decile split is
  // statistically meaningless — documented, not hidden) plus EXACT
  // per-language conservation totals hash-compared across engines.
  val qt21 = Q(
    "qt21_lang_quality_deciles",
    """WITH tok AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS t FROM documents),
      |tot AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs_lang,
      |               CAST(SUM(len(t)) AS BIGINT) AS token_mass_lang
      |        FROM tok GROUP BY lang)
      |SELECT lang, CAST(r.d AS BIGINT) AS decile, TRUE AS count_ok,
      |  n_docs_lang, token_mass_lang
      |FROM tot, range(1, 11) r(d)
      |ORDER BY lang, decile""".stripMargin) { (s, dir) =>
    val q = docs(s, dir).select(
      col("doc_id"), col("lang"),
      size(tokens(col("text"))).cast(LongType).as("n_tokens"),
      qualityScore(col("text")).as("score"))
    langSketchDeciles(s, q)
  }

  /** qt21 core over a (doc_id, lang, n_tokens, score) frame. */
  def langSketchDeciles(s: SparkSession, q: DataFrame): DataFrame = {
    val bounds = q.groupBy("lang").agg(
      percentile_approx(col("score"),
        typedlit((1 to 9).map(_ / 10.0)), lit(10000)).as("bs"),
      count(lit(1)).as("n_lang"))
    val perCell = q.join(broadcast(bounds), Seq("lang"))
      .withColumn("decile",
        (lit(10) - size(filter(col("bs"), b => col("score") > b))).cast(LongType))
      .groupBy("lang", "decile")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("cell_tokens"),
        max(col("n_lang")).as("n_lang"))
    // exact per-language conservation, summed ACROSS the sketch cells
    val totals = perCell.groupBy("lang").agg(
      sum(col("n_docs")).as("n_docs_lang"),
      sum(col("cell_tokens")).as("token_mass_lang"),
      max(col("n_lang")).as("n_lang_t"))
    // zero-fill: every (lang, decile) cell emits a row
    val frame = bounds.select("lang")
      .crossJoin(broadcast(s.range(1, 11).select(col("id").as("decile"))))
    val slack = col("n_lang_t") * lit(400L) + lit(10000L)
    val countOk = (col("n_lang_t") < 30) ||
      abs(coalesce(col("n_docs"), lit(0L)) * lit(10000L) - col("n_lang_t") * lit(1000L)) <= slack
    frame.join(perCell.drop("n_lang"), Seq("lang", "decile"), "left")
      .join(broadcast(totals), Seq("lang"))
      .select(col("lang"), col("decile"), countOk.as("count_ok"),
        col("n_docs_lang"), col("token_mass_lang"))
      .orderBy("lang", "decile")
  }

  // ---------------------------------------------------------------------
  // qt19 — BM25 retrieval scoring (the Robertson–Spärck Jones ranking
  // family): score every document against a fixed query-term set with
  // the corpus-trained statistics (df per term, average doc length) and
  // return the top-50. This is the retrieval primitive of a RAG /
  // training-data-selection pipeline, next to qs01-06's dense ANN.
  //
  // Engine-exact scoring: classic BM25's idf is ln((N-df+0.5)/(df+0.5))
  // — transcendental, so the last ulp may differ across engines (the
  // qt16 lesson). The score here uses the RATIONAL idf (N-df+0.5)/
  // (df+0.5) — the same per-term monotone signal through one
  // correctly-rounded division, so every arithmetic step (divisions,
  // multiplies, the fixed-order 4-term sum) is bit-identical in Spark
  // and DuckDB. k1 = 1.2, b = 0.75 folded to the usual constants.
  //
  // Scale plan: tf per term is a map-side size(filter(tokens)) — the
  // whole per-doc stage is ONE corpus pass with no shuffle; the corpus
  // statistics are a single two-phase aggregate row broadcast back
  // (same scalar-subquery shape as qt12/qt16/qt18); top-50 is
  // TakeOrderedAndProject. A df=0 query term ("quantile" here, absent
  // from the corpus vocabulary) exercises the idf edge: its tf is 0
  // everywhere, contributing exactly 0.0.
  private val Bm25Terms = Seq("data", "join", "window", "quantile")
  val qt19 = Q(
    "qt19_bm25_topk",
    s"""WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
       |d AS (SELECT doc_id, len(t)::BIGINT AS dl,
       |        ${Bm25Terms.zipWithIndex.map { case (t, i) =>
                  s"len(list_filter(t, x -> x = '$t'))::BIGINT AS tf$i"
                }.mkString(", ")}
       |      FROM tok),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |         CAST(SUM(dl) AS BIGINT) AS total_tokens,
       |        ${Bm25Terms.indices.map(i =>
                  s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i"
                ).mkString(", ")}
       |       FROM d)
       |SELECT doc_id, dl AS n_tokens,
       |  ${Bm25Terms.indices.map(i =>
            s"""((CAST(st.n_docs AS DOUBLE) - CAST(st.df$i AS DOUBLE) + CAST(0.5 AS DOUBLE))
               | / (CAST(st.df$i AS DOUBLE) + CAST(0.5 AS DOUBLE)))
               | * (CAST(d.tf$i AS DOUBLE) * CAST(2.2 AS DOUBLE))
               | / (CAST(d.tf$i AS DOUBLE) + CAST(1.2 AS DOUBLE)
               |    * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
               |       * (CAST(d.dl AS DOUBLE)
               |          / (CAST(st.total_tokens AS DOUBLE) / CAST(st.n_docs AS DOUBLE)))))"""
              .stripMargin.linesIterator.mkString(" ")
          ).mkString(" + ")} AS bm25
       |FROM d, st
       |ORDER BY bm25 DESC, doc_id
       |LIMIT 50""".stripMargin) { (s, dir) =>
    val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      size(filter(col("t"), x => x === lit(t))).cast(LongType).as(s"tf$i")
    }
    val d = docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id") +: size(col("t")).cast(LongType).as("dl") +: tfCols: _*)
    val dfCols = Bm25Terms.indices.map(i =>
      graft.util.Exact.countIf(col(s"tf$i") > 0).as(s"df$i"))
    val st = d.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).as("total_tokens") +: dfCols): _*)
    val avgdl = col("total_tokens").cast(DoubleType) / col("n_docs").cast(DoubleType)
    val norm = lit(0.25) + lit(0.75) * (col("dl").cast(DoubleType) / avgdl)
    val score = Bm25Terms.indices.map { i =>
      val idf = (col("n_docs").cast(DoubleType) - col(s"df$i").cast(DoubleType) + lit(0.5)) /
        (col(s"df$i").cast(DoubleType) + lit(0.5))
      idf * (col(s"tf$i").cast(DoubleType) * lit(2.2)) /
        (col(s"tf$i").cast(DoubleType) + lit(1.2) * norm)
    }.reduce(_ + _)
    d.crossJoin(broadcast(st))
      .select(col("doc_id"), col("dl").as("n_tokens"), score.as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(50)
  }

  // ---------------------------------------------------------------------
  // qt20 — sequence packing: lay the tokenized corpus out as fixed-size
  // training windows (the pretraining batching step — docs concatenated
  // per shard and split every PackCtx tokens, GPT-style concat-and-split;
  // a doc that straddles a boundary spills into the next window rather
  // than padding). Emits each doc's physical placement: shard, window
  // index, offset inside the window, and whether it crosses a boundary.
  //
  // Scale plan: shard = closed-form multiplicative hash of doc_id (the
  // oracle replays it bit-exactly — xxhash64 would not) → the ONLY
  // shuffle is hash-partitioning by shard, and the running token cumsum
  // is a Window PARTITIONED by shard (each shard sorts locally — no
  // global sort, no single-partition Window; qt15's exact-ntile is the
  // anti-pattern this avoids). At 100 TB you raise PackShards from 8 to
  // ~corpus_tokens / 10⁹ so each shard's sort stays executor-sized;
  // placement is deterministic for any shard count, and training-order
  // randomization is the hash itself. All arithmetic is BIGINT — no
  // float drift possible.
  //
  // The hash itself, defined ONCE for batch (shardCol), stream
  // (shardOfId — packStream's per-row state math), and the oracle SQL
  // (shardSql): y = doc_id mod 1000003 (keeps the product below 2^63 —
  // doc_id·K directly overflows signed 64-bit from doc_id ≈ 3.5e9,
  // wrapping negative in Spark and ERRORING in DuckDB), then the HIGH
  // 3 bits of the 32-bit Knuth product y·2654435761 mod 2^32 (the low
  // bits of an odd-multiplier product are y mod 8 verbatim — not a
  // hash at all).
  private[graft] final val PackCtx = 512L // tokens per training window
  private[graft] final val PackShards = 8L
  private[graft] final val PackHashMod = 1000003L // prime ≫ shards, K·mod < 2^63
  private[graft] final val PackHashK = 2654435761L
  private[graft] final val PackShardDiv = 4294967296L / PackShards
  private[graft] def shardOfId(docId: Long): Long =
    ((docId % PackHashMod) * PackHashK % 4294967296L) / PackShardDiv
  /** Scalar placement arithmetic (the stream's per-row state math):
    * (seq_id, seq_offset, spans_boundary) of a doc starting at running
    * token offset `start`. The column twin lives in [[packSequences]];
    * DocStreamsSpec pins their equality across triggers.
    */
  private[graft] def placementOf(start: Long, nTok: Long): (Long, Long, Boolean) =
    (start / PackCtx, start % PackCtx, start % PackCtx + nTok > PackCtx)
  private[graft] def shardCol(docId: Column): Column = {
    // m < 2^32, so the double division inside floor is exact (no div
    // operator on Column; floor(a/b) is only unsafe past 2^53)
    val m = (docId % lit(PackHashMod)) * lit(PackHashK) % lit(4294967296L)
    floor(m / lit(PackShardDiv)).cast(LongType)
  }
  private def shardSql(docId: String): String =
    s"(($docId % $PackHashMod) * $PackHashK % 4294967296) // $PackShardDiv"
  val qt20 = Q(
    "qt20_sequence_packing",
    s"""WITH d AS (SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
       |             ${shardSql("doc_id")} AS shard
       |           FROM documents),
       |c AS (SELECT doc_id, shard, n_tokens,
       |        CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
       |      FROM d)
       |SELECT doc_id, shard, n_tokens,
       |  start_tok // $PackCtx AS seq_id,
       |  start_tok % $PackCtx AS seq_offset,
       |  (start_tok % $PackCtx) + n_tokens > $PackCtx AS spans_boundary
       |FROM c
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    packSequences(docs(s, dir)).orderBy("doc_id")
  }

  /** The packing operator itself (qt20 is its oracle projection): doc →
    * (shard, seq_id, seq_offset, spans_boundary) placements under
    * concat-and-split packing. See the qt20 comment for the plan shape.
    */
  def packSequences(docsDf: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docsDf
      .select(col("doc_id"),
        size(tokens(col("text"))).cast(LongType).as("n_tokens"),
        shardCol(col("doc_id")).as("shard"))
      .withColumn("start_tok", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        // integer `div`, not floor(a/b): double division is only exact
        // below 2^53 — a 100 TB shard's token cumsum overflows that
        expr(s"start_tok div $PackCtx").as("seq_id"),
        (col("start_tok") % lit(PackCtx)).as("seq_offset"),
        ((col("start_tok") % lit(PackCtx)) + col("n_tokens") > lit(PackCtx))
          .as("spans_boundary"))
  }

  // ---------------------------------------------------------------------
  // qt22 — per-source domain-divergence audit: the top over-represented
  // terms of each source vs the corpus background. The drift monitor a
  // curation pipeline runs when a new crawl snapshot or vendor source
  // lands: a source whose top-lift terms are casino/SEO vocabulary gets
  // quarantined before it pollutes the mix; a source whose divergent
  // terms are domain jargon (code, math) is a candidate for its own
  // mixing weight (qt12's knob).
  //
  // lift_bps = (c_st / n_s) / (c_t / N) in exact integer basis points:
  // c_st·N·10000 div (n_s·c_t) — engine-exact with no float ratio. The
  // product is bounded by c_st·N·10⁴ ≤ n_s·N·10⁴; past ~2⁶³ (corpus
  // token mass over ~10⁹ with a source over ~10⁵ tokens of one term) the
  // production path switches the lift to one DOUBLE expression — noted
  // here, exact form kept as the oracle contract at test scale.
  //
  // Scale plan: term counting is ONE map-side-combinable groupBy on
  // (source, term) — vocab-sized output, not corpus-sized. The corpus
  // marginals reuse that relation (no second corpus pass): corp is a
  // term-keyed re-aggregate, src is #sources rows (broadcast), N is one
  // row (broadcast). The term-keyed st⋈corp join is a shuffle join on
  // the vocab — both sides are count relations, never document rows.
  // Top-5 per source runs TWO-PHASE: phase 1 takes top-5 within each of
  // 64 salt buckets (64·5 survivors per source — the per-partition sort
  // is bucket-sized), phase 2 ranks the survivors. A single
  // Window.partitionBy(source) would sort each source's ENTIRE vocab in
  // one task — a million-row sort per source with #sources-bounded
  // parallelism; salting makes the heavy sort 64-way parallel and the
  // final sort 320 rows. Transparent to the result: a source-level
  // top-5 row is necessarily top-5 within its salt bucket (same total
  // order both phases). The oracle ranks in one window — semantically
  // identical, and it polices the two-phase rewrite.
  private val DivergenceMinCount = 5L
  val qt22 = Q(
    "qt22_domain_divergence",
    s"""WITH tok AS (SELECT doc_id, source, string_split(lower(text), ' ') AS t FROM documents),
       |tc AS (SELECT source, unnest(t) AS term FROM tok),
       |st AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS term_count
       |       FROM tc GROUP BY 1, 2),
       |src AS (SELECT source, CAST(SUM(term_count) AS BIGINT) AS n_source_tokens
       |        FROM st GROUP BY 1),
       |corp AS (SELECT term, CAST(SUM(term_count) AS BIGINT) AS corpus_count
       |         FROM st GROUP BY 1),
       |n AS (SELECT CAST(SUM(term_count) AS BIGINT) AS n_total FROM st),
       |lift AS (SELECT s.source, s.term, s.term_count, src.n_source_tokens,
       |    s.term_count * n.n_total * 10000 // (src.n_source_tokens * c.corpus_count) AS lift_bps
       |  FROM st s JOIN src USING (source) JOIN corp c USING (term) CROSS JOIN n
       |  WHERE s.term_count >= $DivergenceMinCount),
       |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
       |    ORDER BY lift_bps DESC, term_count DESC, term) AS rank FROM lift)
       |SELECT source, CAST(rank AS BIGINT) AS rank, term, term_count, lift_bps,
       |  n_source_tokens
       |FROM rk WHERE rank <= 5
       |ORDER BY source, rank""".stripMargin) { (s, dir) =>
    domainDivergence(docs(s, dir), minCount = DivergenceMinCount, topK = 5)
  }

  /** qt22 core over any (doc_id, source, text) frame — injectable for
    * planted specs. See the qt22 comment for the plan shape.
    */
  def domainDivergence(docsDf: DataFrame, minCount: Long, topK: Int): DataFrame = {
    val st = docsDf
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("term_count"))
    val srcTot = st.groupBy("source").agg(sum(col("term_count")).as("n_source_tokens"))
    val corp = st.groupBy("term").agg(sum(col("term_count")).as("corpus_count"))
    val n = st.agg(sum(col("term_count")).as("n_total"))
    val lift = st.filter(col("term_count") >= minCount)
      .join(broadcast(srcTot), Seq("source"))
      .join(corp, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("lift_bps",
        expr("term_count * n_total * 10000 div (n_source_tokens * corpus_count)"))
    // two-phase top-k: bucket-local rank prunes to 64·topK per source,
    // then the real rank runs over the survivors
    val salted = lift.withColumn("_salt", pmod(xxhash64(col("term")), lit(64)))
    val order = Seq(col("lift_bps").desc, col("term_count").desc, col("term"))
    val w1 = Window.partitionBy(col("source"), col("_salt")).orderBy(order: _*)
    val w2 = Window.partitionBy(col("source")).orderBy(order: _*)
    salted.withColumn("_r1", row_number().over(w1)).filter(col("_r1") <= topK)
      .withColumn("rank", row_number().over(w2).cast(LongType))
      .filter(col("rank") <= topK)
      .select(col("source"), col("rank"), col("term"), col("term_count"),
        col("lift_bps"), col("n_source_tokens"))
      .orderBy("source", "rank")
  }

  // ---------------------------------------------------------------------
  // qt23 — retrieval chunking: split each document into fixed-width
  // overlapping token windows (the RAG / embedding-prep step that feeds
  // qs01-qs07's vectors — every chunk becomes one embedding row). Sliding
  // windows of ChunkW tokens every ChunkStride, with the FINAL window
  // clamped to end exactly at the document's last token: every chunk of a
  // long-enough doc is full-width (uniform embedding inputs — no ragged
  // tail), and the chunk set still covers every token. Short docs emit
  // one whole-doc chunk.
  //
  // Scale plan: this is a pure map pass — tokenize, a generator
  // (posexplode over a closed-form chunk count), and slice arithmetic,
  // all inside whole-stage codegen. ZERO shuffles at any corpus size
  // (the trailing ORDER BY is this oracle projection's display contract,
  // not the operator's; the production path writes chunks partitioned by
  // doc shard with no sort — ChunkingSpec pins the operator plan
  // shuffle-free). Chunk count / start arithmetic is integer-exact
  // (`div`, no float ceil): the same BIGINT formula runs in both
  // engines.
  private[graft] final val ChunkW = 32
  private[graft] final val ChunkStride = 24
  val qt23 = Q(
    "qt23_rag_chunks",
    s"""WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t
       |            FROM documents WHERE text IS NOT NULL),
       |d AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n FROM tok),
       |c AS (SELECT doc_id, t, n, i AS chunk_idx,
       |        LEAST(i * $ChunkStride, GREATEST(n - $ChunkW, 0)) AS start_tok
       |      FROM d, UNNEST(range(0, CASE WHEN n <= $ChunkW THEN 1
       |        ELSE (n - $ChunkW + ${ChunkStride - 1}) // $ChunkStride + 1 END)) AS u(i))
       |SELECT doc_id, chunk_idx, start_tok,
       |  LEAST($ChunkW, n) AS n_tokens,
       |  array_to_string(t[(start_tok + 1):(start_tok + $ChunkW)], ' ') AS chunk_text
       |FROM c
       |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
    ragChunks(docs(s, dir), ChunkW, ChunkStride).orderBy("doc_id", "chunk_idx")
  }

  /** qt23 core over any (doc_id, text) frame — the chunking operator
    * itself, orderBy-free (see the qt23 comment for the plan shape).
    */
  def ragChunks(docsDf: DataFrame, w: Int, stride: Int): DataFrame = {
    require(w > 0 && stride > 0 && stride <= w,
      s"need 0 < stride <= width, got width=$w stride=$stride")
    docsDf
      // NULL text: tokens() yields NULL, sequence() yields NULL, the
      // generator emits nothing in Spark but the arithmetic differs from
      // the oracle's — drop null docs explicitly on both sides (qt14
      // precedent)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("n", size(col("t")).cast(LongType))
      // chunk count: 1 for docs that fit one window, else enough
      // stride-spaced starts to reach the clamp — integer `div` so both
      // engines run the identical BIGINT formula
      .select(col("doc_id"), col("t"), col("n"),
        posexplode(sequence(lit(0L),
          when(col("n") <= w, lit(0L))
            .otherwise(expr(s"(n - $w + ${stride - 1}) div $stride")))))
      .withColumn("chunk_idx", col("col"))
      .withColumn("start_tok",
        least(col("chunk_idx") * stride, greatest(col("n") - w, lit(0L))))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        least(lit(w.toLong), col("n")).as("n_tokens"),
        // slice takes an Int start — a per-DOCUMENT token index (engine
        // array limit), not a corpus-sized count
        array_join(slice(col("t"), (col("start_tok") + 1).cast(IntegerType), lit(w)), " ")
          .as("chunk_text"))
  }

  // ---------------------------------------------------------------------
  // qt24 — WEIGHTED sample per source: Duffield–Lund–Thorup priority
  // sampling (each doc gets priority w/u for a uniform u; the top-k by
  // priority are kept, and max(w, τ) with τ = the (k+1)-th priority is an
  // unbiased per-item weight estimator — the scheme behind weighted
  // sampling sketches in traffic/corpus accounting). qt05 is the
  // UNWEIGHTED per-source quota; here weight = n_chars, so long docs are
  // proportionally likelier to survive — the "sample by token mass, not
  // doc count" curation op.
  //
  // Cross-engine exactness without pow/ln: u = (h+1)/2^31 from a
  // Lehmer-style integer hash (exact in both engines), and priority is a
  // SINGLE division of exact inputs — IEEE-754 division is correctly
  // rounded, so both engines produce the identical double (the pow-based
  // A-ES form would hinge on library ulp agreement; DLT needs only /).
  //
  // 100 TB shape: the global per-source top-k window is computed in TWO
  // stages — a salted local top-(k+1) first (each (source, salt) cell
  // keeps ≤ k+1 rows), then the true window over ≤ salt·(k+1) survivors
  // per source. A hot source (half the corpus from one crawl) hits the
  // global window with bounded rows instead of its full row count; the
  // (k+1)-th priority — τ — survives stage 1 by construction, so the
  // estimator is exact, not approximate. PrioritySampleSpec pins
  // two-stage ≡ one-stage; the oracle replays the one-stage form.
  /** Two-step Lehmer hash of a NONNEGATIVE id, in [0, 2^31-1). ONE
    * definition for qt24's sampling u and qt25's split digit.
    *
    * CONTRACT: the input must be >= 0. Spark's pmod and DuckDB's plain %
    * (which both oracles use) agree only for nonnegative operands — a
    * negative id would silently diverge between the engines. That holds
    * for `documents.doc_id` (generator emits sequential nonneg ids), and
    * any new caller must either keep the contract or switch BOTH sides
    * to the same signed-mod semantics.
    *
    * Two steps, not one: one step never wraps mod 2^31 for small ids
    * (the value would be monotone in id — correlated with any id-derived
    * stratum; see qt25's digit-correlation note), the second multiply
    * forces the wrap. All intermediates < 2^31·48271 < 2^63 — exact in
    * both engines.
    */
  private def lehmer2(id: Column): Column =
    pmod(pmod(id * lit(48271L), lit(2147483647L)) * lit(48271L), lit(2147483647L))

  private val PriK = 8
  private val PriSalt = 16
  val qt24 = Q(
    "qt24_priority_sample",
    s"""WITH pr AS (
       |  SELECT source, doc_id, n_chars,
       |    CAST(n_chars AS DOUBLE) /
       |      (CAST((((doc_id * 48271) % 2147483647) * 48271 % 2147483647) + 1 AS DOUBLE) / CAST(2147483648 AS DOUBLE)) AS priority
       |  FROM documents),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY priority DESC, doc_id) AS rn FROM pr),
       |t AS (SELECT source, MAX(CASE WHEN rn = ${PriK + 1} THEN priority END) AS tau FROM r GROUP BY source)
       |SELECT r.source, CAST(r.rn AS BIGINT) AS rank, r.doc_id, r.n_chars, r.priority,
       |  GREATEST(CAST(r.n_chars AS DOUBLE), COALESCE(t.tau, CAST(0 AS DOUBLE))) AS est_weight
       |FROM r JOIN t USING (source) WHERE r.rn <= $PriK
       |ORDER BY source, rank""".stripMargin) { (s, dir) =>
    prioritySample(docs(s, dir), PriK).orderBy("source", "rank")
  }

  /** qt24 core over any (source, doc_id, n_chars) frame: two-stage DLT
    * priority sample of `k` docs per source, weight = n_chars. Factored
    * out so PrioritySampleSpec can pin the two-stage == one-stage
    * equivalence and the per-source output bound.
    */
  def prioritySample(docsDf: DataFrame, k: Int): DataFrame = {
    // u in (0,1]: two-step Lehmer hash of doc_id (shared lehmer2 —
    // nonneg-id contract documented there), integer-exact in both
    // engines, then ONE exactly-rounded division; priority = w/u, one
    // more.
    val u = (lehmer2(col("doc_id")) + lit(1L))
      .cast(DoubleType) / lit(2147483648.0)
    val pr = docsDf.select(col("source"), col("doc_id"), col("n_chars"),
      (col("n_chars").cast(DoubleType) / u).as("priority"))
    // stage 1: salted local top-(k+1) — bounds any one source's
    // contribution to the global window at PriSalt·(k+1) rows
    val wLocal = Window.partitionBy(col("source"), col("_salt"))
      .orderBy(col("priority").desc, col("doc_id"))
    val thinned = pr
      .withColumn("_salt", pmod(col("doc_id"), lit(PriSalt.toLong)))
      .withColumn("_lrn", row_number().over(wLocal))
      .filter(col("_lrn") <= k + 1)
      .drop("_salt", "_lrn")
    // stage 2: the true per-source ranking over the bounded survivor set
    val wg = Window.partitionBy(col("source"))
      .orderBy(col("priority").desc, col("doc_id"))
    val wsrc = Window.partitionBy(col("source"))
    thinned
      .withColumn("rn", row_number().over(wg))
      .withColumn("tau", max(when(col("rn") === k + 1, col("priority"))).over(wsrc))
      .filter(col("rn") <= k)
      .select(col("source"), col("rn").cast(LongType).as("rank"),
        col("doc_id"), col("n_chars"), col("priority"),
        greatest(col("n_chars").cast(DoubleType),
          coalesce(col("tau"), lit(0.0))).as("est_weight"))
  }

  // ---------------------------------------------------------------------
  // qt25 — hash-range train/val/test split + stratified allocation audit.
  // The 100 TB split operator is MAP-SIDE: each doc's split comes from a
  // Lehmer hash of its id (train if h%10 < 8, val if = 8, test if = 9) —
  // no shuffle, no ranking, rerun-stable, and membership is decidable
  // per row forever (adding docs never reshuffles old assignments —
  // the property an exact-quota split by per-stratum RANK lacks, since
  // every new doc would shift ranks and flip memberships). The audit is
  // the distributed part: realized share per (lang, source) stratum vs
  // the 80/10/10 target in integer bps, ONE two-phase aggregate bounded
  // by strata×3 rows at any corpus size. Near-dup leakage across the
  // boundary is qd16's job (cluster-level co-assignment overrides the
  // hash for dup families); this is the independent-doc base split.
  val qt25 = Q(
    "qt25_split_audit",
    """WITH s AS (SELECT lang, source,
      |    CASE WHEN (((doc_id * 48271) % 2147483647) * 48271 % 2147483647) % 10 < 8 THEN 'train'
      |         WHEN (((doc_id * 48271) % 2147483647) * 48271 % 2147483647) % 10 = 8 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents),
      |c AS (SELECT lang, source, split, CAST(COUNT(*) AS BIGINT) AS n_docs
      |      FROM s GROUP BY lang, source, split),
      |t AS (SELECT lang, source, CAST(SUM(n_docs) AS BIGINT) AS n_stratum
      |      FROM c GROUP BY lang, source)
      |SELECT c.lang, c.source, c.split, c.n_docs, t.n_stratum,
      |  c.n_docs * 10000 // t.n_stratum AS share_bps,
      |  CAST(CASE c.split WHEN 'train' THEN 8000 WHEN 'val' THEN 1000 ELSE 1000 END AS BIGINT) AS target_bps,
      |  abs(c.n_docs * 10000 // t.n_stratum
      |    - CAST(CASE c.split WHEN 'train' THEN 8000 WHEN 'val' THEN 1000 ELSE 1000 END AS BIGINT)) AS dev_bps
      |FROM c JOIN t USING (lang, source)
      |ORDER BY lang, source, split""".stripMargin) { (s, dir) =>
    // Two-step Lehmer before % 10 (shared lehmer2 — see its wrap +
    // nonneg-id contract notes); the second multiply decorrelates the
    // low digit from id-derived strata (measured: strata mix 80/10/10
    // after, single-split-per-stratum before).
    val h = lehmer2(col("doc_id")) % lit(10L)
    val split = when(h < 8, "train").when(h === 8, "val").otherwise("test")
    val c = docs(s, dir)
      .select(col("lang"), col("source"), split.as("split"))
      .groupBy("lang", "source", "split")
      .agg(count(lit(1)).as("n_docs"))
    // stratum totals derive from the (strata×3)-row audit relation, not
    // a second corpus pass; strata-bounded -> broadcast back
    val t = c.groupBy("lang", "source").agg(sum(col("n_docs")).as("n_stratum"))
    val target = when(col("split") === "train", 8000L)
      .when(col("split") === "val", 1000L).otherwise(1000L)
    c.join(broadcast(t), Seq("lang", "source"))
      .withColumn("share_bps", expr("n_docs * 10000 div n_stratum"))
      .withColumn("target_bps", target)
      .withColumn("dev_bps", abs(col("share_bps") - col("target_bps")))
      .select("lang", "source", "split", "n_docs", "n_stratum",
        "share_bps", "target_bps", "dev_bps")
      .orderBy("lang", "source", "split")
  }

  val all: Seq[Q] =
    Seq(qt01, qt02, qt03, qt04, qt05, qt06, qt07, qt08, qt09, qt10, qt11, qt12,
      qt13, qt14, qt15, qt16, qt17, qt18, qt19, qt20, qt21, qt22, qt23, qt24,
      qt25)
}
