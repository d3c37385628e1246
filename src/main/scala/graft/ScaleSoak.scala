package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10× scale soak: synthesize an sf1 dataset from sf0.1 (ten key-shifted
  * copies per table), run the heavy query families at BOTH scales, and
  * emit per-query scaling factors — the empirical check behind every
  * "scales linearly by design" claim in SURVEY/VERDICT. Anything
  * super-linear here needs a named cause or a fix.
  *
  * Synthesis preserves each copy's internal structure and DECORRELATES
  * copies from each other, so workload density per row stays constant
  * (the property a real 10× corpus has):
  *  - fact/dim keys shift by copy × stride, so referential integrity
  *    holds and entity cardinalities grow 10× (users, orders, docs);
  *  - document text gets a per-copy token suffix — shingle/MinHash
  *    near-dup families repeat PER COPY but share nothing across
  *    copies (un-suffixed copies would make every doc a 10-way exact
  *    dup and quadratically explode pair queries by construction);
  *  - embeddings cyclically rotate by the copy index — an orthogonal
  *    permutation, so within-copy geometry (and every distance
  *    distribution) is exactly preserved while cross-copy cosines
  *    decorrelate.
  *
  * Usage: sbt "runMain graft.Dev scale <sf0.1-dir> SOAK.json"
  * (SPARK_GRAFT_CPUS and GRAFT_SOAK_DIR env knobs; synthesis is skipped
  * if the target dir carries a _SOAK_READY marker.)
  *
  * GRAFT_SOAK_DECADES=2 chains the synthesis (sf0.1 to sf1 to sf10, a
  * 100x total ramp: the key-shift/token-suffix/rotation transforms
  * compose) and reports each query's PER-DECADE factor — the check that
  * the scaling curve holds another order of magnitude, not just the
  * first.
  */
object ScaleSoak {

  private val Copies = 10

  val DefaultQueries: Seq[String] = Seq(
    "q35_medallion_e2e", "q41_medallion_versioned",
    "qd02_jaccard_pairs", "qd04_minhash_lsh_pairs", "qd13_incremental_dedup",
    "qs06_knn_join", "qt20_sequence_packing",
    "qv01_zorder_skip", "qv07_deletion_vectors")

  /** Synthesize the larger scales from `src`, time `names` at every
    * scale and write the per-query factors to `outPath`.
    */
  def run(spark: SparkSession, src: String, outPath: String,
      names: Seq[String]): Unit = {
    val base = sys.env.getOrElse("GRAFT_SOAK_DIR", "/tmp/graft_sf1")
    val decades = sys.env.getOrElse("GRAFT_SOAK_DECADES", "1").toInt
    require(decades >= 1 && decades <= 3, s"decades must be 1..3, got $decades")
    val dirs: Seq[String] =
      src +: (1 to decades).map(d => if (d == 1) base else s"${base}_d$d")
    dirs.sliding(2).zipWithIndex.foreach {
      case (Seq(a, b), i) => synthesize(spark, a, b, tag = s"d${i + 1}")
      case _ => ()
    }

    def time(name: String, dir: String): (Double, Long) = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count()
      ((System.nanoTime() - t0) / 1e9, n)
    }

    val results = names.map { name =>
      // one warmup (codegen+JIT) at the small scale, then min-of-2 per
      // scale (single shot at the largest — it dominates wall-clock) —
      // the `graft.Dev prof` discipline against host noise
      time(name, src)
      val samples = dirs.zipWithIndex.map { case (d, i) =>
        val reps = if (i == dirs.size - 1 && decades > 1) 1 else 2
        (1 to reps).map(_ => time(name, d)).minBy(_._1)
      }
      val factors = samples.sliding(2).collect { case Seq(a, b) => b._1 / a._1 }.toSeq
      println(f"SOAK $name%-28s " +
        samples.map(s => f"${s._1}%7.2fs").mkString(" ") +
        "  factors " + factors.map(f => f"$f%5.2f").mkString(" ") +
        "  rows " + samples.map(_._2).mkString(" -> "))
      (name, samples, factors)
    }

    val json = results.map { case (n, samples, factors) =>
      val secs = samples.map(s => f"${s._1}%.3f").mkString("[", ", ", "]")
      val rows = samples.map(_._2).mkString("[", ", ", "]")
      val fs = factors.map(f => f"$f%.3f").mkString("[", ", ", "]")
      s"""    "$n": {"secs": $secs, "rows": $rows, "decade_factors": $fs}"""
    }.mkString("{\n  \"copies_per_decade\": " + Copies +
      ",\n  \"decades\": " + decades + ",\n  \"queries\": {\n", ",\n", "\n  }\n}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes("UTF-8"))
    println(s"SOAK written to $outPath")
  }

  /** Build the 10× dataset (idempotent via marker file). `tag` makes
    * the per-copy transforms COMPOSITION-SAFE across chained decades:
    * without it, decade paths (copy a, copy 0) and (copy 0, copy a)
    * produce byte-identical text (copy 0 is a passthrough), and cyclic
    * embedding rotations compose additively (100 copy-pairs collapse
    * onto ≤19 distinct rotations) — both inject ACCIDENTAL exact
    * duplicates that explode pair queries super-linearly at 100×. The
    * tag rides in the token suffix, and embeddings decorrelate by a
    * (tag, copy)-seeded ±1 sign flip (an orthogonal diagonal, so
    * within-copy geometry is exactly preserved and flips COMPOSE into
    * fresh flips instead of colliding like rotations).
    */
  def synthesize(spark: SparkSession, src: String, dst: String,
      tag: String = "d1"): Unit = {
    val marker = java.nio.file.Paths.get(dst, "_SOAK_READY")
    if (java.nio.file.Files.exists(marker)) return
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))

    // raw reads on purpose: synthesis is a byte-level passthrough of
    // every column it does not shift (Tables.load's normalizations
    // belong to QUERY time, at both scales equally)
    def raw(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    def copies(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until Copies).map(c => shift(df, c)).reduce(_.unionByName(_))

    def write(t: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"SOAK synthesized $t")
    }

    // dims stay as-is (region/nation are fixed geography)
    Seq("region", "nation").foreach(t => write(t, raw(t)))

    val cust = raw("customer"); val cStride = stride(cust, "c_custkey")
    write("customer", copies(cust)((d, c) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(c * cStride))))

    val supp = raw("supplier"); val sStride = stride(supp, "s_suppkey")
    write("supplier", copies(supp)((d, c) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(c * sStride))))

    val part = raw("part"); val pStride = stride(part, "p_partkey")
    write("part", copies(part)((d, c) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(c * pStride))))

    val ord = raw("orders"); val oStride = stride(ord, "o_orderkey")
    write("orders", copies(ord)((d, c) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(c * oStride))
        .withColumn("o_custkey", col("o_custkey") + lit(c * cStride))))

    val li = raw("lineitem")
    write("lineitem", copies(li)((d, c) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(c * oStride))
        .withColumn("l_partkey", col("l_partkey") + lit(c * pStride))
        .withColumn("l_suppkey", col("l_suppkey") + lit(c * sStride))))

    val ev = raw("events")
    val eStride = stride(ev, "event_id"); val uStride = stride(ev, "user_id")
    write("events", copies(ev)((d, c) =>
      d.withColumn("event_id", col("event_id") + lit(c * eStride))
        .withColumn("user_id", col("user_id") + lit(c * uStride))))

    val docs = raw("documents"); val dStride = stride(docs, "doc_id")
    write("documents", copies(docs)((d, c) => {
      val shifted = d.withColumn("doc_id", col("doc_id") + lit(c * dStride))
      if (c == 0) shifted
      else shifted
        .withColumn("text",
          regexp_replace(col("text"), "(\\S+)", "$1_" + tag + "c" + c))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }))

    val emb = raw("embeddings"); val vStride = stride(emb, "vec_id")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    def signs(c: Int): Array[Float] = {
      val rnd = new scala.util.Random((tag + "#" + c).hashCode)
      Array.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f)
    }
    write("embeddings", copies(emb)((d, c) => {
      val shifted = d.withColumn("vec_id", col("vec_id") + lit(c * vStride))
      if (c == 0) shifted
      else shifted.withColumn("embedding",
        zip_with(col("embedding"), typedlit(signs(c).toSeq), (x, s) => x * s))
    }))

    java.nio.file.Files.write(marker, Array.emptyByteArray)
  }
}
