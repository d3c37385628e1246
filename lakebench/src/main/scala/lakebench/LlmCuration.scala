package lakebench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.GraphOps
import graft.queries.{LlmDedup, LlmSimilarity}
import lakebench.Main.wall

/** `llm_curation`: near-duplicate curation and vector search over a
  * seeded corpus. A round is one curation pass — MinHash signatures,
  * LSH-verified near-duplicate pairs, connected-component clusters,
  * keep-best per cluster, and an IVF index build — then batches of
  * ad-hoc IVF top-k searches against the index just built, after one
  * untimed batch.
  */
object LlmCuration {

  val TopK = 5
  val NProbe = 4

  def run(spark: SparkSession, a: Args, tracer: Option[Tracer], out: Out): Unit = {
    val in = new Inputs(spark, s"${a.dir}/inputs")
    out.opsPerRound = 1 + in.int("query_batches")

    /** One curation pass; returns (pairs, labels, kept). */
    def curate(art: String): (Seq[Row], Seq[Row], Seq[Row]) = {
      val traced = tracer.isDefined
      val docs = in.table("documents")
      // the keep-best quality score: longer documents are kept
      val quality = docs.select(col("doc_id"), length(col("text")).cast("double").as("score"))
      val (sig, tSig) = wall {
        val s = LlmDedup.lshSignatures(docs)
        if (traced) s.count()
        s
      }
      val pairsDf = LlmDedup.lshVerifiedPairs(sig).persist()
      val pairs = pairsDf.collect().toSeq
      val jobs0 = tracer.map(_.snapshot()("jobs")).getOrElse(0.0)
      val (labels, tCc) = wall {
        val l = GraphOps.connectedComponents(pairsDf, "doc_a", "doc_b")
        l.count()
        l
      }
      val lab = labels.select(col("node").as("doc_id"), col("component").as("cluster_id"))
      val labelRows = lab.collect().toSeq
      val kept = LlmDedup.keepBestPerCluster(lab, quality).collect().toSeq
      LlmSimilarity.writeIvfIndex(spark, in.path, art)
      if (traced) {
        out.layer.add("llm.signature_s", tSig)
        out.layer.add("llm.cluster_s", tCc)
        out.layer.add("llm.cluster_jobs", tracer.get.snapshot()("jobs") - jobs0)
        out.layer.add("llm.candidate_pairs", graft.LakebenchLsh.candidatePairs(sig).count())
        out.layer.add("llm.verified_pairs", pairs.size)
      }
      labels.unpersist(blocking = false)
      pairsDf.unpersist(blocking = false)
      sig.unpersist(blocking = false)
      (pairs, labelRows, kept)
    }

    def batch(art: String, b: Int): DataFrame = {
      val size = in.int("batch_size")
      val q = in.table("queries")
        .filter(col("query_id") >= b * size && col("query_id") < (b + 1) * size)
      LlmSimilarity.ivfSearch(spark, art, q, NProbe, TopK)
    }

    /** The query batches against a fresh index, after one untimed batch
      * that warms the search's code.
      */
    def search(round: Int, art: String): Unit = {
      batch(art, 0).collect()
      (0 until in.int("query_batches")).foreach { b =>
        val df = batch(art, b)
        if (tracer.isDefined) out.layer.add("read.files_live", df.inputFiles.length)
        val (rows, t) = Trace.op(tracer, out, "read")(df.collect().toSeq)
        out.reads += t
        out.logRead(round, "ivf_search", Map("batch" -> b.toString), rows)
        tracer.foreach { tr =>
          tr.drain()
          out.layer.add("llm.ann_candidates", probeRows(df))
        }
      }
    }

    out.setupDone()

    var lastArt = ""
    var last: (Seq[Row], Seq[Row], Seq[Row]) = (Nil, Nil, Nil)
    out.rounds = Run.rounds(a.seconds) { r =>
      val art = s"${a.dir}/lake/ivf-$r"
      val (res, t) = Trace.op(tracer, out, "op")(curate(art))
      out.ops += t
      out.written += Tracer.disk(new File(art)).bytes
      search(r, art)
      if (lastArt.nonEmpty) Main.deleteTree(new File(lastArt))
      lastArt = art
      last = res
    }
    def dump(name: String, rows: Seq[Row]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(a.dir, name),
        Json.rows(rows).getBytes("UTF-8"))
    dump("pairs.json", last._1)
    dump("labels.json", last._2)
    dump("kept.json", last._3)
  }

  /** Rows the probe join produced (corpus vectors scored), from the
    * executed plan's join metrics.
    */
  private def probeRows(df: DataFrame): Double =
    Tracer.nodes(df.queryExecution.executedPlan)
      .filter(_.nodeName.contains("Join"))
      .flatMap(_.metrics.get("numOutputRows").map(_.value))
      .sum.toDouble
}
