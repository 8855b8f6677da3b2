package olapbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ops.{DedupOps, SimilarityOps, TextOps}
import graft.streaming.StreamingCube

/** curate_pipeline: seeded micro-batches of documents and embeddings
  * through the curation operators, then into the near-dup cluster index
  * through the streaming ingest. `run.py` lands each batch as parquet
  * files (the documents in a directory the ingest streams from, plus the
  * batch's embedding subset); this side runs, per batch:
  *
  *  - six reads, one per operator call over the batch, each result
  *    forced — MinHash and Jaccard dedup, eval-overlap decontamination
  *    against the fixed eval documents, quality and LM scoring, and
  *    IVF-PQ nearest neighbours;
  *  - a "write" operation: `StreamingCube.clusterIndexIngest` draining
  *    the batch's directory as a stream into a fresh cluster index.
  *
  * Operator parameters are the battery's (PipelineQueries), so each
  * result has a DuckDB oracle there.
  */
object Curate {

  final case class Batch(id: Int, docsDir: String, vecsPath: String,
      nDocs: Int)

  def batch(n: JsonNode): Batch = Batch(n.get("id").asInt,
    n.get("docs_dir").asText, n.get("vecs").asText, n.get("n_docs").asInt)

  /** The oracle each result is checked against. */
  val oracles: Seq[(String, String)] = Seq(
    "minhash" -> "q_dedup_minhash", "jaccard" -> "q_dedup_jaccard",
    "decontam" -> "q_decontaminate", "quality" -> "q_text_quality",
    "lm" -> "q_lm_score", "ann" -> "q_ann_ivfpq",
    "clusters" -> "q_dedup_clusters")

  /** The chain's operator calls, in order: (result name, family,
    * DataFrame). Parameters are the battery's.
    */
  def chain(docs: DataFrame, evalDocs: DataFrame, vecs: DataFrame)
      : Seq[(String, String, () => DataFrame)] = Seq(
    ("minhash", "ops.dedup", () => DedupOps.minhashLsh(docs, bands = 4,
      rows = 2, threshold = 0.5)),
    ("jaccard", "ops.dedup", () => DedupOps.jaccardPairs(docs, 0.5)),
    ("decontam", "ops.decontam", () => DedupOps.crossContamination(docs,
      evalDocs, bands = 4, rows = 2, threshold = 0.5)),
    ("quality", "ops.text", () => TextOps.quality(docs)),
    ("lm", "ops.text", () => TextOps.lmScore(docs)),
    ("ann", "ops.ann", () => SimilarityOps.ivfPqTopK(vecs,
      vecs.filter(col("vec_id") < 5), kCoarse = 8, cIters = 2, m = 4,
      kSub = 8, iters = 2, k = 10, nprobe = 2)))

  /** One operator call: build in its family's span, then plan and force. */
  def call(h: Harness, family: String, f: () => DataFrame) =
    h.tracer.span(family)(h.scoped(h.force(h.tracer.span("build")(f()))))

  /** Stream the batch's document directory into a fresh cluster index
    * and read the published labels back.
    */
  def ingest(h: Harness, spark: SparkSession, b: Batch, tag: String) =
    h.tracer.span("streaming.ingest") {
      val schema = spark.read.parquet(b.docsDir).schema
      val stream = spark.readStream.schema(schema).parquet(b.docsDir)
      val root = s"${h.workDir}/cluster-index/$tag"
      val labels = StreamingCube.clusterIndexIngest(stream,
        spark.read.parquet(b.docsDir), s"$root/index", s"$root/chk")
      Seq("clusters" -> h.scoped(h.force(labels)))
    }

  def run(h: Harness, out: ObjectNode): Unit = {
    val t = h.tracer
    val warm = batch(h.in.get("warm_batch"))
    val batches = h.in.get("batches").elements().asScala.map(batch).toSeq
    val evalMax = h.in.get("eval_max_id").asLong
    var spark: SparkSession = null
    var evalDocs: DataFrame = null
    def inputs(b: Batch) = chain(spark.read.parquet(b.docsDir), evalDocs,
      spark.read.parquet(b.vecsPath))
    h.setup {
      spark = t.span("setup.session")(h.session())
      evalDocs = t.span("setup.cube_bind")(
        graft.Tables.load(spark, h.dataDir, "documents")
          .filter(col("doc_id") < evalMax))
      // two passes: after one, the first timed batch still ran about
      // 20% slower than the next while the JIT kept compiling
      t.span("setup.warm")(for (pass <- 0 until 2) {
        inputs(warm).foreach { case (_, fam, f) => call(h, fam, f) }
        ingest(h, spark, warm, s"warm-$pass")
      })
    }
    h.calibrate(spark, out)
    val t0 = System.nanoTime()
    var i = 0
    val it = batches.iterator
    // whole batches only: every run sends each operator the same count
    while (it.hasNext && h.ms(t0) < h.seconds * 1000) {
      val b = it.next()
      inputs(b).foreach { case (name, fam, f) =>
        h.timed(i, "read", s"$name-batch-${b.id}")(
          Seq(name -> call(h, fam, f))).put("batch", b.id)
        i += 1
      }
      h.timed(i, "write", s"batch-${b.id}")(
        ingest(h, spark, b, s"batch-${b.id}"))
        .put("batch", b.id).put("n_docs", b.nDocs)
      i += 1
    }
    out.put("measured_s", h.ms(t0) / 1000)
    val o = out.putObject("oracles")
    oracles.foreach { case (k, q) => o.put(k, graft.SparkEntry.oracleSql(q)) }
  }
}
