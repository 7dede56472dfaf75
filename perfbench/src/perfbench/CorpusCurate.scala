package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.perfbench.Probe
import org.apache.spark.sql.types._

import graft.functions.TextAnalysis
import graft.operators.{Dedup, Similarity, TextPipeline}
import graft.plans.HashExprs
import graft.sources.{Ingest, Sinks}

/** corpus_curate: the set-up curates a raw multilingual corpus
  * (quality, language and PII, transform, near-duplicate removal,
  * minhash index, a top-k similarity probe batch); the timed phase
  * checks seeded incremental batches against the index and appends
  * them, one batch per operation.
  */
final class CorpusCurate(spark: SparkSession, inputs: String, work: String) extends Workload {
  private val DocSchema = new StructType().add("doc_id", LongType).add("lang", StringType)
    .add("source", StringType).add("text", StringType)
  private val EmbSchema = new StructType().add("vec_id", LongType).add("label", IntegerType)
    .add("embedding", ArrayType(DoubleType))
  private val batchDirs = new java.io.File(inputs).listFiles().map(_.getName)
    .filter(_.startsWith("batch")).sortBy(_.stripPrefix("batch").toInt).map(b => s"$inputs/$b").toSeq
  private val Index = "minhash_idx"
  private val TopKQueryMod = 20L
  private val TopKQueryCap = 2000L
  private val TopK = 5

  private var out = ""
  private def docsDir = s"$out/docs"
  private var nextBatch = 0
  private var batchesSinceSetup = Seq.empty[Int]
  private var batchPairs = Seq.empty[Seq[Any]]
  /** Outputs of the latest curate pass, handed to the checker. */
  private var last: Map[String, Any] = Map.empty

  private def collectPairs(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(r => Seq(r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  /** Raw corpus → curated, deduplicated and indexed output. */
  def setup(rep: Int, slice: Boolean): Unit = {
    if (out.nonEmpty) Main.rmTree(new java.io.File(out))
    out = s"$work/curate-$rep"
    val part = if (slice) "/part-0000" else ""
    val ing = Probe.span("sources.Ingest.jsonWithQuarantine") {
      Ingest.jsonWithQuarantine(spark, s"$inputs/corpus$part", DocSchema)
    }
    val good = ing.good
    val quarantined = ing.quarantined.count()
    val pii = good.select(
      sum(regexp_count(col("text"), lit(TextAnalysis.PhonePattern))).as("phones"),
      sum(regexp_count(col("text"), lit(TextAnalysis.EmailPattern))).as("emails")).head()
    val kept = Probe.span("functions.TextAnalysis.qualityFilter") {
      TextAnalysis.qualityFilter(good).select("doc_id")
    }
    val lang = Probe.span("functions.TextAnalysis.langId") {
      TextAnalysis.langId(good).select("doc_id", "lang_pred")
    }
    val transformed = Probe.span("operators.TextPipeline.transform") { TextPipeline.transform(good) }
    val pairs = collectPairs(Probe.span("operators.Dedup.minhashLsh") { Dedup.minhashLsh(good) })
    val best = Probe.span("operators.Dedup.keepBest") { Dedup.keepBest(good) }
      .select(col("keep_doc_id").as("doc_id"))
    val curated = transformed.join(kept, "doc_id").join(best, "doc_id").join(lang, "doc_id")
    Probe.span("sources.Sinks.writePartitioned") {
      Sinks.writePartitioned(curated, s"$out/curated", Seq("lang"))
    }
    Probe.span("sources.Sinks.writePartitioned") {
      Sinks.writePartitioned(good.withColumn("batch", lit(-1)), docsDir, Seq("batch"))
    }
    Probe.span("operators.Dedup.writeMinhashIndex") { Dedup.writeMinhashIndex(good, Index) }
    val emb = spark.read.schema(EmbSchema).json(s"$inputs/embeddings$part")
    val topk = Probe.span("operators.Similarity.batchTopK") {
      Similarity.batchTopK(emb, TopKQueryMod, TopK, TopKQueryCap)
    }.collect().map(r => Seq(r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
      r.getAs[Double]("cos_sim"))).toSeq
    ing.unpersist()
    batchesSinceSetup = Nil
    batchPairs = Nil
    last = Map("quarantined" -> quarantined, "phones" -> pii.getLong(0),
      "emails" -> pii.getLong(1), "pairs" -> pairs, "curated" -> s"$out/curated", "topk" -> topk)
  }

  /** One incremental batch: near-dup check against the index, then the
    * append to the index and to the corpus table the check reads.
    */
  private def ingestBatch(b: Int): Seq[Seq[Any]] = {
    val ing = Probe.span("sources.Ingest.jsonWithQuarantine") {
      Ingest.jsonWithQuarantine(spark, batchDirs(b), DocSchema)
    }
    val batch = ing.good
    val corpus = Probe.span("sources.Sinks.readPartitioned") { Sinks.readPartitioned(spark, docsDir) }
    val found = collectPairs(Probe.span("operators.Dedup.minhashLshAgainstIndex") {
      Dedup.minhashLshAgainstIndex(spark, Index, batch, corpus)
    })
    Probe.span("operators.Dedup.appendToMinhashIndex") { Dedup.appendToMinhashIndex(batch, Index) }
    Probe.span("sources.Sinks.upsertPartitions") {
      Sinks.upsertPartitions(batch.withColumn("batch", lit(b)), docsDir, Seq("batch"))
    }
    ing.unpersist()
    found.map(_ :+ b)
  }

  /** Incremental batches, checked and appended like the timed ones; the
    * next set-up drops them from the index and from the checked pairs.
    */
  def warmUp(deadlineNs: Long): Unit = timed(deadlineNs, shapes = false)

  def timed(deadlineNs: Long, shapes: Boolean): Phase = {
    val ops = scala.collection.mutable.Buffer.empty[Op]
    val t0 = System.nanoTime()
    var first = true
    while ((first || System.nanoTime() < deadlineNs) && nextBatch < batchDirs.size) {
      val b = nextBatch
      nextBatch += 1
      var found: Seq[Seq[Any]] = Nil
      val op = Probe.shaped("ops", shapes && first) {
        Probe.span("bench.batch", b.toString) {
          Main.timedOp("ingest_batch") { found = ingestBatch(b) }
        }
      }
      ops += op.copy(rows = found.size.toLong)
      batchPairs ++= found
      batchesSinceSetup :+= b
      first = false
    }
    Phase(ops.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  def layerProbe(): Map[String, Any] = {
    val docs = spark.read.schema(DocSchema).json(s"$inputs/corpus")
      .filter(col("doc_id").isNotNull && col("text").isNotNull).cache()
    val n = docs.count()
    val emb = spark.read.schema(EmbSchema).json(s"$inputs/embeddings").cache()
    val nEmb = emb.count()
    val text = Probes.execAll(n, Seq(
      "functions.TextAnalysis.qualityFilter" -> (() => TextAnalysis.qualityFilter(docs)),
      "functions.TextAnalysis.langId" -> (() => TextAnalysis.langId(docs)),
      "operators.TextPipeline.transform" -> (() => TextPipeline.transform(docs)),
      "operators.Dedup.minhashLsh" -> (() => Dedup.minhashLsh(docs)),
      "operators.Dedup.keepBest" -> (() => Dedup.keepBest(docs))))
    val vec = Probes.execAll(nEmb, Seq("operators.Similarity.batchTopK" -> (() =>
      Similarity.batchTopK(emb, TopKQueryMod, TopK, TopKQueryCap))))
    val minhash = Probes.kernel("plans.HashExprs.minhashText", n,
      docs.select(HashExprs.minhashText(TextAnalysis.normalizeWs(col("text")), 5, 64, word = false)))
    val q = emb.filter(col("vec_id") === 1L).select(col("embedding").as("q"))
    val cosine = Probes.kernel("plans.HashExprs.cosineSim", nEmb,
      emb.crossJoin(broadcast(q)).select(HashExprs.cosineSim(col("embedding"), col("q"))))
    docs.unpersist(); emb.unpersist()
    Map("exec" -> (text ++ vec), "kernels" -> Map("minhash" -> minhash, "cosine" -> cosine))
  }

  def checks(): Map[String, Any] = {
    val idxDocs = spark.table(Index).select("doc_id").distinct().count()
    last ++ Map("index_docs" -> idxDocs, "batch_pairs" -> batchPairs,
      "topk_query" -> Map("mod" -> TopKQueryMod, "cap" -> TopKQueryCap, "k" -> TopK),
      "batches_since_setup" -> batchesSinceSetup,
      "stored" -> MarketPipeline.stored(out, Seq("curated", "docs")))
  }
}
