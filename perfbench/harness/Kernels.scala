package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextAnalysis}

/** Rows per second of the native Catalyst kernels in `graft.functions`,
  * each reached through its public operator wrapper and run on its whole
  * output. Inputs are the fixture documents and embeddings replicated to
  * `rows` rows and checkpointed, so the timed call reads no parquet and
  * its fixed job cost is a small part of it. */
object Kernels {

  private def timeNoop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private val Timed = 3

  /** one untimed call to compile and warm the kernel, then the median of
    * `Timed` timed calls, as rows per second. */
  private def rate(rows: Long)(df: => DataFrame): Double = {
    timeNoop(df)
    val ts = Seq.fill(Timed)(timeNoop(df)).sorted
    rows / ts(Timed / 2)
  }

  /** `rows` text rows; the vector and string-pair kernels are 20-40x
    * cheaper per row and get that many times more. */
  def measure(spark: SparkSession, data: String, rows: Int): Map[String, Any] = {
    val docs0 = spark.read.parquet(s"$data/documents.parquet")
    val copies = math.max(1, rows / docs0.count().toInt)
    val docs = docs0.crossJoin(spark.range(copies).toDF("copy"))
      .select((col("doc_id") * copies + col("copy")).as("doc_id"),
        concat_ws(" ", col("text"), col("copy").cast("string")).as("text"))
      .repartition(spark.sparkContext.defaultParallelism).localCheckpoint()
    val nDocs = docs.count()
    val emb0 = spark.read.parquet(s"$data/embeddings.parquet")
    val embCopies = math.max(1, 20 * rows / emb0.count().toInt)
    val emb = emb0.crossJoin(spark.range(embCopies).toDF("copy"))
      .select((col("vec_id") * embCopies + col("copy")).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x + (col("copy") % 97).cast("float") * 1e-4f *
            sin(i.cast("float"))).as("embedding"))
      .repartition(spark.sparkContext.defaultParallelism).localCheckpoint()
    val nEmb = emb.count()
    val model = TextAnalysis.syntheticQualityModel()
    val ivf = Similarity.ivfFit(emb, "embedding", k = 16)
    val query = (0 until 64).map(i => math.sin(i + 1.0))
    val pairs = docs.crossJoin(spark.range(40).toDF("shift"))
      .select(substring(col("text"), (col("shift") % 8 + 1).cast("int"), lit(24)).as("a"),
        substring(col("text"), (col("shift") / 8 + 5).cast("int"), lit(24)).as("b"))
      .localCheckpoint()
    val nPairs = pairs.count()
    Map(
      "minhash_sigs" -> rate(nDocs)(Dedup.minhashSigs(docs, "doc_id", "text")),
      "simhash_sigs" -> rate(nDocs)(Dedup.simhashSigs(docs, "doc_id", "text")),
      "doc_stats" -> rate(nDocs)(TextAnalysis.docStats(docs, "doc_id", "text")),
      "quality_score" -> rate(nDocs)(
        TextAnalysis.hashedQualityScore(docs, "doc_id", "text", model)),
      "hashed_classify" -> rate(nDocs)(TextAnalysis.hashedClassify(docs,
        "doc_id", "text", Seq("a" -> model,
          "b" -> TextAnalysis.syntheticQualityModel(seed = 7L)))),
      "cosine_topk" -> rate(nEmb)(
        Similarity.bruteForceTopK(emb, "vec_id", "embedding", query, 10)),
      "ivf_assign" -> rate(nEmb)(Similarity.ivfAssign(emb, "embedding", ivf)),
      "jaro_winkler" -> rate(nPairs)(pairs.select(
        TextAnalysis.jaroWinkler(col("a"), col("b")).as("jw"))))
  }
}
