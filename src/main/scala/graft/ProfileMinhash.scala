package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sources.Sources

/** One-off stage breakdown for the MinHash dedup pipeline. */
object ProfileMinhash {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = Sources.readParquet(spark, s"$sfDir/documents.parquet")
    Sources.readParquet(spark, s"$sfDir/region.parquet").count() // warm session

    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[mh] $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.2fs"); r
    }

    t("shingle explode count") {
      docs.select(explode(operators.Dedup.shingles(col("text"), 3))).count()
    }
    val sigs = t("minhashSigs materialize") {
      val s0 = operators.Dedup.minhashSigs(docs, "doc_id", "text").cache()
      s0.count(); s0
    }
    val banded = t("lshBands") {
      val b = operators.Dedup.lshBands(sigs, "doc_id", "sig", 16)
      b.count(); b
    }
    t("band self-join + distinct pairs") {
      banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.band_hash") === col("r.band_hash") &&
          col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id"), col("r.doc_id")).distinct().count()
    }
    t("full minhashCandidates") {
      operators.Dedup.minhashCandidates(docs, "doc_id", "text").count()
    }
    t("full minhashDedup") {
      operators.Dedup.minhashDedup(docs, "doc_id", "text", 0.5).count()
    }
    spark.stop()
  }
}
