package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Profiling, Search, Similarity, TextAnalysis}
import graft.sources.{Sources, Store}

/** Crash and replay over every store kind: each [[Store.replace]] user
  * (the LM, sketch, bucketed and merge/SCD2 maintainers) and each tagged
  * [[Store.append]] user (LM, sketch, inverted-index, PQ and CDC-chunk
  * ingest). Every crash state is built by hand from catalog operations —
  * the way a killed process would leave it — on a "crash" store, next to a
  * "ref" store that runs the same steps uninterrupted. After recovery and
  * replay the crash store must hold the same rows and the same `graft.*`
  * properties as the reference.
  *
  * Crash states:
  *  1. staging written, base intact (killed before the DROP);
  *  2. base dropped, staging intact (killed between DROP and RENAME);
  *  3. an append torn after its first table (killed before the rest of a
  *     multi-table append, or before the caller's own commit marker);
  *  4. a tag replayed after a compaction folded its rows away. */
class StoreLifecycleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** one store kind: its tables (suffixes of the store name), how it is
    * seeded, its tagged append, its replace step (a compaction or a
    * merge, idempotent under replay the way its production caller runs
    * it), and a canonical view of a table's rows for comparison. */
  private case class Kind(name: String, suffixes: Seq[String],
                          seed: String => Unit,
                          append: Option[(String, Long) => Unit],
                          replace: String => Unit,
                          view: DataFrame => DataFrame = identity)

  private def docs(b: Long): DataFrame = (0 until 12).map { i =>
    (b * 100 + i, s"w${i % 5} w${(i + b) % 7} w${i % 3} the cat b$b t${i % 4}")
  }.toDF("doc_id", "text")

  private def toks(b: Long): DataFrame =
    (1 to 40).map(i => (s"g${i % 3}", s"b${b}v${i % 17}")).toDF("g", "v")

  private def vecs(b: Long): DataFrame = {
    val rnd = new scala.util.Random(b)
    (0 until 24).map(i => (b * 100 + i, Seq.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  private def blobs(b: Long): DataFrame = (0 until 4).map { i =>
    val rnd = new scala.util.Random(b * 10 + i % 2) // pairs share content
    (b * 100 + i, Array.fill(600)(rnd.nextInt(256).toByte))
  }.toDF("doc_id", "blob")

  private lazy val pqModel =
    Similarity.pqFit(vecs(0L), "embedding", m = 2, ksub = 4)

  private val snapshot = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
  private def delta = Seq((2L, 21L, "upsert"), (3L, 0L, "delete"),
    (5L, 50L, "upsert")).toDF("k", "v", "op")

  private val kinds = Seq(
    Kind("LM store", Seq("_pairs", "_ctx"),
      s => TextAnalysis.writeLmStore(docs(0L), "text", s, nBuckets = 2),
      Some((s, t) => TextAnalysis.appendLmCounts(spark, s, docs(t), "text", t)),
      s => TextAnalysis.compactLmStore(spark, s)),
    Kind("cardinality store", Seq(""),
      s => Profiling.writeCardinalityStore(toks(0L), "g", col("v"), s,
        lgK = 10, nBuckets = 2),
      Some((s, t) => Profiling.appendCardinalitySketches(spark, s, toks(t),
        "g", col("v"), lgK = 10, t)),
      s => Profiling.compactCardinalityStore(spark, s),
      // a sketch compares by what it serves, not by its serialized form
      _.select(col("__g"), hll_sketch_estimate(col("__sketch")).as("est"),
        col("__n"), col("__batch"))),
    Kind("frequency store", Seq(""),
      s => Profiling.writeFrequencyStore(toks(0L), col("v"), s, eps = 0.01),
      Some((s, t) => Profiling.appendFrequencySketch(spark, s, toks(t),
        col("v"), eps = 0.01, confidence = 0.99, seed = 42, t)),
      s => Profiling.compactFrequencyStore(spark, s)),
    Kind("inverted index", Seq("_postings", "_terms"),
      s => Search.writeInvertedIndex(docs(0L), "doc_id", "text", s,
        nBuckets = 2),
      Some((s, t) => Search.appendInvertedIndex(docs(t), "doc_id", "text",
        s, t)),
      s => Seq("_postings", "_terms")
        .foreach(x => Sources.compactBucketed(spark, s + x))),
    Kind("PQ store", Seq("_pq"),
      s => Similarity.writePqStore(vecs(0L), "vec_id", "embedding", pqModel,
        s, nBuckets = 2),
      Some((s, t) => Similarity.appendPqStore(vecs(t), "vec_id", "embedding",
        pqModel, s, t)),
      s => Sources.compactBucketed(spark, s + "_pq")),
    Kind("bucketed compaction (CDC chunk store)", Seq("_chunks"),
      s => Dedup.writeChunkStore(Dedup.cdcChunks(blobs(0L), "doc_id", "blob"),
        s, nBuckets = 2),
      Some((s, t) => Dedup.cdcDedupAgainst(blobs(t), "doc_id", "blob", s,
        batchId = t)),
      s => Sources.compactBucketed(spark, s + "_chunks")),
    Kind("merge store", Seq(""),
      s => {
        Sources.writeBucketed(snapshot.toDF("k", "v"), s, "k", 2)
        Store.setParams(spark, s, Map("kind" -> "snapshot"))
      },
      None,
      s => Sources.mergeIntoStore(spark, s, delta, "k")),
    Kind("scd2 store", Seq(""),
      s => {
        Sources.writeBucketed(
          Sources.scd2Init(snapshot.toDF("k", "v"), 0L), s, "k", 2)
        Store.setParams(spark, s, Map("kind" -> "scd2"))
      },
      None,
      // the streaming caller's replay rule: a version already in the
      // history has been applied
      s => {
        val applied = Store.open(spark, s)
          .filter(col("valid_from") === 1L || col("valid_to") === 1L)
          .take(1).nonEmpty
        if (!applied) Sources.scd2MergeIntoStore(spark, s, delta, "k", 1L)
      }))

  private def tables(k: Kind, store: String) = k.suffixes.map(store + _)

  private def drop(k: Kind, store: String): Unit =
    tables(k, store).flatMap(t => Seq(t, Store.staging(t)))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  /** canonical rows (binary columns as hex) plus `graft.*` properties. */
  private def tableState(k: Kind, t: String): (Seq[String], Map[String, String]) = {
    val v = k.view(spark.table(t))
    val hexed = v.select(v.schema.fields.toSeq.map(f =>
      if (f.dataType == BinaryType) hex(col(f.name)).as(f.name)
      else col(f.name)): _*)
    (hexed.collect().map(_.toString).sorted.toSeq, Store.params(spark, t))
  }

  private def state(k: Kind, store: String) =
    tables(k, store).map(tableState(k, _))

  /** write `src` as `dst` at `like`'s bucket spec, with `props`. */
  private def copyTable(src: DataFrame, like: String, dst: String,
                        props: Map[String, String]): Unit = {
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(like))
      .bucketSpec match {
      case Some(b) =>
        Sources.writeBucketed(src, dst, b.bucketColumnNames.head, b.numBuckets)
      case None =>
        src.write.format("parquet").mode("overwrite").saveAsTable(dst)
    }
    Store.setParams(spark, dst, props)
  }

  /** a ref and a crash store, both seeded and (for append kinds) grown by
    * one tagged batch. */
  private def withStores(k: Kind)(body: (String, String) => Unit): Unit = {
    val base = "graft_life_" + k.name.toLowerCase.replaceAll("[^a-z0-9]+", "_")
    val (ref, crash) = (base + "ref", base + "crash")
    Seq(ref, crash).foreach { s =>
      drop(k, s)
      k.seed(s)
      k.append.foreach(_(s, 1L))
    }
    try body(ref, crash)
    finally Seq(ref, crash).foreach(drop(k, _))
  }

  kinds.foreach { k =>
    test(s"${k.name}: crash after the staging write leaves the base authoritative; replay converges") {
      withStores(k) { (ref, crash) =>
        k.replace(ref)
        val t = tables(k, crash).head
        // an uncommitted rewrite: garbage rows, no properties
        copyTable(spark.table(t).limit(1), t, Store.staging(t), Map.empty)
        assert(!Store.recover(spark, t), "recovery must leave the base alone")
        k.replace(crash)
        assert(!spark.catalog.tableExists(Store.staging(t)),
          "the replay must discard the stale staging table")
        assert(state(k, crash) == state(k, ref))
      }
    }

    test(s"${k.name}: crash between DROP and RENAME restores data and properties; replay converges") {
      withStores(k) { (ref, crash) =>
        k.replace(ref)
        val (t, r) = (tables(k, crash).head, tables(k, ref).head)
        // the crashed replace had written exactly what the reference's
        // replace committed, properties included, then dropped its base
        copyTable(spark.table(r), r, Store.staging(t), Store.params(spark, r))
        spark.sql(s"DROP TABLE $t")
        assert(Store.recover(spark, t))
        assert(tableState(k, t) == tableState(k, r),
          "recovery must restore the data AND the properties")
        k.replace(crash)
        assert(state(k, crash) == state(k, ref))
      }
    }

    k.append.foreach { append =>
      test(s"${k.name}: append torn after its first table; replay appends only what is missing") {
        withStores(k) { (ref, crash) =>
          append(ref, 2L)
          val (t, r) = (tables(k, crash).head, tables(k, ref).head)
          // the first table's batch-2 commit, as the torn append left it
          Store.append(t,
            spark.table(r).filter(col("__batch") === 2L).drop("__batch"), 2L)
          append(crash, 2L)
          assert(state(k, crash) == state(k, ref))
        }
      }

      test(s"${k.name}: a tag replayed after a compaction is a no-op; a new tag still appends") {
        withStores(k) { (ref, crash) =>
          Seq(ref, crash).foreach(k.replace)
          append(crash, 1L)
          assert(state(k, crash) == state(k, ref), "replayed tag re-applied")
          Seq(ref, crash).foreach(append(_, 2L))
          assert(state(k, crash) == state(k, ref))
          assert(spark.table(tables(k, crash).head)
            .filter(col("__batch") === 2L).count() > 0, "new tag skipped")
        }
      }
    }
  }
}
