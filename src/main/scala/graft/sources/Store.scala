package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.functions.{col, lit}

/** The store format — the one place that knows how a persisted graft store
  * (dedup, ANN, LM, sketch and search stores, merge/SCD2 snapshots) lives
  * in the catalog. The format is four things:
  *
  *  - BUILD PARAMETERS: `graft.*` table properties ([[setParams]] at
  *    creation, [[checkParams]] at every probe/append, [[params]] to read).
  *    A probe with mismatched parameters would silently miss true
  *    duplicates (unequal signature widths, different planes, different
  *    encodings), so the check fails loudly instead.
  *  - THE BUCKET SPEC: chosen once, by the family's `write*` creator
  *    ([[Sources.writeBucketed]]). Every later [[append]] and [[replace]]
  *    reads the count and column back from the catalog's own spec, so an
  *    append can never disagree with the table (Spark rejects a bucketed
  *    append whose spec differs). A table created unbucketed (the frequency
  *    sketch store) stays plain parquet.
  *  - THE `__batch` TAG GATE: a table carrying a `__batch` column tags each
  *    appended row with its ingest batch, and [[append]] skips a tag ≥ 0 the
  *    table already holds — or one at or below `graft.compacted_watermark`,
  *    the highest tag a compaction folded away — so an at-least-once
  *    redelivery never double-counts.
  *  - THE STAGING SWAP: [[replace]] rewrites a table through a staging
  *    table (write, copy properties, DROP, RENAME); [[recover]] heals a
  *    crash between the DROP and the RENAME, and [[open]] runs it before
  *    every read that may follow a crash.
  *
  * Family code (Dedup, Similarity, TextAnalysis, Profiling, Search,
  * Sources, Streams) keeps its kernel and its fold and calls these
  * operations; nothing else reads properties or issues the swap. */
object Store {
  private val slog = org.slf4j.LoggerFactory.getLogger(getClass)

  /** the staging table a [[replace]] writes before its swap. */
  private[graft] def staging(table: String): String = s"${table}__staging"

  private def meta(spark: SparkSession, table: String): CatalogTable = {
    val st = spark.sessionState
    st.catalog.getTableMetadata(st.sqlParser.parseTableIdentifier(table))
  }

  private def graftProps(m: CatalogTable): Map[String, String] =
    m.properties.collect {
      case (k, v) if k.startsWith("graft.") => k.stripPrefix("graft.") -> v
    }

  /** the table's `graft.*` build parameters, keys without the prefix. */
  def params(spark: SparkSession, table: String): Map[String, String] =
    graftProps(meta(spark, table))

  /** persist build parameters as `graft.<key>` table properties. */
  def setParams(spark: SparkSession, table: String,
                params: Map[String, Any]): Unit =
    if (params.nonEmpty)
      spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES (" +
        params.toSeq.sortBy(_._1)
          .map { case (k, v) => s"'graft.$k' = '$v'" }.mkString(", ") + ")")

  /** validate probe parameters against the persisted build parameters.
    * Stores written before the properties existed are accepted (nothing to
    * check against) EXCEPT for keys listed in `required`: those mark an
    * on-disk FORMAT version (e.g. the PQ code stores' `enc=bias128` byte
    * encoding), where a store predating the property is physically
    * incompatible — probing it would decode valid-looking-but-wrong
    * values. A missing required key fails loudly with rebuild advice. */
  def checkParams(spark: SparkSession, table: String,
                  expected: Map[String, Any],
                  required: Set[String] = Set.empty): Unit = {
    val stored = params(spark, table)
    expected.foreach { case (k, v) =>
      if (required(k)) require(stored.contains(k),
        s"$table has no graft.$k property — it was written by a build whose " +
          s"on-disk format predates $k=$v; decoding it under the current " +
          "format would return silently wrong values. Rebuild the store " +
          "with its write* entry point")
      stored.get(k).foreach(s => require(s == v.toString,
        s"$table was built with $k=$s but the probe passed $k=$v — " +
          "mismatched parameters silently miss true duplicates (signatures " +
          "or band keys can never match); probe with the store's parameters"))
    }
  }

  /** write `df` into `table` at `m`'s bucket spec — bucketed exactly when
    * the catalog says the table is. */
  private def write(df: DataFrame, table: String, m: CatalogTable,
                    mode: SaveMode): Unit =
    m.bucketSpec match {
      case Some(b) =>
        Sources.writeBucketed(df, table, b.bucketColumnNames.head,
          b.numBuckets, mode)
      case None =>
        df.write.format("parquet").mode(mode).saveAsTable(table)
    }

  /** append `rows` to `table` at the table's own bucket spec, through the
    * one `__batch` gate. A table without a `__batch` column (legacy or
    * untagged stores) appends untagged, ungated. Otherwise every row is
    * tagged `batchTag`; a tag ≥ 0 is skipped when it is at or below the
    * compacted watermark (logged — see below) or when the table already
    * holds it, probed by one `limit(1)` scan whose `__batch` predicate
    * prunes on per-file column stats (an append writes constant-valued
    * files). Tag −1 appends without a probe. Returns whether it appended.
    *
    * Each append is its own job commit, so a multi-table append torn after
    * its first table recovers exactly on replay: the committed table skips
    * the tag, the missing one appends.
    *
    * Streaming batchIds restart at 0 on a fresh checkpoint, so after a
    * compaction a legitimately restarted ingest carrying NEW data is
    * indistinguishable from a replay; the warning is the operator's only
    * way to notice (the fix is a fresh store or tags from a store-side
    * monotone counter). */
  def append(table: String, rows: DataFrame, batchTag: Long = -1L): Boolean = {
    val spark = rows.sparkSession
    val m = meta(spark, table)
    val tagged = m.schema.fieldNames.contains("__batch")
    val watermark = graftProps(m).get("compacted_watermark")
      .map(_.toLong).getOrElse(Long.MinValue)
    val skip = tagged && batchTag >= 0 && {
      if (batchTag <= watermark) {
        slog.warn(s"$table: skipping append with batchTag=$batchTag at or " +
          s"below compacted watermark $watermark — if this ingest RESTARTED " +
          "from a fresh checkpoint (batchIds reset to 0) this is NEW data " +
          "being dropped as a replay; restart against a fresh store or " +
          "derive tags from a store-side monotone counter")
        true
      } else spark.table(table).filter(col("__batch") === batchTag)
        .limit(1).count() > 0
    }
    if (!skip)
      write(if (tagged) rows.withColumn("__batch", lit(batchTag)) else rows,
        table, m, SaveMode.Append)
    !skip
  }

  /** rewrite `table` as `staged` (typically a fold of [[open]]`(table)`):
    * write the staging table at the table's own bucket spec, copy every
    * `graft.*` property plus `extraProps` onto it, then DROP the base and
    * RENAME the staging table into place. `ALTER TABLE RENAME` keeps table
    * properties, so the properties ride the swap with the data: a crash at
    * any point leaves either the base intact or a complete, property-
    * carrying staging table that [[recover]] renames back. The DROP only
    * runs after the staging write committed, so `staged` may read the base.
    * The two catalog calls are not one atomic operation — a reader
    * planning in that window errors and retries; run replacements in the
    * store's maintenance window. */
  def replace(table: String, staged: DataFrame,
              extraProps: Map[String, Any] = Map.empty): Unit = {
    val spark = staged.sparkSession
    val m = meta(spark, table)
    val st = staging(table)
    spark.sql(s"DROP TABLE IF EXISTS $st")
    write(staged, st, m, SaveMode.Overwrite)
    setParams(spark, st, graftProps(m) ++ extraProps)
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"ALTER TABLE $st RENAME TO $table")
  }

  /** recovery for a crash between a [[replace]]'s DROP and RENAME: the base
    * table is gone but the fully-written, property-carrying staging table
    * survives — rename it back. The window is unambiguous: the DROP only
    * ever runs AFTER the staging write committed, so "base missing +
    * staging present" can only mean an interrupted swap, and "base present
    * + staging present" can only mean a crash BEFORE the drop (the staging
    * is then an uncommitted rewrite the next [[replace]] discards —
    * recovery leaves the base alone). Idempotent; returns true iff a
    * restore happened. */
  def recover(spark: SparkSession, table: String): Boolean = {
    val st = staging(table)
    val restore = !spark.catalog.tableExists(table) &&
      spark.catalog.tableExists(st)
    if (restore) spark.sql(s"ALTER TABLE $st RENAME TO $table")
    restore
  }

  /** read a store table THROUGH the swap crash-recovery check: a reader
    * calling `spark.table` raw after a crash between DROP and RENAME would
    * fail as if the store were lost. Cost when no crash happened: one
    * catalog existence probe. */
  def open(spark: SparkSession, table: String): DataFrame = {
    recover(spark, table)
    spark.table(table)
  }
}
