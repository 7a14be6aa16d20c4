package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** [EXT] Multi-dimensional data LAYOUT: Z-order (Morton) clustering for
  * scan locality. The reference has no storage layer at all; at 100 TB the
  * dominant cost of most queries is the scan, and parquet's row-group
  * min/max statistics only prune what the physical row order makes
  * prunable. One-dimensional sorting ([[graft.sources.Sources
  * .writeRangePartitioned]]) gives perfect pruning on ONE column and none
  * on the rest; interleaving the bits of two dimension keys into a single
  * Morton value and range-writing by it gives every file a compact
  * rectangle in BOTH dimensions, so conjunctive range predicates
  * (`custkey BETWEEN … AND date BETWEEN …`) skip files/row-groups on
  * either or both — the Delta/Iceberg `OPTIMIZE ZORDER BY` technique,
  * built here from plain shift/mask built-ins so the whole z-value rides
  * whole-stage codegen and is replicable in ANSI SQL for the oracle.
  *
  * Scale shape: one bounds aggregate (scan → 1 row, no shuffle), one
  * range shuffle on the z-value (sampled boundaries, `repartitionByRange`),
  * and a per-partition sort that feeds parquet writers directly. Nothing
  * is driver-sized except the 4-long bounds row.
  */
object Layout {

  /** quantization spec for one dimension: values in [lo, hi] map to cells
    * [0, 2^bits) by an exact power-of-two shift that ALIGNS the span's
    * most-significant bit to bit `bits−1` — wide spans shift down, narrow
    * spans shift UP. The alignment matters: Morton interleaving only
    * alternates dimension splits when both dimensions' MSBs sit at the
    * same position; leave a narrow dimension un-upshifted and the wide
    * dimension's high bits dominate every z-range cut, collapsing the
    * layout to a 1-D sort on the wide dimension. `shift` is derived with
    * integer bit-length arithmetic (numberOfLeadingZeros), never floating
    * log2 — exact at powers of two where ceil(log2(·)) in doubles can
    * misround — so an oracle re-deriving cells from the same (lo, hi,
    * shift) literals is bit-identical. Out-of-range values (bounds taken
    * from a sample, or rows appended after layout) clamp to the edge
    * cells — layout quality degrades, correctness never. */
  final case class DimBounds(lo: Long, hi: Long, bits: Int) {
    require(hi >= lo, s"DimBounds: hi ($hi) < lo ($lo)")
    require(bits >= 1 && bits <= 31, s"DimBounds: bits must be in [1,31], got $bits")
    /** span bit width minus `bits`: positive → downshift, negative →
      * upshift (MSB alignment for narrow spans). */
    val shift: Int = {
      val span = hi - lo + 1
      val width = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, span - 1))
      width - bits
    }
  }

  /** cell index of `x` under `d`: clamp to [0, hi−lo], then shift to the
    * `bits`-wide MSB-aligned cell. Pure shift/compare built-ins —
    * codegen'd, SQL-replicable. */
  def quantize(x: Column, d: DimBounds): Column = {
    val clamped =
      greatest(lit(0L), least(lit(d.hi - d.lo), x.cast(LongType) - lit(d.lo)))
    if (d.shift >= 0) shiftright(clamped, d.shift)
    else shiftleft(clamped, -d.shift)
  }

  /** bit-interleave two already-quantized cell indices in [0, 2^bits) into
    * one Morton value: qa's bit i lands at position 2i+1, qb's at 2i, so
    * consecutive z-values alternate dimension splits. Unrolled
    * shift/mask/or chain — a single codegen'd projection. */
  def zorder2(qa: Column, qb: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"zorder2: bits must be in [1,31], got $bits")
    (0 until bits).map { i =>
      shiftleft(shiftright(qa.cast(LongType), i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(
          shiftleft(shiftright(qb.cast(LongType), i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)
  }

  /** the composed z-value of raw dimension columns under their bounds. */
  def zValue(a: Column, b: Column, da: DimBounds, db: DimBounds): Column = {
    require(da.bits == db.bits,
      s"zValue: both dims must share bits (got ${da.bits} and ${db.bits})")
    zorder2(quantize(a, da), quantize(b, db), da.bits)
  }

  /** both dimensions' bounds in ONE scan (a 4-value min/max aggregate —
    * the only driver materialization in the pipeline). */
  def bounds2(df: DataFrame, a: Column, b: Column,
              bits: Int): (DimBounds, DimBounds) = {
    val r = df.agg(min(a.cast(LongType)), max(a.cast(LongType)),
      min(b.cast(LongType)), max(b.cast(LongType))).head()
    (DimBounds(r.getLong(0), r.getLong(1), bits),
      DimBounds(r.getLong(2), r.getLong(3), bits))
  }

  /** write `df` as parquet physically clustered by the Z-order of
    * (`a`, `b`): bounds scan → z-value projection → range shuffle on the
    * z-value (sampled boundaries, so files get ~equal row counts even on
    * skewed z-distributions) → within-partition sort → write. Each output
    * file covers a compact z-range = a compact rectangle in (a, b), which
    * is what parquet min/max pruning needs to skip on either dimension. */
  def writeZOrdered(df: DataFrame, path: String, a: Column, b: Column,
                    bits: Int = 16, numFiles: Int = 32): Unit = {
    require(numFiles >= 1, s"writeZOrdered: numFiles must be >= 1, got $numFiles")
    val (da, db) = bounds2(df, a, b, bits)
    df.withColumn("__z", zValue(a, b, da, db))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** maintenance-window re-cluster of an APPENDED z-ordered directory (the
    * `OPTIMIZE ZORDER BY` shape): ingest appends land as unordered files
    * that erode the rectangle property; this rewrites the whole directory
    * clustered, with fresh bounds (appends may have widened the domain).
    *
    * Spark cannot safely overwrite its own lazy input, so the rewrite goes
    * to a sibling temp directory and is swapped in with two Hadoop
    * FileSystem renames (metadata-only on HDFS-like stores; works on any
    * `FileSystem` the path's scheme resolves, not just the local disk).
    * The new data is FULLY committed before the old directory is touched,
    * so no committed row is ever lost — but the swap itself is two renames,
    * not one atomic operation: a crash BETWEEN them leaves no directory at
    * `path`, with the data intact in `path`.zcompact_old. Entry both here
    * and in [[recoverZCompact]] restores that state (this method begins by
    * recovering any interrupted predecessor), so the caller contract is:
    * run compaction — and reads of `path` — inside the same maintenance
    * window, and call [[recoverZCompact]] (or simply compact again) on
    * startup after a crash. Same cost law as [[writeZOrdered]]: one bounds
    * scan + one range shuffle over the data being compacted. */
  def compactZOrdered(spark: org.apache.spark.sql.SparkSession, path: String,
                      a: Column, b: Column, bits: Int = 16,
                      numFiles: Int = 32): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(path + ".zcompact_tmp")
    val bak = new org.apache.hadoop.fs.Path(path + ".zcompact_old")
    recoverZCompact(spark, path) // an interrupted predecessor's swap
    fs.delete(tmp, true) // a predecessor's uncommitted rewrite is garbage
    writeZOrdered(graft.sources.Sources.readParquet(spark, path),
      tmp.toString, a, b, bits, numFiles)
    fs.delete(bak, true)
    if (!fs.rename(p, bak))
      sys.error(s"compactZOrdered: rename $p -> $bak failed")
    if (!fs.rename(tmp, p)) {
      fs.rename(bak, p) // put the old layout back before failing loudly
      sys.error(s"compactZOrdered: rename $tmp -> $p failed (old layout restored)")
    }
    fs.delete(bak, true)
  }

  /** recovery for a [[compactZOrdered]] crash between its two renames: if
    * nothing sits at `path` but the `.zcompact_old` backup exists, restore
    * it. Idempotent; returns true iff a restore happened. Called
    * automatically at the start of every compaction — call it directly on
    * startup when readers may touch `path` before the next maintenance
    * window. */
  def recoverZCompact(spark: org.apache.spark.sql.SparkSession,
                      path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val bak = new org.apache.hadoop.fs.Path(path + ".zcompact_old")
    if (!fs.exists(p) && fs.exists(bak)) fs.rename(bak, p) else false
  }
}
