package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column/row selectors for the reference's 2-D slice surface.
  *
  * The reference's slice selectors (via cl-slice; pinned behaviors surveyed in
  * SURVEY.md §2.4 from cl-data-frame-tests.lisp:51-70): `t` = all, a single
  * integer (negative counts from the end), a vector of keys or indices, a
  * bit-vector mask over rows, and a symbol key. `Pred` is the graft-native
  * distributed form of a mask — a Catalyst boolean expression — which is the
  * scale path (a local `Mask` materializes one boolean per row on the driver
  * and only exists for reference-parity tests).
  */
sealed trait Sel
object Sel {
  case object All extends Sel
  final case class Name(key: String) extends Sel
  final case class Names(keys: Seq[String]) extends Sel
  final case class Index(i: Int) extends Sel
  final case class Indices(is: Seq[Int]) extends Sel
  final case class Range(from: Int, until: Int) extends Sel
  final case class Mask(bits: Seq[Boolean]) extends Sel
  final case class Pred(cond: Column) extends Sel
}

/** Shape-polymorphic slice result (reference drops singleton dimensions:
  * cl-data-frame.lisp:486-500; SURVEY.md §7.4.2).
  */
sealed trait SliceResult
object SliceResult {
  final case class Scalar(value: Any) extends SliceResult
  final case class Col(values: Vector[Any]) extends SliceResult
  final case class Record(dv: DV) extends SliceResult
  final case class Frame(df: DF) extends SliceResult
}

/** One row keyed by column name — the reference's `data-vector`
  * (cl-data-frame.lisp:408-434). Purely local (a record is driver-sized by
  * definition); ordered keys, singleton slice drops to a scalar.
  */
final case class DV(keys: Vector[String], values: Vector[Any]) {
  require(keys.length == values.length, "keys/values arity mismatch")
  private lazy val index: Map[String, Int] = keys.zipWithIndex.toMap

  def ncol: Int = keys.length
  def apply(key: String): Any =
    index.get(key) match {
      case Some(i) => values(i)
      case None    => throw new KeyNotFoundException(key, keys)
    }
  def asPlist: Seq[(String, Any)] = keys.zip(values)
  def asMap: Map[String, Any] = index.map { case (k, i) => k -> values(i) }

  /** Slice entries by key subset / index / single key (→ scalar). */
  def slice(sel: Sel): SliceResult = sel match {
    case Sel.All        => SliceResult.Record(this)
    case Sel.Name(k)    => SliceResult.Scalar(apply(k))
    case Sel.Index(i)   => SliceResult.Scalar(values(DF.resolveIndex(i, ncol)))
    case Sel.Names(ks)  => SliceResult.Record(DV(ks.toVector, ks.toVector.map(apply)))
    case Sel.Indices(is) =>
      val ri = is.map(DF.resolveIndex(_, ncol))
      SliceResult.Record(DV(ri.toVector.map(keys), ri.toVector.map(values)))
    case Sel.Mask(bits) =>
      // same equal-length contract as the frame's row-mask path (DF.filterRows)
      // and the reference's ctor assert: a short/long mask is a caller bug
      if (bits.length != ncol)
        throw new ColumnLengthException(ncol, bits.length)
      val kept = keys.indices.filter(i => bits(i))
      SliceResult.Record(DV(kept.toVector.map(keys), kept.toVector.map(values)))
    case Sel.Range(a, b) =>
      SliceResult.Record(DV(keys.slice(a, b), values.slice(a, b)))
    case _: Sel.Pred =>
      throw new IllegalArgumentException("Pred selector is row-axis only")
  }

  /** map a function over every entry, keeping keys (map-columns on a dv,
    * cl-data-frame.lisp:363-365 via test cl-data-frame-tests.lisp:33). */
  def mapValues(f: Any => Any): DV = DV(keys, values.map(f))

  /** reference print-object on data-vector (cl-data-frame.lisp:416-425):
    * `#<DATA-VECTOR (n) key=value ...>` — part of the tested surface
    * (cl-data-frame-tests.lisp:92-95). */
  def render: String =
    s"#<DATA-VECTOR ($ncol) ${keys.zip(values).map { case (k, v) => s"$k=$v" }.mkString(" ")}>"
  override def toString: String = render
}

/** Immutable data-frame with the reference's semantic contract — ordered named
  * columns of equal length, eager schema errors, the slice / mask / map /
  * count / add / replace surface (SURVEY.md §2, §7.1) — compiled to plain
  * Catalyst plans on an `org.apache.spark.sql.DataFrame`.
  *
  * Row order is data: a hidden `__row_id` column (dense, 0-based) makes the
  * reference's positional semantics (first-to-last traversal, negative
  * indices) reproducible on Spark's unordered relations (SURVEY.md §7.4.1).
  *
  * The id is LAZY: a frame adopted from a plain Spark plan carries NO id
  * column (`Ids.None`) until a positional op first needs one, so
  * filter/project/aggregate paths stay pure Catalyst plans — parquet
  * predicate pushdown, column pruning, and whole-stage codegen all survive
  * the wrapper (an eager zipWithIndex would pin every query to an opaque
  * RDD scan). Densification itself is the distributed zipWithIndex shape —
  * never a single-partition window.
  */
final class DF private (private[graft] val inner: DataFrame,
                        private val ids: DF.Ids) {
  import DF.{Ids, ROW_ID}

  /** this frame with contiguous 0-based row ids; identity when already dense.
    * Memoized so repeated positional ops share one densify plan. */
  private lazy val densified: DF = ids match {
    case Ids.Dense  => this
    case Ids.Sparse => new DF(DF.reindex(inner), Ids.Dense)
    case Ids.None   => new DF(DF.attachId(inner), Ids.Dense)
  }

  /** hidden-id columns to carry through projections (empty when id-less). */
  private def idCols: Seq[Column] =
    if (ids == Ids.None) Nil else Seq(inner.col(ROW_ID))

  /** rows in reference order, for driver-materializing paths. */
  private def ordered: DataFrame = {
    val d = densified.inner
    d.orderBy(d.col(ROW_ID))
  }

  /** underlying Spark DataFrame without the hidden row id. */
  def toSpark: DataFrame = inner.drop(ROW_ID)
  def spark: SparkSession = inner.sparkSession

  // ---- schema / key layer (ordered-keys, SURVEY §2.1) ----
  def keys: Vector[String] = inner.columns.filterNot(_ == ROW_ID).toVector
  def ncol: Int = keys.length
  /** the ordered-keys print-object render (cl-data-frame.lisp:213-215):
    * `#<ORDERED-KEYS key, key, ...>` — keys comma-joined in order inside
    * the unreadable-object wrapper, completing the §2.7 render family
    * (data-vector / vector-summary / frame header). */
  def renderOrderedKeys: String = s"#<ORDERED-KEYS ${keys.mkString(", ")}>"
  /** memoized: DF is immutable, so the row count of the underlying plan never
    * changes; callers (addColumn/replaceColumn/slice) would otherwise trigger
    * a fresh full-scan count job each time. */
  lazy val nrow: Long = inner.count()
  def dims: (Long, Int) = (nrow, ncol)
  def keyIndex(key: String): Int = {
    val i = keys.indexOf(key)
    if (i < 0) throw new KeyNotFoundException(key, keys)
    i
  }
  private def checkAbsent(key: String): Unit =
    if (keys.contains(key)) throw new DuplicateKeyException(key, keys)

  // ---- projection / column access (SURVEY §2.3) ----
  /** single column as a Spark Column (expression-first path). */
  def col(key: String): Column = { keyIndex(key); inner.col(key) }

  /** refuse a whole-frame driver collect above [[DF.maxDriverRows]] — the
    * parity forms below exist for interactive frames; at corpus scale the
    * same semantics have a distributed spelling, named in the error. The
    * memoized [[nrow]] makes the check one count job at most per frame,
    * amortized across every guarded call. */
  private def guardDriverMaterialization(op: String, scaleAlt: String): Unit = {
    val cap = DF.maxDriverRows
    if (nrow > cap) throw new DriverMaterializationException(op, nrow, cap, scaleAlt)
  }

  /** single column materialized in row order (reference `column`,
    * cl-data-frame.lisp:345-349). Driver-local by design. */
  def column(key: String): Vector[Any] = {
    keyIndex(key)
    guardDriverMaterialization("column", "col(key) with Spark expressions")
    ordered.select(key).collect().map(_.get(0)).toVector
  }

  /** projection by selector (reference `columns`, cl-data-frame.lisp:357-361). */
  def columns(sel: Sel): DF = sel match {
    case Sel.All       => this
    case Sel.Name(k)   => select(Seq(k))
    case Sel.Names(ks) => select(ks)
    case Sel.Index(i)  => select(Seq(keys(DF.resolveIndex(i, ncol))))
    case Sel.Indices(is) => select(is.map(i => keys(DF.resolveIndex(i, ncol))))
    case Sel.Range(a, b) => select(keys.slice(a, b))
    case Sel.Mask(bits)  => select(keys.zip(bits).collect { case (k, true) => k })
    case _: Sel.Pred =>
      throw new IllegalArgumentException("Pred selector is row-axis only")
  }

  private def select(ks: Seq[String]): DF = {
    ks.foreach(keyIndex)
    new DF(inner.select(ks.map(inner.col) ++ idCols: _*), ids)
  }

  /** map a fn over every column, keeping keys (cl-data-frame.lisp:363-365). */
  def mapColumns(f: Column => Column): DF =
    new DF(inner.select(keys.map(k => f(inner.col(k)).as(k)) ++ idCols: _*), ids)

  /** append a column; duplicate-key checked eagerly (Spark's withColumn
    * silently replaces — cl-data-frame.lisp:367-373 errors instead). */
  def addColumn(key: String, c: Column): DF = {
    checkAbsent(key)
    new DF(inner.select(keys.map(inner.col) ++ Seq(c.as(key)) ++ idCols: _*), ids)
  }
  def addColumn(key: String, values: Seq[Any]): DF = {
    checkAbsent(key)
    val n = nrow
    if (values.length != n)
      throw new ColumnLengthException(n, values.length)
    new DF(DF.joinLocalColumn(densified.inner, key, values), Ids.Dense)
  }
  def addColumns(cols: (String, Column)*): DF =
    cols.foldLeft(this) { case (d, (k, c)) => d.addColumn(k, c) }

  /** append several driver-local value columns in ONE operation: a single
    * length check against the memoized [[nrow]] and a single broadcast
    * row-id join, where a per-column [[addColumn]] loop pays a count job
    * and a join PER COLUMN (the round-9 review's chatty-caller cost).
    * Named distinctly from [[addColumns]] because `(String, Seq[Any])`
    * and `(String, Column)` erase to the same tuple type. */
  def addValueColumns(cols: (String, Seq[Any])*): DF = {
    if (cols.isEmpty) return this
    val ks = cols.map(_._1)
    ks.foreach(checkAbsent)
    ks.diff(ks.distinct).headOption
      .foreach(k => throw new DuplicateKeyException(k, keys ++ ks))
    val n = nrow
    cols.foreach { case (_, v) =>
      if (v.length != n) throw new ColumnLengthException(n, v.length)
    }
    new DF(DF.joinLocalColumns(densified.inner, cols), Ids.Dense)
  }

  /** append every column of another frame (the reference's
    * ensure-arguments-alist accepts a whole data-frame as the thing to add,
    * cl-data-frame.lisp:290-313 case at :306-308). Rows align by position:
    * both sides densify and join on the row id — a co-partitioned equi-join,
    * no driver materialization. */
  def addColumns(other: DF): DF = {
    other.keys.foreach(checkAbsent)
    if (other.nrow != nrow) throw new ColumnLengthException(nrow, other.nrow)
    val l = densified.inner
    val r = other.densified.inner
    val joined = l.join(r, Seq(ROW_ID), "inner")
    new DF(joined.select(
      (keys ++ other.keys).map(joined.col) :+ joined.col(ROW_ID): _*), Ids.Dense)
  }

  /** copy with a key-renaming function — an ENGINE EXTENSION, not the
    * reference's `copy` (whose `:key` maps over the *columns*; that
    * reference-faithful form is [[copyColumns]]). This Spark-side `keyFn`
    * renames *keys*; the copy's schema diverges, data is shared
    * (immutably — the aliasing contract is pinned in the isolation
    * property tests). */
  def copy(keyFn: String => String = identity): DF = {
    val newKeys = keys.map(keyFn)
    newKeys.diff(newKeys.distinct).headOption
      .foreach(k => throw new DuplicateKeyException(k, newKeys))
    new DF(inner.select(
      keys.zip(newKeys).map { case (k, nk) => inner.col(k).as(nk) } ++ idCols: _*), ids)
  }

  /** the REFERENCE-faithful copy: `columnFn` maps over the COLUMN vectors
    * (cl-data-frame.lisp:337-343 — `copy`'s `:key` argument, default
    * identity = shallow copy), keys preserved; this is the overload a user
    * porting reference code reaches for. Under immutability the aliasing
    * depth the reference's `#'copy-array` controls is moot (any copy is
    * isolated — the property tests pin it), so identity yields an
    * independent DF over shared immutable data, and a non-identity
    * `columnFn` is the reference's map-over-columns semantics expressed as
    * Spark column expressions (each applied per key, names kept). */
  def copyColumns(columnFn: Column => Column = identity): DF =
    new DF(inner.select(
      keys.map(k => columnFn(inner.col(k)).as(k)) ++ idCols: _*), ids)

  /** replace an existing column with an expression or with fn(old) per row
    * (cl-data-frame.lisp:570-583). */
  def replaceColumn(key: String, c: Column): DF = {
    keyIndex(key)
    new DF(inner.select(
      keys.map(k => (if (k == key) c else inner.col(k)).as(k)) ++ idCols: _*), ids)
  }
  def replaceColumn(key: String, values: Seq[Any]): DF = {
    keyIndex(key)
    val n = nrow
    if (values.length != n) throw new ColumnLengthException(n, values.length)
    new DF(DF.joinLocalColumn(densified.inner.drop(key), key, values), Ids.Dense)
      .select(keys) // preserve original key order
  }
  def replaceColumnFn(key: String, f: Column => Column): DF =
    replaceColumn(key, f(col(key)))

  // ---- selection / filtering / slicing (SURVEY §2.4) ----
  /** distributed filter; the scale path for mask∘slice. Surviving rows keep
    * their relative order; ids re-densified lazily on positional access.
    * On an id-less frame the filter composes directly onto the scan (pushdown
    * intact); an existing id just goes sparse. */
  def filter(cond: Column): DF =
    new DF(inner.filter(cond), if (ids == Ids.None) Ids.None else Ids.Sparse)

  /** build a boolean mask from a row predicate over selected key columns
    * (mask-rows, cl-data-frame.lisp:554-559). Local parity form. */
  def maskRows(ks: Seq[String])(pred: Seq[Any] => Boolean): Vector[Boolean] = {
    ks.foreach(keyIndex)
    guardDriverMaterialization("maskRows", "filter(Sel.Pred) / filter(Column)")
    val o = ordered
    o.select(ks.map(o.col): _*)
      .collect().map(r => pred(ks.indices.map(r.get))).toVector
  }

  /** count rows satisfying a predicate (count-rows, cl-data-frame.lisp:561-568).
    * Expression form = distributed partial+final count. */
  def countRows(cond: Column): Long = inner.filter(cond).count()
  def countRows(ks: Seq[String])(pred: Seq[Any] => Boolean): Long =
    maskRows(ks)(pred).count(identity).toLong

  /** 2-D slice with dimension-dropping (cl-data-frame.lisp:486-500). */
  def slice(rows: Sel, cols: Sel = Sel.All): SliceResult = {
    val projected = columns(cols)
    val singleCol = cols match {
      case _: Sel.Name | _: Sel.Index => true
      case _ => false
    }
    rows match {
      case Sel.Index(i) =>
        val r = projected.rowAt(DF.resolveIndex(i, nrow.toInt))
        if (singleCol) SliceResult.Scalar(r.values.head) else SliceResult.Record(r)
      case sel =>
        val kept = projected.filterRows(sel)
        if (singleCol) SliceResult.Col(kept.column(kept.keys.head))
        else SliceResult.Frame(kept)
    }
  }

  /** typed entry points (SURVEY §7.4.2) */
  def sliceFrame(rows: Sel, cols: Sel = Sel.All): DF =
    slice(rows, cols) match {
      case SliceResult.Frame(d) => d
      case other => throw new IllegalArgumentException(s"slice produced $other, not a frame")
    }
  def sliceRow(i: Int): DV = rowAt(DF.resolveIndex(i, nrow.toInt))
  def sliceColumn(key: String): Vector[Any] = column(key)
  def sliceCell(i: Int, key: String): Any = sliceRow(i)(key)

  private def rowAt(i: Int): DV = {
    val dense = densified.inner
    val rs = dense.filter(dense.col(ROW_ID) === i.toLong).collect()
    if (rs.isEmpty) throw new IndexOutOfBoundsException(s"row $i of $nrow")
    val r = rs.head
    DV(keys, keys.map(k => r.get(r.fieldIndex(k))))
  }

  private def filterRows(sel: Sel): DF = sel match {
    case Sel.All        => this
    case Sel.Pred(c)    => this.filter(c)
    case Sel.Mask(bits) =>
      // the reference's mask path errors on length mismatch (like the ctor
      // equal-length assert); silently dropping extra bits / deselecting the
      // tail would hide caller bugs
      if (bits.length != nrow)
        throw new ColumnLengthException(nrow, bits.length)
      selectByIds(bits.zipWithIndex.collect { case (true, i) => i.toLong })
    case Sel.Indices(is) =>
      val n = nrow.toInt
      selectByIds(is.map(i => DF.resolveIndex(i, n).toLong))
    case Sel.Range(a, b) =>
      val dense = densified.inner
      new DF(dense.filter(dense.col(ROW_ID) >= a.toLong && dense.col(ROW_ID) < b.toLong),
        Ids.Sparse)
    case Sel.Index(i) =>
      filterRows(Sel.Indices(Seq(i)))
    case other =>
      throw new IllegalArgumentException(s"bad row selector $other")
  }

  /** positional row selection by dense id list, in SELECTOR order (the
    * reference's index-vector slice follows the selector: kept rows are
    * renumbered by their position in `ids`). Implemented as a broadcast join
    * against the id list — never an `isin` literal list (which would inline
    * every id into the plan) and never a single-partition stage. The id list
    * itself is driver-local by definition (it came from a local mask/index
    * selector — the parity path; `Sel.Pred` is the scale path). */
  private def selectByIds(ids: Seq[Long]): DF = {
    val dense = densified.inner
    val sess = inner.sparkSession
    val schema = StructType(Seq(
      StructField(ROW_ID, LongType, nullable = false),
      StructField("__new_id", LongType, nullable = false)))
    val lookup = sess.createDataFrame(
      sess.sparkContext.parallelize(
        ids.zipWithIndex.map { case (id, p) => Row(id, p.toLong) },
        math.max(1, ids.length / 500000 + 1)),
      schema)
    val joined = dense.join(broadcast(lookup), Seq(ROW_ID), "inner")
    new DF(joined.select(keys.map(joined.col) :+ joined.col("__new_id").as(ROW_ID): _*),
      Ids.Dense)
  }

  // ---- row-wise transformation (SURVEY §2.5) ----
  /** expression-first map-rows: one result column from selected inputs
    * (cl-data-frame.lisp:506-516). Catalyst-codegen'd. The expression is
    * applied against THIS frame's plan (where its column refs resolve), then
    * the projection is ordered. */
  def mapRowsCol(out: Column): Vector[Any] = {
    guardDriverMaterialization("mapRowsCol", "mapDF (expression form)")
    val projected = new DF(inner.select(Seq(out.as("__out")) ++ idCols: _*), ids)
    projected.ordered.select("__out").collect().map(_.get(0)).toVector
  }

  /** lambda parity form: fn over selected columns' values per row. */
  def mapRows(ks: Seq[String])(fn: Seq[Any] => Any): Vector[Any] = {
    ks.foreach(keyIndex)
    guardDriverMaterialization("mapRows", "mapDFRows (distributed lambda)")
    val o = ordered
    o.select(ks.map(o.col): _*)
      .collect().map(r => fn(ks.indices.map(r.get))).toVector
  }

  /** typed mapRows — the Scala form of the reference's `:element-type`
    * declaration (cl-data-frame.lisp:506-510): the type parameter IS the
    * declared element type of the result vector. */
  def mapRowsTyped[T](ks: Seq[String])(fn: Seq[Any] => T): Vector[T] =
    mapRows(ks)(in => fn(in)).map(_.asInstanceOf[T])

  /** map-df: row fn → fixed-arity sequence → new frame with result keys;
    * arity asserted per row (cl-data-frame.lisp:528-552). Expression form:
    * each output is a Column. */
  def mapDF(outs: (String, Column)*): DF = {
    val ks = outs.map(_._1)
    ks.diff(ks.distinct).headOption.foreach(k => throw new DuplicateKeyException(k, ks))
    new DF(inner.select(outs.map { case (k, c) => c.as(k) } ++ idCols: _*), ids)
  }
  /** lambda form of map-df, DISTRIBUTED: the fn runs inside executors via an
    * RDD map (never a driver collect), carrying the row id through so the
    * result keeps this frame's row order. `resultTypes` is the reference's
    * `:element-type` declaration (cl-data-frame.lisp:528-541): when given, the
    * output schema is exactly those types; when omitted, types are inferred
    * from one sampled output row (costs one extra small job). Either way fn
    * runs EXACTLY ONCE per row: the executor reuses the driver's sampled
    * output for the sampled row instead of re-invoking fn, so expensive or
    * side-effecting lambdas are safe. Arity is asserted per row like the
    * reference (cl-data-frame.lisp:548). */
  def mapDFRows(ks: Seq[String], resultKeys: Seq[String],
                resultTypes: Seq[DataType] = Nil)(fn: Seq[Any] => Seq[Any]): DF = {
    ks.foreach(keyIndex)
    val rks = resultKeys
    rks.diff(rks.distinct).headOption.foreach(k => throw new DuplicateKeyException(k, rks))
    if (resultTypes.nonEmpty && resultTypes.length != rks.length)
      throw new IllegalArgumentException(
        s"map-df: ${rks.length} result keys but ${resultTypes.length} result types")
    // project to the asked-for columns BEFORE any row-id densify: for an
    // id-less frame, densified would zipWithIndex the FULL row through the
    // RDD boundary (external-Row conversion of every column) and only then
    // project — on q_map_df that conversion of 16-column lineitem rows to
    // feed a 4-column lambda was most of the fan's 1.5 s single-task map
    // side (r22 probe). Attaching the id to the narrow projection yields
    // the SAME dense ids (a projection preserves row order). Frames that
    // already carry ids keep the old path (their ROW_ID must be reused).
    val narrow = ids match {
      case Ids.None => DF.attachId(inner.select(ks.map(inner.col): _*))
      case _ =>
        val d = densified.inner
        d.select((ks :+ ROW_ID).map(d.col): _*)
    }
    // fan out AFTER ids are assigned (row ids ride along and fn is
    // row-wise) — the lambda otherwise runs single-task on an unsplittable
    // single-file scan (r21 profile: 1.3 s of q_map_df's 2.3 s wall in one
    // task). The checkpointed result is put back into ONE partition in
    // ROW_ID order below, so downstream order-sensitive semantics (ties
    // under a non-unique ORDER BY follow input order) are bit-identical to
    // the unfanned form.
    val src = graft.operators.Fan.out(narrow)
    val nIn = ks.length
    // Type inference samples ONE row and invokes fn on the driver; that
    // (row id, output) is shipped in the closure and REUSED on the executor
    // so fn still runs exactly once per row (r2 advice: the old form
    // re-invoked fn for the sampled row — side effects fired twice).
    val sampled: Option[(Long, Seq[Any])] =
      if (resultTypes.nonEmpty) None
      else {
        val r = src.take(1).headOption.getOrElse(throw new EmptyFrameException)
        val out = fn((0 until nIn).map(r.get))
        if (out.length != rks.length)
          throw new IllegalArgumentException(
            s"map-df arity: expected ${rks.length} outputs, got ${out.length}")
        Some((r.getLong(nIn), out))
      }
    val applied = src.rdd.map { r =>
      val id = r.getLong(nIn)
      val out = sampled match {
        case Some((sid, sout)) if sid == id => sout
        case _ => fn((0 until nIn).map(r.get))
      }
      if (out.length != rks.length)
        throw new IllegalArgumentException(
          s"map-df arity: expected ${rks.length} outputs, got ${out.length}")
      Row.fromSeq(out :+ id)
    }
    val types =
      if (resultTypes.nonEmpty) resultTypes
      else sampled.get._2.map(v => DF.inferType(Seq(v)))
    val schema = StructType(
      rks.zip(types).map { case (k, t) => StructField(k, t, nullable = true) } :+
        StructField(ROW_ID, LongType, nullable = false))
    // localCheckpoint: evaluate the lambda EAGERLY AND ONCE (the reference's
    // map-df is eager). A lazy plan would re-run fn on every action — and
    // even a single sort re-runs it for range-partition sampling — which is
    // unsafe for side-effecting lambdas. Blocks are freed by the
    // ContextCleaner once the frame is unreferenced.
    val applied32 = spark.createDataFrame(applied, schema).localCheckpoint()
    // restore the pre-fan-out physical state exactly: coalesce(1) reads the
    // checkpointed partitions in index order (deterministic) and the local
    // sort puts rows back in ROW_ID = original input order — so the frame
    // is byte-for-byte the single ordered partition the unfanned plan
    // produced, at the cost of one cheap single-task merge of the already-
    // computed rows (the lambda itself ran wide at the checkpoint above)
    new DF(applied32.coalesce(1).sortWithinPartitions(ROW_ID)
      .localCheckpoint(), Ids.Dense)
  }

  /** side-effecting in-order traversal, first→last (cl-data-frame.lisp:518-526). */
  def doRows(ks: Seq[String])(fn: Seq[Any] => Unit): Unit = {
    ks.foreach(keyIndex)
    val o = ordered
    o.select(ks.map(o.col): _*)
      .toLocalIterator().forEachRemaining(r => fn(ks.indices.map(r.get)))
  }

  // ---- conversion (SURVEY §2.2) ----
  /** key→column alist (as-alist, cl-data-frame.lisp:333-335). Driver-local. */
  def asAlist: Seq[(String, Vector[Any])] = {
    guardDriverMaterialization("asAlist", "toSpark (keep the plan distributed)")
    val rows = ordered.collect()
    keys.map(k => k -> rows.map(r => r.get(r.fieldIndex(k))).toVector)
  }

  /** frame → dense matrix (aops:as-array, cl-data-frame.lisp:456-458). */
  def toMatrix: Array[Array[Any]] = {
    guardDriverMaterialization("toMatrix", "toSpark (keep the plan distributed)")
    ordered.collect()
      .map(r => keys.map(k => r.get(r.fieldIndex(k))).toArray)
  }

  def cache(): DF = { inner.cache(); this }
  override def toString: String = s"graft.DF(${keys.mkString(", ")})"
}

object DF {
  private[graft] val ROW_ID = "__row_id"

  /** row cap for the driver-materializing reference-parity forms
    * (`column`/`mapRows`/`maskRows`/`asAlist`/`toMatrix`): above this the
    * call throws [[DriverMaterializationException]] pointing to the
    * distributed equivalent. 1M rows ≈ tens of MB of driver heap — generous
    * for the interactive frames these forms exist for, far below where the
    * collect becomes an executor-to-driver OOM. Raise (or set to
    * Long.MaxValue) to opt into a larger materialization EXPLICITLY; the
    * distributed paths (`filter(Sel.Pred)`, `mapDF`, `mapDFRows`, sinks)
    * never consult it. */
  @volatile var maxDriverRows: Long = 1000000L

  /** id-column state of a frame: `None` = no hidden id exists yet (pure
    * Catalyst plan — pushdown/pruning/codegen intact); `Dense` = contiguous
    * 0-based ids; `Sparse` = ids present but gapped (after a filter). */
  private[graft] sealed trait Ids
  private[graft] object Ids {
    case object None extends Ids
    case object Dense extends Ids
    case object Sparse extends Ids
  }

  private[graft] def resolveIndex(i: Int, n: Int): Int = {
    val r = if (i < 0) n + i else i
    if (r < 0 || r >= n) throw new IndexOutOfBoundsException(s"index $i of $n")
    r
  }

  /** Build from local key→values pairs (the reference's alist/plist ctors,
    * cl-data-frame.lisp:315-322): equal-length + non-empty asserted eagerly.
    * Row order = input order (captured as __row_id).
    */
  def fromColumns(spark: SparkSession, pairs: Seq[(String, Seq[Any])]): DF = {
    if (pairs.isEmpty) throw new EmptyFrameException
    val ks = pairs.map(_._1)
    ks.diff(ks.distinct).headOption.foreach(k => throw new DuplicateKeyException(k, ks))
    val n = pairs.head._2.length
    pairs.foreach { case (_, v) =>
      if (v.length != n) throw new ColumnLengthException(n, v.length)
    }
    val normalized = pairs.map { case (k, v) => (k, normalizeColumn(v)) }
    val schema = StructType(
      normalized.map { case (k, (t, _)) => StructField(k, t, nullable = true) } :+
        StructField(ROW_ID, LongType, nullable = false))
    val rows = (0 until n).map { i =>
      Row.fromSeq(normalized.map(_._2._2(i)) :+ i.toLong)
    }
    new DF(spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, math.max(1, math.min(4, n))), schema),
      Ids.Dense)
  }

  def apply(spark: SparkSession, pairs: (String, Seq[Any])*): DF =
    fromColumns(spark, pairs)

  /** dense matrix → frame (matrix-df, cl-data-frame.lisp:478-482). */
  def fromMatrix(spark: SparkSession, ks: Seq[String], m: Seq[Seq[Any]]): DF =
    fromColumns(spark, ks.zipWithIndex.map { case (k, j) => k -> m.map(_(j)) })

  /** Adopt a Spark DataFrame.
    *
    * Without `orderBy`, NO id is attached: the wrapper is a zero-cost view
    * over the plan (parquet pushdown/pruning/codegen intact — check
    * `.explain`) and positional semantics bind lazily, to the plan's scan
    * order, only if a positional op is actually used.
    *
    * With `orderBy`, dense ids in that key order are materialized eagerly via
    * range-repartition + per-partition sort + zipWithIndex — globally ordered
    * with NO single-partition stage (a Window.orderBy row_number would funnel
    * every row through one partition — the round-1 scale-killer).
    */
  def fromSpark(df: DataFrame, orderBy: Seq[String] = Nil): DF = {
    val base = df.drop(ROW_ID)
    if (orderBy.isEmpty) new DF(base, Ids.None)
    else {
      val sorted = base.repartitionByRange(orderBy.map(base.col): _*)
        .sortWithinPartitions(orderBy.map(base.col): _*)
      new DF(attachId(sorted), Ids.Dense)
    }
  }

  def readParquet(spark: SparkSession, path: String, orderBy: Seq[String] = Nil): DF =
    fromSpark(graft.sources.Sources.readParquet(spark, path), orderBy)

  /** append a dense 0-based id in the plan's current row order —
    * the distributed zipWithIndex shape (per-partition counts + offsets),
    * never a single-partition stage. */
  private[graft] def attachId(df: DataFrame): DataFrame = {
    val schema = df.schema.add(StructField(ROW_ID, LongType, nullable = false))
    df.sparkSession.createDataFrame(
      df.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }, schema)
  }

  /** renumber existing (sparse) ids to contiguous 0-based, preserving order:
    * range-repartition on the id so partitions cover sorted ranges in
    * partition order, sort within partitions, then zipWithIndex. */
  private[graft] def reindex(df: DataFrame): DataFrame = {
    val sorted = df.repartitionByRange(col(ROW_ID)).sortWithinPartitions(col(ROW_ID))
    val idIdx = sorted.schema.fieldIndex(ROW_ID)
    df.sparkSession.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(r.toSeq.updated(idIdx, i))
      }, sorted.schema)
  }

  /** attach a driver-local column by position (parity ctor path only);
    * callers pass a frame whose ids are already dense. */
  private[graft] def joinLocalColumn(df: DataFrame, key: String, values: Seq[Any]): DataFrame =
    joinLocalColumns(df, Seq(key -> values))

  /** attach SEVERAL driver-local columns by position with ONE local frame
    * and ONE broadcast row-id join — the batch shape behind
    * [[DF.addValueColumns]] (a per-column loop pays a join per column). */
  private[graft] def joinLocalColumns(df: DataFrame,
                                      cols: Seq[(String, Seq[Any])]): DataFrame = {
    val spark = df.sparkSession
    val dense = df
    val normalized = cols.map { case (k, v) => (k, normalizeColumn(v)) }
    val schema = StructType(
      StructField(ROW_ID, LongType, nullable = false) +:
        normalized.map { case (k, (t, _)) => StructField(k, t, nullable = true) })
    val n = cols.head._2.length
    val local = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (0 until n).map(i =>
          Row.fromSeq(i.toLong +: normalized.map(_._2._2(i)))), 1),
      schema)
    val joined = dense.join(broadcast(local), Seq(ROW_ID), "inner")
    val outCols = dense.columns.filterNot(_ == ROW_ID).map(joined.col) ++
      normalized.map { case (k, _) => joined.col(k) } :+ joined.col(ROW_ID)
    joined.select(outCols.toIndexedSeq: _*)
  }

  /** Spark type of one value, None for types Spark has no column for. */
  private def sparkTypeOf(x: Any): Option[DataType] = x match {
    case _: Int                => Some(IntegerType)
    case _: Long               => Some(LongType)
    case _: Double             => Some(DoubleType)
    case _: Float              => Some(FloatType)
    case _: Boolean            => Some(BooleanType)
    case _: String             => Some(StringType)
    case _: java.sql.Timestamp => Some(TimestampType)
    case _: java.sql.Date      => Some(DateType)
    case _: Array[Byte]        => Some(BinaryType)
    // the reference's exact rationals (cl-data-frame.lisp RATIO elements;
    // floated only for PRINTING via ensure-not-ratio, :54-58) land here:
    // DecimalType keeps the exact value in the column, display converts
    case _: BigDecimal         => Some(DecimalType(38, 18))
    case _                     => None
  }

  private[graft] def inferType(v: Seq[Any]): DataType =
    v.collectFirst { case x if x != null => x }
      .flatMap(sparkTypeOf).getOrElse(StringType)

  /** position of a type in the numeric widening tower; None = non-numeric.
    * Int < Long < Float < Double < Decimal — the same order Lisp's numeric
    * contagion uses (RATIO → Decimal here, cl-data-frame.lisp:54-58). */
  private def numericRank(t: DataType): Option[Int] = t match {
    case IntegerType    => Some(0)
    case LongType       => Some(1)
    case FloatType      => Some(2)
    case DoubleType     => Some(3)
    case _: DecimalType => Some(4)
    case _              => None
  }

  /** the SURVEY §7.4.3 column-typing contract for the reference's
    * element-type-`t` ("anything") columns: infer the narrowest Spark type
    * when every non-null element shares it; widen mixed NUMERIC elements
    * within the numeric tower (Int < Long < Float < Double, DecimalType when
    * a BigDecimal is present) — the reference keeps such columns numeric and
    * only floats ratios for printing — and fall back to a StringType column
    * of printed representations only for genuinely non-numeric heterogeneity,
    * where Spark's uni-typed columns cannot round-trip values, only display
    * forms (the documented delta). Returns the type plus the values to store
    * (widened in the numeric case, stringified only in the fallback). */
  private[graft] def normalizeColumn(v: Seq[Any]): (DataType, Seq[Any]) = {
    val types = v.iterator.filter(_ != null).map(sparkTypeOf).distinct.toSeq
    types match {
      case Seq(Some(t)) => (t, v)
      case Seq()        => (StringType, v) // all-null column
      case _ if types.forall(_.exists(t => numericRank(t).isDefined)) =>
        val widest = types.flatten.map(t => numericRank(t).get).max
        def widen(f: Number => Any): Seq[Any] =
          v.map { case null => null; case n: Number => f(n); case x => x }
        widest match {
          case 1 => (LongType, widen(_.longValue))
          case 2 => (FloatType, widen(_.floatValue))
          case 3 => (DoubleType, widen(_.doubleValue))
          case _ => (DecimalType(38, 18), v.map {
            case null           => null
            case bd: BigDecimal => bd
            case n              => BigDecimal(n.toString)
          })
        }
      case _            =>
        (StringType, v.map(x => if (x == null) null else x.toString))
    }
  }
}

/** Mutable handle reproducing the reference's destructive (`!`) variants
  * (add-column!/add-columns!/replace-column!/(setf column) — SURVEY §1.5):
  * same immutable ops, swapping the internal frame reference in place, so the
  * `!`/non-`!` aliasing contract of the reference's test-add suite holds.
  */
final class DFHandle(private var current: DF) {
  def df: DF = current
  def addColumnBang(key: String, c: Column): DFHandle = { current = current.addColumn(key, c); this }
  def addColumnBang(key: String, values: Seq[Any]): DFHandle = { current = current.addColumn(key, values); this }
  def replaceColumnBang(key: String, c: Column): DFHandle = { current = current.replaceColumn(key, c); this }
  def replaceColumnBang(key: String, values: Seq[Any]): DFHandle = { current = current.replaceColumn(key, values); this }
  def setColumn(key: String, values: Seq[Any]): DFHandle = replaceColumnBang(key, values)
}
