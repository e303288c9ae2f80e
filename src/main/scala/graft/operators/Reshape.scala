package graft.operators

import graft.functions.Num
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.StringType

/** Per-group positional row selection (reference `core.py:1428-1518`).
  * The reference selects by physical row position; here position is
  * defined by explicit `ord` columns (SURVEY §7.4) — pass enough
  * columns to make the ordering total or ties make selection
  * nondeterministic.
  */
final class SelectionOps(val gb: GroupBy) extends AnyVal {

  private def rn(ord: Seq[Column], descending: Boolean): Column = {
    val cols = if (descending) ord.map(_.desc) else ord
    row_number().over(Window.partitionBy(gb.keyCols: _*).orderBy(cols: _*))
  }

  /** Rows with global 1-based within-group position <= `maxPos` (in
    * `ord` order, `descending` flips it) WITHOUT a whole-key sort —
    * the §2.2 arm of the hot-key `sliceWidth` lever, the cumulative
    * prefix-carry pattern (Rolling.scala cumSliced) one op over:
    *
    *   1. slice = ord div sliceWidth; per-(key, slice) row COUNTS via
    *      hash aggregation — no sort, fully parallel;
    *   2. prefix offsets over each key's slice summaries — a window
    *      over summary rows, ~rows/sliceWidth of them per key;
    *   3. slices whose offset already reaches `maxPos` are PRUNED
    *      before any within-slice sort exists: head(2) over an
    *      8.8M-row hot key sorts ONE slice, not the key;
    *   4. surviving rows get position = slice offset + within-slice
    *      row_number via a null-safe co-partitioned join on
    *      (key, slice) — the window that computes the row_number
    *      reuses the join's (key, slice) partitioning.
    *
    * Same ord contract as the rolling/cumulative lever: integral,
    * per-key-unique (position must be well-defined across slices),
    * non-null (fails loudly in-expression instead of silently
    * diverging from the unsplit path, which sorts nulls first).
    *
    * WHEN TO USE: almost never — measured round 13 (DESIGN.md "sel
    * split lever crossover"), the UNSPLIT path wins or ties at every
    * probed shape because Spark plans `row_number <= n` as a
    * TWO-PHASE WindowGroupLimit: a Partial pass caps every input
    * partition's contribution at n rows BEFORE the shuffle, so the
    * hot key is never materialized, shuffled, or sorted whole —
    * positional selection already has a built-in skew lever. On an
    * 80%-hot key: n=5 plain 0.96 s vs split 4.31 s at 10M rows
    * (2.87 vs 14.05 at 40M — the ratio is scale-stable, there is no
    * data-size crossover); the gap closes as n grows (n=5000: tie)
    * but plain still edges split at n=500k. Unlike the rolling/asof
    * levers (no pushdown equivalent exists for window aggregates or
    * as-of matching, so slicing is the only skew escape), sliceWidth
    * here is API symmetry, not a performance tool — prefer the plain
    * path unless a future Spark version drops the rank-limit
    * pushdown.
    */
  private def slicedPos(maxPos: Int, ordCol: Column, descending: Boolean,
      wdt: Long, posName: String): DataFrame = {
    require(wdt > 0, s"sliceWidth must be positive, got $wdt")
    require(maxPos >= 1, s"positional selection needs n >= 1, got $maxPos")
    val o = "__graft_o"; val sl = "__graft_slice"
    val cnt = "__graft_cnt"; val off = "__graft_off"
    val checked = when(ordCol.isNull, raise_error(lit(
      "graft: sliceWidth positional selection requires a non-null ord " +
        "on every grouped row"))).otherwise(ordCol)
    val base = gb.base.withColumn(o, checked)
      .withColumn(sl, Num.floorDiv(checked, wdt))
    val counts = base.groupBy(gb.keyCols :+ col(sl): _*)
      .agg(F.count(lit(1)).as(cnt))
    val slOrd = if (descending) col(sl).desc else col(sl).asc
    val offW = Window.partitionBy(gb.keyCols: _*).orderBy(slOrd)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn(off, coalesce(F.sum(col(cnt)).over(offW), lit(0L)))
      .filter(col(off) < maxPos)
    // null-safe equi-join so dropNullKeys=false groups survive the
    // split exactly as they survive the unsplit window partitioning
    val offR = offsets.select(gb.keyNames.map(n => col(n).as(s"__graft_r_$n")) :+
      col(sl).as(s"__graft_r_$sl") :+ col(off): _*)
    val cond = (gb.keyNames :+ sl)
      .map(n => col(n) <=> col(s"__graft_r_$n")).reduce(_ && _)
    val withinW = Window.partitionBy(gb.keyCols :+ col(sl): _*)
      .orderBy(if (descending) col(o).desc else col(o).asc)
    base.join(offR, cond, "inner")
      .withColumn(posName, col(off) + row_number().over(withinW))
      .filter(col(posName) <= maxPos)
      .select(gb.base.columns.map(col) :+ col(posName): _*)
  }

  private def slicedOrd(ord: Seq[Column]): Column = {
    require(ord.size == 1,
      "sliceWidth positional selection needs a single integral ord column " +
        s"(slices are ranges of its value); got ${ord.size} ord columns")
    ord.head
  }

  /** First n rows per group (reference `head`, `core.py:1428`).
    * `sliceWidth`: hot-key lever, see [[slicedPos]] — requires a
    * single integral per-key-unique non-null ord.
    */
  def head(n: Int, ord: Seq[Column], posName: String = "__pos",
      sliceWidth: Option[Long] = None): DataFrame = sliceWidth match {
    case Some(w) =>
      slicedPos(n, slicedOrd(ord), descending = false, w, posName)
        .drop(posName)
    case None =>
      gb.base.withColumn(posName, rn(ord, descending = false))
        .filter(col(posName) <= n).drop(posName)
  }

  /** Last n rows per group (reference `tail`, `core.py:1461`);
    * original row order is preserved by callers via their own sort.
    * `sliceWidth`: hot-key lever, see [[slicedPos]].
    */
  def tail(n: Int, ord: Seq[Column], posName: String = "__pos",
      sliceWidth: Option[Long] = None): DataFrame = sliceWidth match {
    case Some(w) =>
      slicedPos(n, slicedOrd(ord), descending = true, w, posName)
        .drop(posName)
    case None =>
      gb.base.withColumn(posName, rn(ord, descending = true))
        .filter(col(posName) <= n).drop(posName)
  }

  /** nth row per group, 0-based; negative n counts from the end
    * (reference `nth`, `core.py:1493`).
    * `sliceWidth`: hot-key lever, see [[slicedPos]].
    */
  def nth(n: Int, ord: Seq[Column], posName: String = "__pos",
      sliceWidth: Option[Long] = None): DataFrame = {
    val descending = n < 0
    val target = if (n >= 0) n + 1 else -n
    sliceWidth match {
      case Some(w) =>
        slicedPos(target, slicedOrd(ord), descending, w, posName)
          .filter(col(posName) === target).drop(posName)
      case None =>
        gb.base.withColumn(posName, rn(ord, descending))
          .filter(col(posName) === target).drop(posName)
    }
  }

  /** Row ids of the first n rows per group in `ord` order — the
    * index-returning variant of [[head]] (reference `find_first_n`,
    * `numba.py:229-255`). Output: key columns, `rowId`, and the
    * 1-based within-group position.
    * `sliceWidth`: hot-key lever, see [[slicedPos]].
    */
  def findFirstN(n: Int, rowId: Column, ord: Seq[Column],
      posName: String = "pos", sliceWidth: Option[Long] = None): DataFrame =
    findN(n, rowId, ord, posName, descending = false, sliceWidth)

  /** Row ids of the last n rows per group (reference `find_last_n`,
    * `numba.py:258-282`); position 1 = last row.
    * `sliceWidth`: hot-key lever, see [[slicedPos]].
    */
  def findLastN(n: Int, rowId: Column, ord: Seq[Column],
      posName: String = "pos", sliceWidth: Option[Long] = None): DataFrame =
    findN(n, rowId, ord, posName, descending = true, sliceWidth)

  private def findN(n: Int, rowId: Column, ord: Seq[Column],
      posName: String, descending: Boolean,
      sliceWidth: Option[Long]): DataFrame = sliceWidth match {
    case Some(w) =>
      slicedPos(n, slicedOrd(ord), descending, w, posName)
        // position is already computed as a long (offset + row_number)
        .select(gb.keyCols :+ rowId :+ col(posName).cast("long").as(posName): _*)
    case None =>
      gb.base.withColumn(posName, rn(ord, descending))
        .filter(col(posName) <= n)
        // Spark row_number is int32; long for cross-engine schema parity
        .select(gb.keyCols :+ rowId :+ col(posName).cast("long").as(posName): _*)
  }

  /** pandas per-group `nlargest`: the `n` rows with the largest
    * `value`, ties broken by `ord` ascending (keep='first'); null
    * values are dropped, as pandas drops NaN. Plans with the same
    * partial WindowGroupLimit rank-limit pushdown as [[head]] — each
    * map task keeps at most n candidates per key before the shuffle.
    */
  def nlargest(n: Int, value: Column, ord: Column,
      posName: String = "__pos"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    gb.base.filter(value.isNotNull)
      .withColumn(posName, row_number().over(Window.partitionBy(gb.keyCols: _*)
        .orderBy(value.desc, ord)))
      .filter(col(posName) <= n).drop(posName)
  }

  /** pandas per-group `nsmallest` — see [[nlargest]]. */
  def nsmallest(n: Int, value: Column, ord: Column,
      posName: String = "__pos"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    gb.base.filter(value.isNotNull)
      .withColumn(posName, row_number().over(Window.partitionBy(gb.keyCols: _*)
        .orderBy(value.asc, ord)))
      .filter(col(posName) <= n).drop(posName)
  }
}

object SelectionOps {
  import scala.language.implicitConversions
  implicit def toSelectionOps(gb: GroupBy): SelectionOps = new SelectionOps(gb)
}

/** Pivot/crosstab and array-to-categorical utilities (reference
  * `core.py:1913-1991` crosstab, `util.py:689-763` pretty_cut,
  * `util.py:796-892` bools_to_categorical).
  */
object Reshape {

  /** Pivot table: group by `index` + `columns`, aggregate `value`,
    * unstack `columns` into result columns; optional margins ("All"
    * row/column) via the GROUPING SETS path of [[GroupBy]].
    *
    * Scale note: the column key's distinct-value domain becomes the
    * output schema, so it must be small (pivot semantics); pass
    * `domain` to avoid the extra distinct scan. Missing cells are
    * null-filled (`fillZero` for counting aggs).
    */
  def crosstab(
      df: DataFrame,
      index: Seq[Column],
      columns: Column,
      value: Option[(String, Column)] = None, // (aggFunc, valueColumn)
      margins: Margins = Margins.None,
      domain: Option[Seq[String]] = None,
      mask: Option[Column] = None,
      fillZero: Boolean = false,
      exact: Boolean = false): DataFrame = {
    val colName = df.select(columns).columns.head
    val (aggFunc, valueCol) = value.getOrElse(("size", lit(1)))
    val gb = new GroupBy(df, index :+ columns)
    val indexNames = df.select(index: _*).columns.toSeq
    val countLike = aggFunc == "size" || aggFunc == "count"
    if (margins == Margins.All && mask.isEmpty && indexNames.size == 1 &&
        countLike) {
      // Single-pass path for count-like margins crosstabs: each pivot
      // cell is a conditional count (`count(when(colKey = v, …))` —
      // what pivot compiles to anyway) computed under GROUPING SETS
      // ((idx), ()), so the body rows AND the "All" row come out of
      // ONE aggregation — one shuffle, one input pass — where a
      // pivot + union-of-reaggregated-All would recompute the whole
      // aggregation lineage twice. The "All" column is a row-level sum
      // of the cells (counts are additive and never null). Results are
      // identical to the general path below (differentially tested
      // against it and the oracle).
      val idx = indexNames.head
      // derive the domain from CAST(column AS STRING), not the collected
      // values' JVM toString — for timestamps and other types the two
      // formats diverge ('...00.0' vs '...00') and cells would never match
      val domainVals: Seq[String] =
        domain.getOrElse(
          distinctVals(df, columns.cast(StringType)).map(_.toString).sorted)
      val cells = domainVals.map { v =>
        val inCell = columns.cast(StringType) === lit(v)
        // unobserved (idx, colKey) combos stay null (pivot semantics —
        // distinct from an observed combo whose count is 0)
        when(F.count(when(inCell, lit(1))) > 0,
          if (aggFunc == "size") F.count(when(inCell, lit(1)))
          else F.count(when(inCell, valueCol))).as(v)
      }
      // the "All" column is the margin over the column key: a
      // domain-free count in the SAME aggregation, so it covers all
      // rows even when a caller-supplied `domain` is partial (a
      // row-wise sum of the domain cells would undercount) — matching
      // the general GROUPING SETS path below
      val allCell =
        (if (aggFunc == "size") F.count(lit(1)) else F.count(valueCol)).as("All")
      val grouped = gb.base
        .withColumn(idx, col(idx).cast(StringType))
        .groupingSets(Seq(Seq(col(idx)), Seq()), col(idx))
        .agg(cells.head, (cells.tail :+ allCell :+ F.grouping(col(idx)).as("__g")): _*)
      val out = grouped
        .withColumn(idx, when(col("__g") === 1, lit("All")).otherwise(col(idx)))
        .drop("__g")
        .orderBy(col(idx))
      return if (fillZero) out.na.fill(0) else out
    }
    val spec = AggSpec(aggFunc, valueCol, "__cell", exact = exact)
    // margins relabel super-aggregate positions "All"; pivoting the
    // margin-augmented frame yields the "All" row(s) and column.
    val flat = gb.aggregate(Seq(spec), mask = mask, margins = margins)
    // pivot needs the column domain up front; derive it from the RAW
    // column (one cheap distinct scan) rather than from `flat`, which
    // would recompute the whole grouping-sets aggregation. Margin
    // relabelling stringifies the key, so align the domain type.
    val domainVals: Seq[Any] = domain
      .map(_.map(identity[Any]))
      .getOrElse {
        // margins stringify the key column (marginAgg CAST ... AS STRING),
        // so the pivot domain must be the same Spark-cast strings — JVM
        // toString diverges for timestamps and would match no rows
        val vals: Seq[Any] =
          if (margins == Margins.None) distinctVals(df, columns)
          else distinctVals(df, columns.cast(StringType)).map(_.toString)
        vals.sortBy(_.toString)
      } ++ marginCol(margins, gb, colName)
    val pivoted = flat
      .groupBy(indexNames.map(col): _*)
      .pivot(colName, domainVals)
      .agg(F.first(col("__cell")))
      .orderBy(indexNames.map(col): _*)
    if (fillZero) pivoted.na.fill(0) else pivoted
  }

  /** Multi-level column keys (reference crosstab with a list of
    * `columns`): levels are concatenated into one pivot key with
    * `levelSep` (SURVEY §2.4 "multi-level column keys → concat key"),
    * so the result columns read `c1|c2`. Rows with a null in ANY
    * level are dropped (null-key semantics, matching the single-level
    * path). Level values must not contain `levelSep` — colliding keys
    * would merge cells; pick a separator outside the data's alphabet.
    */
  def crosstabMulti(
      df: DataFrame,
      index: Seq[Column],
      columns: Seq[Column],
      value: Option[(String, Column)] = None,
      margins: Margins = Margins.None,
      mask: Option[Column] = None,
      fillZero: Boolean = false,
      exact: Boolean = false,
      levelSep: String = "|"): DataFrame = {
    require(columns.nonEmpty, "crosstabMulti needs at least one column key")
    // null out the combined key when any level is null, so those rows
    // drop like single-level null column keys (concat_ws would
    // silently skip null levels and merge distinct combinations)
    val key = when(columns.map(_.isNotNull).reduce(_ && _),
      concat_ws(levelSep, columns.map(_.cast(StringType)): _*))
      .as("__colkey")
    crosstab(df, index, key, value, margins, domain = scala.None, mask,
      fillZero, exact)
  }

  /** Distinct values of the pivot key as a driver-side list —
    * `collect_set` partial aggregation (map-side sets, one tiny final
    * merge) instead of a `distinct()` wide shuffle; the pivot domain
    * is small by contract, so the set fits the driver by definition.
    */
  private def distinctVals(df: DataFrame, columns: Column): Seq[Any] =
    df.filter(columns.isNotNull)
      .agg(F.collect_set(columns)).head.getSeq[Any](0)

  private def marginCol(margins: Margins, gb: GroupBy, colName: String): Seq[String] = {
    val colLevel = gb.keyNames.indexOf(colName)
    margins match {
      case Margins.None => Nil
      case Margins.All => Seq("All")
      case Margins.Levels(ls) => if (ls.contains(colLevel)) Seq("All") else Nil
    }
  }

  /** pandas `crosstab(..., normalize=...)` as a post-pass over any
    * pivoted frame (the output of [[crosstab]] with `fillZero=true`):
    * `"index"` divides each cell by its ROW total — a pure row-local
    * projection, zero extra passes; `"columns"` / `"all"` divide by
    * per-column totals / the grand total — ONE one-row aggregate
    * broadcast back (the density grand-total shape). `idCols` are the
    * non-cell columns; every other column must be numeric. Zero
    * totals yield null cells (safeDiv), null cells stay null.
    */
  def normalizeCells(ct: DataFrame, idCols: Seq[String],
      mode: String): DataFrame = {
    require(Seq("index", "columns", "all").contains(mode),
      s"mode must be index/columns/all, got $mode")
    val cells = ct.columns.filterNot(idCols.contains).toSeq
    require(cells.nonEmpty, "no cell columns to normalize")
    def nz(c: String): Column = coalesce(col(c).cast("double"), lit(0.0))
    mode match {
      case "index" =>
        val total = cells.map(nz).reduce(_ + _)
        ct.select(idCols.map(col) ++ cells.map(c =>
          graft.functions.Num.safeDiv(col(c).cast("double"), total).as(c)): _*)
      case "columns" | "all" =>
        val sums = cells.map(c => F.sum(nz(c)).as(s"__t_$c"))
        val totals = ct.agg(sums.head, sums.tail: _*)
        val joined = ct.crossJoin(F.broadcast(totals))
        val out = cells.map { c =>
          val den =
            if (mode == "columns") col(s"__t_$c")
            else cells.map(x => col(s"__t_$x")).reduce(_ + _)
          graft.functions.Num.safeDiv(col(c).cast("double"), den).as(c)
        }
        joined.select(idCols.map(col) ++ out: _*)
    }
  }

  /** pandas `qcut(x, q)` bin CODES: exact linear-interpolated
    * quantile edges at `i/q` (ONE aggregation, `q−1` doubles to the
    * driver), then each row's code = how many interior edges its
    * value exceeds — the `(e_{i−1}, e_i]` interval rule with the
    * bottom bin closed. Ties at an edge fall to the LOWER bin
    * (pandas right-closed intervals); null x → null code. Duplicate
    * edges (heavy mass at one value) leave their intermediate codes
    * unpopulated — the code-space analogue of pandas
    * `duplicates='drop'`, without relabeling. Row-local assignment:
    * zero shuffle beyond the edge aggregate.
    */
  def qcut(df: DataFrame, x: Column, q: Int,
      name: String = "qbin"): DataFrame = {
    require(q >= 2, s"q must be >= 2, got $q")
    val probs = (1 until q).map(_.toDouble / q)
    val edgeRow = df.agg(F.percentile(x,
      F.array(probs.map(lit): _*)).as("e")).head()
    require(!edgeRow.isNullAt(0), "qcut on an all-null/empty column")
    val edges = edgeRow.getSeq[Double](0)
    val code = edges.map(e => when(x > e, 1).otherwise(0))
      .reduce(_ + _)
    df.withColumn(name, when(x.isNotNull, code))
  }

  /** One-hot encoding — pandas `get_dummies`: one `{prefix}_{value}`
    * 0/1 column per distinct non-null value of `c`, values collected
    * via partial-aggregated `collect_set` (the pivot-domain contract:
    * small by definition, `maxCategories`-guarded so a high-cardinality
    * column fails loudly instead of minting a million columns). Null
    * rows encode as all-zeros (pandas `dummy_na=False`); columns sort
    * by value for a deterministic layout. Row-local projection —
    * zero shuffle beyond the domain collect. `dropFirst` mirrors
    * pandas (k−1 dummies for regression designs).
    */
  def getDummies(df: DataFrame, c: Column, prefix: String = "d",
      maxCategories: Int = 256, dropFirst: Boolean = false): DataFrame = {
    val vals = distinctVals(df, c).map(_.toString).sorted
    require(vals.nonEmpty, "get_dummies on an all-null/empty column")
    require(vals.size <= maxCategories,
      s"${vals.size} categories exceed maxCategories=$maxCategories — " +
        "one-hot encoding a high-cardinality column is a modeling bug")
    val kept = if (dropFirst) vals.drop(1) else vals
    val cols = kept.map { v =>
      when(c.cast("string") === v, lit(1)).otherwise(lit(0))
        .as(s"${prefix}_$v")
    }
    df.select(df.columns.map(col).toIndexedSeq ++ cols: _*)
  }

  /** Integer category encoding — pandas `factorize`: codes 0..k−1 in
    * ORDER OF FIRST APPEARANCE (appearance decided by the explicit
    * `ord` — Spark has no physical row order; ties on min-ord break
    * by value), nulls code as −1. The value table is a bounded
    * aggregate (one row per distinct value) indexed by the
    * distributed-rank path of [[factorizeTable]], then joined back —
    * broadcast while the table holds at most `maxBroadcastCategories`
    * values (the common case: one in-memory map lookup per row, data
    * rows never shuffle), a plain hash equi-join beyond it (a true
    * high-cardinality id column must not be forced through a driver
    * broadcast). Appends `name` (int); callers needing the uniques
    * use the companion [[factorizeTable]].
    *
    * The uniques table is materialized once, eagerly, by
    * [[Materialize.checkpoint]]. With a session checkpoint dir it is
    * written there, so an executor loss re-reads the files. Without
    * one its blocks are executor-local: losing an executor before the
    * result is consumed fails the downstream action instead of
    * recomputing (acceptable for a bounded one-row-per-category
    * table), and the blocks release via the ContextCleaner once the
    * result's RDD is unreferenced.
    */
  def factorize(df: DataFrame, c: Column, ord: Column,
      name: String = "code",
      maxBroadcastCategories: Long = 1L << 20): DataFrame = {
    require(maxBroadcastCategories >= 1,
      s"maxBroadcastCategories must be >= 1, got $maxBroadcastCategories")
    // eager checkpoint on the bounded uniques table: the groupBy +
    // global sort + zipWithIndex lineage executes exactly ONCE and
    // both the shape-picking count and the join back read the
    // checkpointed blocks — previously each re-ran the full pipeline,
    // a deterministic cost only masked by shuffle-file reuse (round-9
    // advice item). A checkpoint, NOT persist: Dataset.persist
    // registers the plan in the CacheManager, which holds a strong
    // reference until the session ends, so an un-unpersisted cache
    // here would leak one uniques table per factorize call for the
    // session lifetime (round-10 advice item); the result outlives the
    // call, so no scope could release it either.
    val tbl = Materialize.checkpoint(factorizeTable(df, c, ord, name)
      .withColumnRenamed("value", "__graft_fv"), eager = true)
    // one bounded count over the checkpointed uniques table picks the
    // join shape
    val keyed = if (tbl.count() <= maxBroadcastCategories) F.broadcast(tbl)
                else tbl
    df.withColumn("__graft_fv", c.cast("string"))
      .join(keyed, Seq("__graft_fv"), "left")
      .withColumn(name, coalesce(col(name), lit(-1)))
      .drop("__graft_fv")
  }

  /** The uniques table of [[factorize]]: `(value, code)`, code 0..k−1
    * by (first-appearance ord, value).
    *
    * Scale shape: the global dense index is assigned by
    * `zipWithIndex` over the RANGE-SORTED value table — orderBy range-
    * partitions and sorts, zipWithIndex adds one small count job for
    * the per-partition offsets, and the indexing itself is row-local.
    * The only Catalyst-native alternative is a rank window with no
    * partition key, which funnels every distinct value through ONE
    * task — fine for enum-like columns, a single-task sort of the
    * whole domain when someone factorizes a high-cardinality id at
    * 100× scale (round-8 verdict item 4). The RDD hop is confined to
    * the bounded uniques table; data rows never leave Catalyst.
    */
  def factorizeTable(df: DataFrame, c: Column, ord: Column,
      name: String = "code"): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val sorted = df.filter(c.isNotNull)
      .groupBy(c.cast("string").as("value"))
      .agg(F.min(ord).as("__fo"))
      .orderBy(col("__fo"), col("value"))
      .select(col("value"))
    val indexed = sorted.rdd.zipWithIndex().map { case (r, i) =>
      // codes are IntegerType for pandas-factorize parity; past 2^31
      // distinct values the cast would silently wrap (round-9 advice
      // item) — fail loudly instead
      require(i <= Int.MaxValue,
        s"factorize: distinct-value rank $i exceeds Int.MaxValue — " +
          "more than 2^31 categories cannot be coded as int; use the " +
          "raw value as the key instead of factorizing it")
      Row(r.getString(0), i.toInt)
    }
    df.sparkSession.createDataFrame(indexed, StructType(Seq(
      StructField("value", StringType, nullable = true),
      StructField(name, IntegerType, nullable = false))))
  }

  /** Bin a numeric column by sorted edges into human-readable labels
    * (reference `pretty_cut`, `util.py:689-763`): ` <= b0`,
    * `b0 - b1` (float) / `b0+1 - b1` (integer), ` > bn`; value v maps
    * to the first edge with `v <= edge`; NaN/null → null (missing).
    */
  def prettyCut(value: Column, bins: Seq[Double],
      integer: Boolean = false): Column = {
    val sorted = bins.sorted
    val labels = prettyCutLabels(sorted, integer)
    val first = when(value.isNull || isnan(value.cast("double")), lit(null))
    val mid = sorted.zip(labels.init).foldLeft(first) { case (acc, (edge, lbl)) =>
      acc.when(value <= edge, lit(lbl))
    }
    mid.otherwise(lit(labels.last))
  }

  /** The label set prettyCut produces — exposed so callers (and SQL
    * oracles) can reference the exact strings.
    */
  def prettyCutLabels(sortedBins: Seq[Double], integer: Boolean): Seq[String] = {
    def fmt(d: Double): String =
      if (integer) d.toLong.toString
      else {
        val prec = sortedBins.map(b => BigDecimal(b.toString).scale).max.max(1)
        s"%.${prec}f".format(d)
      }
    val firstL = s" <= ${fmt(sortedBins.head)}"
    val midL = sortedBins.zip(sortedBins.tail).map { case (l, r) =>
      val lf = if (integer) (l + 1).toLong.toString else fmt(l)
      val rf = fmt(r)
      if (lf == rf) lf else s"$lf - $rf"
    }
    (firstL +: midL) :+ s" > ${fmt(sortedBins.last)}"
  }

  /** Encode a set of boolean flag columns into one label per row:
    * names of the true flags joined by `sep`, all-false → `naRep`
    * (reference `bools_to_categorical`, `util.py:796-892`).
    */
  /** pandas `melt` (wide → long unpivot): one output row per (input
    * row × value column), `(ids…, variable, value)`. All `valueCols`
    * must share one type (pandas object-upcasts; a silent common-type
    * coercion would surprise at scale, so mixed types are rejected —
    * cast first). Null values are KEPT (pandas keeps NaN rows).
    *
    * Distributed shape: a row-local `stack` projection — zero
    * shuffle, output volume = rows × columns, streaming-safe.
    */
  def melt(df: DataFrame, ids: Seq[String], valueCols: Seq[String],
      varName: String = "variable", valueName: String = "value"): DataFrame = {
    require(valueCols.nonEmpty, "no value columns to melt")
    val types = valueCols.map(c => df.schema(c).dataType).distinct
    require(types.size == 1,
      s"melt value columns must share one type, got $types — cast first")
    val stackArgs = valueCols.flatMap(c => Seq(lit(c), col(c)))
    df.select(ids.map(col) :+
      stack(lit(valueCols.size) +: stackArgs: _*).as(Seq(varName, valueName)): _*)
  }

  def boolsToCategorical(flags: Seq[(String, Column)], sep: String = " & ",
      naRep: String = "None", allowDuplicates: Boolean = true): Column = {
    require(!flags.exists(_._1 == naRep),
      s"na_rep=$naRep clashes with one of the column names")
    val parts = flags.map { case (n, c) => when(c, lit(n)) }
    val joined = concat_ws(sep, parts: _*)
    val trueCount = flags.map { case (_, c) =>
      when(c, lit(1)).otherwise(lit(0))
    }.reduce(_ + _)
    val labeled = when(joined === "", lit(naRep)).otherwise(joined)
    if (allowDuplicates) labeled
    else when(trueCount > 1, raise_error(
      lit("Some rows have more than one True value and allow_duplicates is False")))
      .otherwise(labeled)
  }
}
