package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact global (or per-group) ORDER STATISTICS without a
  * single-partition sort — the scale-safe replacement for
  * `row_number()/ntile() over (order by v)` when the window's input
  * is corpus-scale.
  *
  * `ranked` computes the exact 1-based rank of every row under
  * `(value asc, id asc)` — the same total order a global
  * `row_number()` window would produce over an integer value column
  * with an integer tie-break id — via the classical distributed
  * ranking construction (range-partition, sort locally, add prefix
  * offsets; the TeraSort shape, O'Malley 2008):
  *
  *   pass 0  per-group (min, max, count) of `value` — a 1-row-per-
  *           group agg, broadcast back; level-1 cell = equal-width
  *           integer bucket `(v - mn) DIV ceil(range / cells)`.
  *   pass 1  per-cell (vlo, vhi, idlo, idhi) — at most `cells` rows
  *           per group, broadcast back. Level-2 bucket: a cell that
  *           holds a SINGLE distinct value (the heavy-tie case ntile
  *           tie-breaks by id — 40% of users sharing freq=1 would
  *           otherwise sort on one task) splits by equal-width id
  *           ranges; a NARROW multi-valued cell (actual span < cells)
  *           maps each value to its exact offset `v - vlo` — at most
  *           `cells` single-valued subcells, so a heavy value can
  *           never hide among neighbors there; a wide cell refines by
  *           value over its ACTUAL [vlo, vhi] span, dividing the
  *           occupied range by `cells` again.
  *   pass 2  per-subcell (vlo, vhi, idlo, idhi, count) — at most
  *           `cells`^2 bounded rows per group, broadcast back. Level-3
  *           bucket, the residual-ceiling dissolver: a subcell that is
  *           SINGLE-valued *and* heavy (count > n/cells — a value
  *           whose multiplicity exceeds the partition target but that
  *           shared its level-1 cell with other values, so level 2
  *           refined by value and parked all its rows together) splits
  *           by equal-width id ranges exactly like the level-2 tie
  *           split. Everything else keeps level-3 bucket 0, so the
  *           bucket table only grows where mass actually concentrates:
  *           at most `cells` heavy values per group (each holds more
  *           than n/cells rows) times `cells` id ranges, bounding the
  *           occupied (cell, subcell, subsubcell) table at
  *           ~2*`cells`^2 rows per group.
  *   pass 3  per final (cell, subcell, subsubcell) counts — bounded as
  *           above — cumulated by a window over that bounded bucket
  *           table into exclusive prefix offsets plus the group total
  *           `n`, broadcast back.
  *   rank    `row_number()` partitioned by (group, cell, subcell,
  *           subsubcell), ordered by (value, id), plus the bucket's
  *           offset.
  *
  * The bucket order (cell, subcell, subsubcell) is (value, id)-
  * monotone by construction — cells are value-ranges; each refinement
  * level either refines the value range or, when its bucket is
  * single-valued, the id range — so local rank + offset IS the exact
  * global rank. Every shuffle partition holds one bucket: ~n/cells
  * rows for smooth values, ~n/cells^2 after refinement, and heavy
  * ties spread across id buckets instead of one task — including a
  * heavy value co-celled with neighbors, which level 3 id-splits
  * (OperatorLawSpec plants one at 10x the n/cells target, both in a
  * wide and a narrow cell, and asserts the max bucket size). The
  * residual after three levels (fourth-order, documented): a heavy
  * value escapes only if its level-2 subcell is still multi-valued,
  * which needs a cell span >= cells (so the exact-offset branch did
  * not fire — value range > cells^2, i.e. > 65k at the default) AND a
  * neighbor value within span/cells of the heavy one; then the pair
  * shares one subcell that level 3 leaves intact. A fourth refinement
  * level (or quantile-sampled instead of equal-width boundaries)
  * would dissolve that too; no inventory query or realistic fixture
  * reaches it — it requires ~65k-wide dense integer domains with
  * near-colliding multiplicity spikes.
  *
  * Inputs scan 5x (four bounded aggs + the rank pass) instead of the
  * ntile form's once — but each extra pass is an identical subtree
  * that Spark's ReuseExchange computes once, and no partition
  * anywhere exceeds ~n/cells rows: the plan that survives a 100x
  * scale-up.
  *
  * Contract: `value` and `id` are non-null integers (LONG-castable);
  * `max(value) - min(value)` and `max(id) - min(id)` must fit a long
  * (true for any mix of cents, epoch-days, epoch-micros and row ids);
  * `id` need not be unique — equal (value, id) rows get arbitrary but
  * consecutive ranks, exactly like `row_number()`. GROUP CARDINALITY:
  * the span and offset tables are broadcast, and they hold up to
  * ~2*cells^2 rows PER GROUP — at the default cells=256 that is
  * ~131k rows/group, so `group` must be a bounded dimension
  * (|groups| <= ~10^3 at the default; every inventory caller uses
  * event types / months / global). A corpus-cardinality group key
  * needs `cells` lowered until |groups|*cells^2 rows still broadcast
  * (or a different operator: per-group ranking over millions of tiny
  * groups is a plain partitionBy(group) window, no Quantile needed).
  * Column names: `rankCol`/`nCol`/`prefixCol` and the `__q_*` helper
  * prefix must not collide with input columns (require()d).
  */
object Quantile {

  /** All input columns, plus `rankCol` (exact 1-based rank by
    * (`value` asc, `id` asc) within `group`) and `nCol` (group row
    * count). `group` empty = one global ordering. */
  def ranked(df: DataFrame, group: Seq[String], value: String, id: String,
      rankCol: String = "rn", nCol: String = "n",
      cells: Int = 256): DataFrame =
    rankedWeighted(df, group, value, id, None, rankCol, nCol, null, cells)

  /** `ranked` plus the exact EXCLUSIVE running sum of `weight` in
    * rank order (`prefixCol` = sum of `weight` over all
    * strictly-lower-ranked rows in the group) — the scale-safe form
    * of `sum(w) over (order by v rows unbounded preceding to -1)`:
    * the bucket offsets carry prefix WEIGHT alongside prefix count,
    * and the local window sums only its own bounded bucket. Greedy
    * bin-packing and budget-fill admission ride on this. */
  def prefixSum(df: DataFrame, group: Seq[String], value: String,
      id: String, weight: String, prefixCol: String = "prev_cum",
      rankCol: String = "rn", nCol: String = "n",
      cells: Int = 256): DataFrame =
    rankedWeighted(df, group, value, id, Some(weight), rankCol, nCol,
      prefixCol, cells)

  /** Test hook: `ranked` with the internal `__q_c1`/`__q_c2`/`__q_c3`
    * bucket ids retained, so OperatorLawSpec can assert the
    * max-rows-per-bucket bound the scaladoc claims (every final
    * shuffle/window partition is one bucket). */
  private[graft] def rankedBuckets(df: DataFrame, group: Seq[String],
      value: String, id: String, cells: Int): DataFrame =
    rankedWeighted(df, group, value, id, None, "rn", "n", null, cells,
      keepBuckets = true)

  /** Per-group exact order-statistic VALUES at nearest-rank targets,
    * WITHOUT materializing a rank for every row: the same bounded
    * bucketing passes as `ranked` (0-3), but the final local sort
    * touches ONLY the buckets that contain a target rank (at most
    * |targets| buckets per group, each ~n/cells^2 rows) instead of
    * ranking the whole input — the full-input window sort is the
    * dominant cost of `ranked` for callers that only need cutoffs
    * (q142's percentiles, q192's winsor bounds). `targets` maps an
    * output column name to a SQL expression over the group row count
    * (written in terms of `nCol`, e.g. "(n + 19) DIV 20" = nearest-rank
    * p05); a target outside [1, n] yields NULL. Output: one row per
    * group with `nCol` and one LONG value column per target.
    *
    * If the caller also consumes the input elsewhere (q192's clamp
    * rollup), pass an ALREADY-materialized df (graft.Checkpoints.cp):
    * an input whose plan is a bare checkpoint is used as-is instead of
    * being checkpointed a second time. */
  def cutoffs(df0: DataFrame, group: Seq[String], value: String, id: String,
      targets: Seq[(String, String)], nCol: String = "n",
      cells: Int = 256, withIds: Boolean = false): DataFrame = {
    require(cells >= 2, s"cells must be >= 2, got $cells")
    require(targets.nonEmpty, "cutoffs needs at least one target")
    val outCols = targets.map(_._1) ++
      (if (withIds) targets.map(_._1 + "_id") else Nil) :+ nCol
    require(outCols.distinct.size == outCols.size,
      s"output columns must be distinct, got $outCols")
    outCols.foreach(c => require(!df0.columns.contains(c),
      s"output column '$c' collides with an input column; rename one " +
        s"(input: ${df0.columns.mkString(", ")})"))
    df0.columns.filter(_.startsWith("__q_")).foreach(c =>
      require(false, s"input column '$c' collides with Quantile's " +
        "reserved __q_* helper prefix"))
    val df = df0.queryExecution.analyzed match {
      // caller already materialized the slim projection — don't pay a
      // second copy of the blocks
      case _: org.apache.spark.sql.execution.LogicalRDD => df0
      case _ => graft.Checkpoints.cp(df0)
    }
    val gcols = group.map(col)
    val v = s"CAST($value AS BIGINT)"
    val i = s"CAST($id AS BIGINT)"
    val d3 = bucketize(df, group, value, id, cells)
    val bucketCols = Seq(col("__q_c1"), col("__q_c2"), col("__q_c3"))
    // pass 3: bounded per-bucket counts + exclusive prefix offsets
    // (identical to `ranked`'s — the bucket table is ~2*cells^2 rows
    // per group)
    val wOff = Window.partitionBy(gcols: _*)
      .orderBy(bucketCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val off0 = d3.groupBy((gcols ++ bucketCols): _*)
      .agg(count(lit(1)).as("__q_cnt"))
      .withColumn("__q_off", coalesce(sum(col("__q_cnt")).over(wOff), lit(0L)))
      .withColumn(nCol, sum(col("__q_cnt")).over(Window.partitionBy(gcols: _*)))
    // the <= |targets| buckets per group that CONTAIN a target rank
    val tstruct = array(targets.map { case (name, rexpr) =>
      struct(lit(name).as("__q_tname"), expr(rexpr).cast("long").as("__q_trank"))
    }: _*)
    val hot = off0.withColumn("__q_t", explode(tstruct))
      .select((gcols ++ bucketCols ++ Seq(col("__q_t.__q_tname").as("__q_tname"),
        col("__q_t.__q_trank").as("__q_trank"), col("__q_off"), col("__q_cnt"),
        col(nCol))): _*)
      .filter(col("__q_off") < col("__q_trank") &&
        col("__q_trank") <= col("__q_off") + col("__q_cnt"))
      .drop("__q_cnt")
    // local sort INSIDE the hot buckets only; offset + local rank is
    // the exact global rank (same argument as `ranked`)
    val wLoc = Window
      .partitionBy((gcols ++ bucketCols) :+ col("__q_tname"): _*)
      .orderBy(expr(v), expr(i))
    val picked = d3.join(broadcast(hot),
        group ++ Seq("__q_c1", "__q_c2", "__q_c3"))
      .withColumn("__q_r", row_number().over(wLoc).cast("long") + col("__q_off"))
      .filter(col("__q_r") === col("__q_trank"))
    val aggs = (max(col(nCol)).as(nCol) +: targets.map { case (name, _) =>
      max(when(col("__q_tname") === name, expr(v))).as(name) }) ++
      (if (withIds) targets.map { case (name, _) =>
        max(when(col("__q_tname") === name, expr(i))).as(name + "_id") }
       else Nil)
    (if (group.isEmpty) picked.groupBy() else picked.groupBy(gcols: _*))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Per-row exact ANSI `ntile(k)` bucket WITHOUT ranking every row
    * (r16): the k-1 decile-boundary (value, id) pairs come from
    * [[cutoffs]] at the cumulative ANSI bucket-edge ranks
    * (cum_d = d*(n DIV k) + LEAST(d, n % k)), broadcast back onto the
    * input, and each row's bucket is 1 + #(boundaries strictly below
    * the row's (value, id)). Because the rank order IS (value, id)
    * lexicographic, `rank > cum_d  <=>  (value, id) > boundary_d`, so
    * the bucket equals `ntileOf(rank, n, k)` of [[ranked]] EXACTLY —
    * with one extra precondition: `id` must be UNIQUE within its group
    * (every caller keys by user_id/doc_id after a rollup). It is not
    * checked at run time. When it breaks, every copy of a duplicate
    * (value, id) pair that sits on a boundary lands in the lower bucket,
    * so bucket sizes differ from ANSI ntile's; OperatorLawSpec "quantile
    * ntiled with duplicate (value, id) pairs across a boundary" pins
    * that behaviour. Replaces the
    * full-input window sort with a bounded boundary pick + a map-only
    * broadcast compare. Output: all input columns + `bucketCol`
    * (LONG in 1..k). */
  def ntiled(df0: DataFrame, group: Seq[String], value: String, id: String,
      k: Int, bucketCol: String, cells: Int = 256): DataFrame = {
    require(k >= 1, s"ntile k must be >= 1, got $k")
    require(!df0.columns.contains(bucketCol),
      s"output column '$bucketCol' collides with an input column")
    val df = df0.queryExecution.analyzed match {
      case _: org.apache.spark.sql.execution.LogicalRDD => df0
      case _ => graft.Checkpoints.cp(df0)
    }
    if (k == 1) return df.withColumn(bucketCol, lit(1L))
    val targets = (1 until k).map(d =>
      s"__q_b$d" -> s"$d * (__q_nt DIV $k) + LEAST($d, __q_nt % $k)")
    val bounds = cutoffs(df, group, value, id, targets, nCol = "__q_nt",
      cells = cells, withIds = true)
    val joined = if (group.isEmpty) df.crossJoin(broadcast(bounds))
                 else df.join(broadcast(bounds), group)
    val v = s"CAST($value AS BIGINT)"
    val i = s"CAST($id AS BIGINT)"
    val bucket = (1 until k).map(d =>
      s"(CASE WHEN $v > __q_b$d OR ($v = __q_b$d AND $i > __q_b${d}_id) " +
        "THEN 1 ELSE 0 END)").mkString("CAST(1 AS BIGINT) + ", " + ", "")
    joined.withColumn(bucketCol, expr(bucket))
      .drop("__q_nt" +: targets.flatMap { case (n2, _) =>
        Seq(n2, n2 + "_id") }: _*)
  }

  /** Passes 0-2 of the bucketing construction (shared by
    * [[rankedWeighted]] and [[cutoffs]]): the input with
    * `__q_c1`/`__q_c2`/`__q_c3` bucket ids plus the pass-0 bounds
    * (`__q_mn`/`__q_mx`/`__q_n0`) attached. Expressions are exactly
    * the pre-r16 `rankedWeighted` ones — the bucket assignment (and
    * therefore every rank) is unchanged. */
  private def bucketize(df: DataFrame, group: Seq[String], value: String,
      id: String, cells: Int): DataFrame = {
    val C = cells.toLong
    val gcols = group.map(col)
    val v = s"CAST($value AS BIGINT)"
    val i = s"CAST($id AS BIGINT)"

    // pass 0: per-group value bounds + row count (1 row per group,
    // broadcast); the count feeds level 3's heavy-subcell test
    val b0 = (if (group.isEmpty) df.groupBy() else df.groupBy(gcols: _*))
      .agg(expr(s"min($v)").as("__q_mn"), expr(s"max($v)").as("__q_mx"),
        count(lit(1)).as("__q_n0"))
    val d0 = if (group.isEmpty) df.crossJoin(broadcast(b0))
             else df.join(broadcast(b0), group)
    // equal-width level-1 cell over [mn, mx]; width = ceil(range / C)
    val d1 = d0.withColumn("__q_c1",
      expr(s"($v - __q_mn) DIV ((__q_mx - __q_mn + $C) DIV $C)"))

    // pass 1: per-cell spans (<= cells rows per group, broadcast)
    val st1 = d1.groupBy((gcols :+ col("__q_c1")): _*)
      .agg(expr(s"min($v)").as("__q_vlo"), expr(s"max($v)").as("__q_vhi"),
        expr(s"min($i)").as("__q_ilo"), expr(s"max($i)").as("__q_ihi"))
    // single-valued cell -> split the TIE by id ranges; a NARROW
    // multi-valued cell (span < cells) -> exact value offset, which
    // guarantees every subcell is single-valued so level 3 can always
    // id-split a heavy value hiding among neighbors; a wide cell ->
    // refine by value over the cell's actual span
    val d2 = d1.join(broadcast(st1), group :+ "__q_c1")
      .withColumn("__q_c2", expr(s"""CASE WHEN __q_vlo = __q_vhi
        THEN ($i - __q_ilo) DIV ((__q_ihi - __q_ilo + $C) DIV $C)
        WHEN __q_vhi - __q_vlo < $C THEN $v - __q_vlo
        ELSE ($v - __q_vlo) DIV ((__q_vhi - __q_vlo + $C) DIV $C) END"""))
      .drop("__q_vlo", "__q_vhi", "__q_ilo", "__q_ihi")

    // pass 2: per-subcell spans + count (<= cells^2 rows per group,
    // broadcast). Level 3 splits ONLY the heavy single-valued
    // subcells (count*cells > n, i.e. count > n/cells): the residual
    // case where a heavy value shared its level-1 cell, so level 2
    // refined by value and could not spread the tie. Everything else
    // keeps __q_c3 = 0, so the occupied bucket table stays
    // ~2*cells^2 per group (see the scaladoc bound).
    val st2 = d2.groupBy((gcols ++ Seq(col("__q_c1"), col("__q_c2"))): _*)
      .agg(expr(s"min($v)").as("__q_vlo2"), expr(s"max($v)").as("__q_vhi2"),
        expr(s"min($i)").as("__q_ilo2"), expr(s"max($i)").as("__q_ihi2"),
        count(lit(1)).as("__q_cnt2"))
    d2.join(broadcast(st2), group ++ Seq("__q_c1", "__q_c2"))
      .withColumn("__q_c3", expr(s"""CASE WHEN __q_vlo2 = __q_vhi2
          AND __q_cnt2 * $C > __q_n0
        THEN ($i - __q_ilo2) DIV ((__q_ihi2 - __q_ilo2 + $C) DIV $C)
        ELSE 0 END"""))
      .drop("__q_vlo2", "__q_vhi2", "__q_ilo2", "__q_ihi2", "__q_cnt2")
  }

  private def rankedWeighted(df0: DataFrame, group: Seq[String],
      value: String, id: String, weight: Option[String], rankCol: String,
      nCol: String, prefixCol: String, cells: Int,
      keepBuckets: Boolean = false): DataFrame = {
    require(cells >= 2, s"cells must be >= 2, got $cells")
    val outCols = Seq(rankCol, nCol) ++ Option(prefixCol)
    require(outCols.distinct.size == outCols.size,
      s"output columns must be distinct, got $outCols")
    outCols.foreach(c => require(!df0.columns.contains(c),
      s"output column '$c' collides with an input column; rename one " +
        s"(input: ${df0.columns.mkString(", ")})"))
    df0.columns.filter(_.startsWith("__q_")).foreach(c =>
      require(false, s"input column '$c' collides with Quantile's " +
        "reserved __q_* helper prefix"))
    // Materialize the input ONCE (eager checkpoint, AFTER the
    // validation above so an invalid call fails before paying a full
    // materialization — ADVICE r15): the four bounded aggs + the rank
    // pass below are five full consumptions of `df`, and nothing in
    // Spark reuses a bare map-only subtree across separate passes
    // (ReuseExchange only dedups Exchange nodes, and a caller's
    // scan -> kernel projection has none) — so a caller whose input is
    // itself expensive per row (q185's dsir scoring, q88/q101's
    // tokenize, q191's k-means distances) paid that work 5x. Callers
    // pass slim (group, value, id[, weight]) projections, so the
    // checkpointed footprint is a few longs per row — the 100 TB form
    // of this operator would persist the same slim projection before
    // ranking it (guide §1.2/§5: cut recomputed passes before tuning
    // anything else). Blocks are released by the harness after the
    // query's action (graft.Checkpoints, which also carries the
    // local-vs-reliable checkpoint posture and its env knob).
    val df = graft.Checkpoints.cp(df0)
    val gcols = group.map(col)
    val v = s"CAST($value AS BIGINT)"
    val i = s"CAST($id AS BIGINT)"
    // passes 0-2 (shared with cutoffs): bucket ids attached
    val d3 = bucketize(df, group, value, id, cells)

    // pass 3: exact exclusive prefix offsets over the bounded
    // (~2*cells^2 per group) bucket table + the group total; with a
    // weight column, prefix WEIGHT rides beside prefix count
    val bucketCols = Seq(col("__q_c1"), col("__q_c2"), col("__q_c3"))
    val wOff = Window.partitionBy(gcols: _*)
      .orderBy(bucketCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val aggs = count(lit(1)).as("__q_cnt") +:
      weight.map(wn => sum(expr(s"CAST($wn AS BIGINT)")).as("__q_wsum")).toSeq
    val off0 = d3.groupBy((gcols ++ bucketCols): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("__q_off", coalesce(sum(col("__q_cnt")).over(wOff), lit(0L)))
      .withColumn(nCol, sum(col("__q_cnt")).over(Window.partitionBy(gcols: _*)))
    val off = weight.fold(off0)(_ => off0.withColumn("__q_woff",
        coalesce(sum(col("__q_wsum")).over(wOff), lit(0L)))
      .drop("__q_wsum")).drop("__q_cnt")

    // rank pass: local sort within each bounded bucket + its offset
    val wLoc = Window
      .partitionBy((gcols ++ bucketCols): _*)
      .orderBy(expr(v), expr(i))
    val joined = d3.join(broadcast(off),
        (group ++ Seq("__q_c1", "__q_c2", "__q_c3")).toSeq)
      .withColumn(rankCol,
        (row_number().over(wLoc).cast("long") + col("__q_off")))
    val out = weight.fold(joined) { wn =>
      joined.withColumn(prefixCol, col("__q_woff") + coalesce(
        sum(expr(s"CAST($wn AS BIGINT)"))
          .over(wLoc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .drop("__q_woff")
    }.drop("__q_mn", "__q_mx", "__q_n0", "__q_off")
    if (keepBuckets) out
    else out.drop("__q_c1", "__q_c2", "__q_c3")
  }

  /** ANSI `ntile(k)` of rank `rankCol` among `nCol` rows, in closed
    * form (the first `n mod k` buckets get `n div k + 1` rows) — so a
    * `ranked` rank turns into the exact quartile/decile a global
    * `ntile(k) over (order by ...)` window would assign, without the
    * window. Both arguments are column NAMES (the expression is SQL
    * text so the integer DIVs stay integer). */
  def ntileOf(rankCol: String, nCol: String, k: Int): Column = {
    require(k >= 1, s"ntile k must be >= 1, got $k")
    val q = s"($nCol DIV $k)"
    val r = s"($nCol % $k)"
    expr(s"""CASE WHEN $rankCol <= $r * ($q + 1)
      THEN ($rankCol + $q) DIV ($q + 1)
      ELSE $r + ($rankCol - $r * ($q + 1) + $q - 1) DIV $q END""")
  }
}
