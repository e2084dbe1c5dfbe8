package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incrementally-maintained AGGREGATE-OVER-JOIN view
  * `V = γ_{g; count, sum(v)}(L ⋈ R)` from two changelogs — the classic
  * IVM composition of [[JoinView]] (delta join) and [[IncrementalAgg]]
  * (delta fold). The reference's handlers materialize single tables
  * (`/root/reference/cdc_manager.go:277-298`); the dashboard query a real
  * consumer puts on top is almost always "metric per dimension attribute"
  * — revenue per customer nation — and recomputing that join+group-by per
  * batch re-reads both full states.
  *
  * The maintained state is `(L, R, per-group sums)`: unlike [[JoinView]]
  * the JOIN RESULT IS NEVER MATERIALIZED — the aggregate state is
  * O(|groups|), not O(|join rows|). Per micro-batch `(ΔL, ΔR)` the view
  * delta is computed as retract/insert pairs from the SAME two-branch
  * delta-join decomposition JoinView uses for its rebuild:
  * {{{
  *   touched =  live(L )[keys(ΔL)] ⋈ live(R )              (weight −1)
  *           ∪  live(L )[∉ΔL]      ⋈ live(R )[keys(ΔR)]    (weight −1)
  *           ∪  live(L')[keys(ΔL)] ⋈ live(R')              (weight +1)
  *           ∪  live(L')[∉ΔL]      ⋈ live(R')[keys(ΔR)]    (weight +1)
  *   Δagg    =  γ_{g; Σ w, Σ w·v}(touched)
  * }}}
  * (primed = post-merge). Join rows NOT adjacent to a changed key are
  * identical pre/post and cancel by construction, so they are never even
  * joined: all four branches are |Δ|-restricted scan-side by broadcast
  * semi/anti joins against the changed-key sets. Inserts, updates,
  * deletes, late-arriving dimension rows, AND group-moving updates (a
  * dimension row whose group attribute changes retracts its old-group
  * contribution and inserts the new one) all fall out of the one formula.
  *
  * Scale shape: per-batch cost is O(|Δ| + |delta-adjacent join rows|),
  * never O(|L| + |R|) — and the agg merge touches only groups the batch
  * moved (untouched groups pass through a broadcast anti join). The
  * changed-key collects are capped exactly as in JoinView
  * ([[JoinView.DefaultMaxLocalKeys]]): a catch-up batch over a giant
  * backlog degrades to cluster-side key handling instead of OOMing the
  * driver.
  *
  * Exactness: give each measure a `_.cast("decimal(p,s)")` — the
  * retract/insert fold is order-sensitive in IEEE double (`(s + x) − x`
  * leaves residue), and a decimal state makes the maintained sums equal a
  * direct recompute bit-for-bit. NULL discipline matches SQL aggregates:
  * `n_rows` counts rows, `sum` skips NULL values, a live group whose
  * values are all NULL reports NULL sum (tracked via `n_vals`), and a
  * NULL group attribute is a legitimate group (all merges are null-safe).
  */
object JoinAggView {

  /** Tombstone-aware L/R states + the per-group aggregate state
    * (`groupCols…, n_rows, n_vals, sum_<valueCol>`). */
  final case class State(left: DataFrame, right: DataFrame, agg: DataFrame)

  /** Public face of the aggregate state: `groupCols…, n_rows,
    * sum_<c>…` — NULL sum for live groups whose values for that measure
    * are all NULL; the per-measure `n_vals_<c>` stay internal. */
  def viewMulti(st: State, valueCols: Seq[String]): DataFrame =
    viewOfAgg(st.agg, valueCols)

  /** [[viewMulti]] over a bare aggregate-state frame (a maintainer's
    * state from a shared replay, where the table states live in the
    * replay's own result). */
  def viewOfAgg(agg: DataFrame, valueCols: Seq[String]): DataFrame = {
    val hidden = valueCols
      .flatMap(c => Seq(s"n_vals_$c", s"sum_$c")).toSet + "n_rows"
    agg.select(
      agg.columns.filterNot(hidden).map(col) ++
        (col("n_rows") +: valueCols.map(c =>
          when(col(s"n_vals_$c") > 0, col(s"sum_$c")).as(s"sum_$c"))): _*)
  }

  /** The aggregate-specific half of a batch, folded off the shared
    * [[SnowflakeView.chainStep]] via [[maintainerNamed]]: retract touched join
    * rows from the PRE-merge live states, insert from the POST-merge
    * ones, fold the per-group deltas into the O(|groups|) aggregate
    * state. `measures` are `(outName, srcCol, cast)` — several measures
    * (even from both join sides, or one column twice: the value AND its
    * square make AVG/VARIANCE maintainable) share one delta pass. */
  private[cdc] def stepAgg(agg: DataFrame, ctx: MultiView.BatchCtx,
                 groupCols: Seq[String],
                 measures: Seq[(String, String, Column => Column)])
      : DataFrame = {
    import ctx.{changedL, changedR, lLocal, rLocal, lPk, rPk, lJoinCols,
                maxLocalKeys}
    val spark = ctx.liveL.sparkSession
    def touchedRows(liveL: DataFrame, liveR: DataFrame, w: Int): DataFrame =
      touchedJoinRows(liveL, liveR, changedL, lLocal, changedR, rLocal,
                      lPk, rPk, lJoinCols, groupCols, measures, w)
    // FROM-EMPTY (bootstrap) fold: an empty aggregate state means the
    // pre-merge join is empty (state invariant: agg == aggregate over
    // L ⋈ R with n_rows > 0), so the retract branch, the touched-group
    // collect, and the carry-over full-outer merge are pure overhead —
    // the state is the insert deltas renamed, and the changed-key pins
    // are never scanned (bridge.staticallyEmpty contract: plan-only).
    if (org.apache.spark.sql.graft.bridge.staticallyEmpty(agg)) {
      val fkJ = MultiView.FkJoin(lPk, rPk, lJoinCols)
      val insert = fkJ.joinBoundedL(ctx.liveL, ctx.liveR, lLocal)
        .select(groupCols.map(col) ++
          measures.map { case (c, src, cast) =>
            cast(col(src)).as(s"__v_$c") } ++
          Seq(lit(1).as("__w")): _*)
      val measureAggs0 = measures.flatMap { case (c, _, _) => Seq(
        sum(when(col(s"__v_$c").isNotNull, col("__w").cast("long"))
              .otherwise(lit(0L))).as(s"n_vals_$c"),
        sum(when(col("__w") === 1, col(s"__v_$c"))
              .otherwise(-col(s"__v_$c"))).as(s"sum_$c")) }
      return insert.groupBy(groupCols.map(col): _*)
        .agg(sum(col("__w").cast("long")).as("n_rows"), measureAggs0: _*)
        .filter(col("n_rows") > 0)
    }
    // retract from the PRE-merge states, insert from the POST-merge ones
    // — both lazy, and the pre-merge states are pinned by the previous
    // batch, so evaluation order cannot see the merged state in the
    // retract branch
    val retract = touchedRows(ctx.preLiveL, ctx.preLiveR, -1)
    val insert = touchedRows(ctx.liveL, ctx.liveR, +1)
    // pinned: the per-group deltas feed the touched-group set AND the
    // merge join — one shuffle, reused
    val measureAggs = measures.flatMap { case (c, _, _) => Seq(
      sum(when(col(s"__v_$c").isNotNull, col("__w").cast("long"))
            .otherwise(lit(0L))).as(s"d_vals_$c"),
      sum(when(col("__w") === 1, col(s"__v_$c"))
            .otherwise(-col(s"__v_$c"))).as(s"d_sum_$c")) }
    val nonZero = measures.map { case (c, _, _) =>
      col(s"d_vals_$c") =!= 0 ||
        (col(s"d_sum_$c").isNotNull && col(s"d_sum_$c") =!= 0)
    }.foldLeft(col("d_rows") =!= 0)(_ || _)
    val deltas = retract.unionByName(insert)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("__w").cast("long")).as("d_rows"), measureAggs: _*)
      .filter(nonZero)
      .localCheckpoint(false)
    // touched-group set: already distinct (it IS the delta agg's key
    // set); under the cap collect + broadcast, above it stay distributed
    val tgSel = deltas.select(groupCols.map(col): _*)
    val tgRows = tgSel.limit(maxLocalKeys + 1).collect().toSeq
    val (tg, tgLocal) =
      if (tgRows.size > maxLocalKeys) (tgSel, false)
      else (spark.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(tgRows).asJava,
        tgSel.schema), true)
    // null-safe group joins: a NULL group attribute is a real group
    def byGroup(left: DataFrame, how: String): DataFrame = {
      val tgA = tg.alias("__tg")
      left.alias("__l").join(if (tgLocal) broadcast(tgA) else tgA,
        groupCols.map(g => col(s"__l.$g") <=> col(s"__tg.$g"))
          .reduce(_ && _), how)
        .select(left.columns.map(c => col(s"__l.$c")): _*)
    }
    val untouched = byGroup(agg, "left_anti")
    val groupCond = groupCols
      .map(g => col(s"__a.$g") <=> col(s"__d.$g")).reduce(_ && _)
    val merged = byGroup(agg, "left_semi").alias("__a")
      .join(deltas.alias("__d"), groupCond, "full_outer")
      .select(
        // <=> join: whichever side is present carries the true group
        // value (coalesce of both-NULL is NULL — itself correct)
        groupCols.map(g => coalesce(col(s"__a.$g"), col(s"__d.$g")).as(g)) ++
          ((coalesce(col("__a.n_rows"), lit(0L)) +
            coalesce(col("__d.d_rows"), lit(0L))).as("n_rows") +:
           measures.flatMap { case (c, _, _) =>
             // decimal addition widens per batch — cast back to the
             // canonical sum type so the state schema is a fixed point
             val sumType = deltas.schema(s"d_sum_$c").dataType
             Seq(
               (coalesce(col(s"__a.n_vals_$c"), lit(0L)) +
                coalesce(col(s"__d.d_vals_$c"), lit(0L))).as(s"n_vals_$c"),
               (coalesce(col(s"__a.sum_$c"), lit(0).cast(sumType)) +
                coalesce(col(s"__d.d_sum_$c"), lit(0).cast(sumType)))
                 .cast(sumType).as(s"sum_$c")) }): _*)
      .filter(col("n_rows") > 0)
    untouched.unionByName(merged)
  }

  /** This aggregate view as a [[MultiView.Maintainer]] — state is the
    * O(|groups|) aggregate frame alone. One instance can carry MANY named
    * measures (even from both join sides), so several dashboard views
    * share a single maintained state. */
  def maintainerNamed(groupCols: Seq[String],
                      measures: Seq[(String, String, Column => Column)])
      : MultiView.Maintainer[DataFrame] = {
    require(measures.nonEmpty, "at least one measure")
    require(measures.map(_._1).distinct.size == measures.size,
      "measure output names must be distinct")
    new MultiView.Maintainer[DataFrame] {
      def empty(liveL0: DataFrame, liveR0: DataFrame, lPk: Seq[String],
                rPk: Seq[String], lJoinCols: Seq[String]): DataFrame =
        MultiView.emptyLike(directAggNamed(liveL0, liveR0, rPk, lJoinCols,
                                           groupCols, measures))
      def step(agg: DataFrame, ctx: MultiView.BatchCtx): DataFrame =
        stepAgg(agg, ctx, groupCols, measures)
      def pin(agg: DataFrame): DataFrame = agg.localCheckpoint(false)
      def reRoot(agg: DataFrame, to: org.apache.spark.sql.SparkSession)
          : DataFrame = org.apache.spark.sql.graft.bridge.reRoot(agg, to)
    }
  }

  /** The two-branch delta restriction (JoinView.stepView rationale:
    * each branch's semi side is |Δ|-bounded and broadcast, so neither
    * full state is ever exchanged), evaluated over a given (liveL, liveR)
    * pair with weight `w`. Package-private so the plan-shape spec can
    * assert the broadcasts on the UN-pinned frame (stepAgg pins the
    * derived delta agg, which hides this subtree from its plan). */
  private[cdc] def touchedJoinRows(liveL: DataFrame, liveR: DataFrame,
      changedL: DataFrame, lLocal: Boolean,
      changedR: DataFrame, rLocal: Boolean,
      lPk: Seq[String], rPk: Seq[String], lJoinCols: Seq[String],
      groupCols: Seq[String],
      measures: Seq[(String, String, Column => Column)],
      w: Int): DataFrame = {
    def hinted(df: DataFrame, isLocal: Boolean): DataFrame =
      if (isLocal) broadcast(df) else df
    // fk-side joins through the skew-hardened helper (under-cap broadcast
    // verbatim; over-cap SALTED — see MultiView.FkJoin)
    val fk = MultiView.FkJoin(lPk, rPk, lJoinCols)
    val branchL = fk.joinBoundedL(
      liveL.join(hinted(changedL, lLocal), lPk, "left_semi"), liveR, lLocal)
    val branchR = fk.joinBoundedR(
      liveL.join(hinted(changedL, lLocal), lPk, "left_anti"),
      liveR.join(hinted(changedR, rLocal), rPk, "left_semi"), rLocal)
    branchL.unionByName(branchR).select(
      groupCols.map(col) ++
        measures.map { case (c, src, cast) =>
          cast(col(src)).as(s"__v_$c") } ++
        Seq(lit(w).as("__w")): _*)
  }

  /** The canonical aggregate-state frame computed DIRECTLY from a pair of
    * live states — the recompute the incremental path must equal, and the
    * schema seed for the maintainer's empty state. `measures` are
    * `(outName, srcCol, cast)`. */
  def directAggNamed(liveL: DataFrame, liveR: DataFrame,
                rPk: Seq[String], lJoinCols: Seq[String],
                groupCols: Seq[String],
                measures: Seq[(String, String, Column => Column)]): DataFrame = {
    val joinCond = lJoinCols.zip(rPk)
      .map { case (l, r) => col(l) === col(r) }.reduce(_ && _)
    val aggs = measures.flatMap { case (c, src, cast) => Seq(
      count(col(src)).as(s"n_vals_$c"), sum(cast(col(src))).as(s"sum_$c")) }
    liveL.join(liveR, joinCond)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
  }
}
