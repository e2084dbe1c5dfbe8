package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental per-group TOP-K view maintenance over a CDC changelog —
  * "3 most expensive live orders per status, kept current". Top-k is not
  * incrementally mergeable the way SUM/COUNT are (a delete can promote a
  * row that is NOT in the current top-k), so the classic maintenance plan
  * is delta-restricted RECOMPUTE:
  *
  *   view' = view[group ∉ touched] ∪ topK(live(state')[group ∈ touched])
  *
  * Per batch, only groups the delta actually touched are re-ranked, from
  * the maintained tombstone-aware state (`Materializer.merge` keeps that
  * state current with |Δ|-bounded work); every other group's view rows
  * pass through a broadcast anti join untouched. Shuffle per batch is
  * bounded by the touched groups' row count — never |state| or |log|.
  *
  * Touched-group derivation handles the Maxwell quirks the same way
  * IncrementalAgg does: a delete's row image rides in `after` (Q4), and
  * an update's `before` carries only changed columns (Q3) — the
  * before-group is consulted only when `changed_cols` says the group
  * column itself changed (a group-moving update touches BOTH groups).
  *
  * The view runs as a [[TableViews]] maintainer ([[maintainer]]): the
  * shared replay and the streaming runner
  * (`CdcStream.NamedTableView.topK`) merge the table state once per
  * batch and fold every registered view off the same ctx.
  */
object IncrementalTopK {

  /** Per-group top-k by orderCol DESC, pk ASC as deterministic tiebreak.
    * `rk` is part of the VIEW's public schema (rank within group), so the
    * input image must not already carry one — a silent overwrite here
    * would corrupt rows passed through untouched/unionByName later. */
  def topK(liveRows: DataFrame, pk: Seq[String], groupCol: String,
           orderCol: String, k: Int): DataFrame = {
    require(!liveRows.columns.contains("rk"),
      "IncrementalTopK: the row image already has an `rk` column, which " +
        "collides with the view's rank column; rename it upstream")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(orderCol).desc +: pk.map(c => col(c).asc): _*)
    liveRows.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Groups the batch touches: after-group of every event, plus the
    * before-group of updates that MOVED the row (groupCol ∈
    * changed_cols). Under the cap the distinct set is collected once as
    * a LocalRelation — |touched| <= 2|Δ| and every use broadcasts it
    * (JoinView.localKeys rationale); above it (catch-up batch over a
    * backlog) the distinct set stays cluster-side, lazily pinned, and
    * the group joins run unhinted (returned Boolean = isLocal).
    *
    * An update whose raw `old` was NULL/malformed decodes to NULL
    * `changed_cols`; on this exact path that must FAIL, not silently
    * evaluate as "group unchanged" — if the update actually moved the
    * row's group, the old group would never be re-ranked and a stale row
    * would sit in the view under both groups. Same discipline as
    * IncrementalAgg.changeDeltas (the two maintainers share the
    * exactness contract). */
  private[cdc] def touchedGroups(delta: DataFrame, groupCol: String,
                                 cap: Int): (DataFrame, Boolean) = {
    val hasChangedCols = delta.columns.contains("changed_cols")
    val afterG = delta.select(col(s"after.$groupCol").as(groupCol))
    val beforeG =
      if (hasChangedCols)
        delta.filter(col("op") === "update")
          .select(
            when(col("changed_cols").isNull,
                 raise_error(concat(
                   lit("IncrementalTopK: update event with NULL " +
                       "changed_cols (raw `old` missing or malformed " +
                       "JSON) — exact group re-ranking impossible; " +
                       "event ts="),
                   col("ts").cast("string"))))
              .when(array_contains(col("changed_cols"), groupCol),
                    col(s"before.$groupCol"))
              // group not in changed_cols -> after-group (already in
              // afterG; the distinct below drops the duplicate)
              .otherwise(col(s"after.$groupCol")).as(groupCol))
      else delta.filter(col("op") === "update")
        .select(coalesce(col(s"before.$groupCol"),
                         col(s"after.$groupCol")).as(groupCol))
    // distinct BEFORE the collect: the driver materializes |groups| rows,
    // not |Δ| (an AvailableNow catch-up batch can be the whole backlog)
    val sel = afterG.unionByName(beforeG).distinct()
    val rows = sel.limit(cap + 1).collect().toSeq
    if (rows.size > cap) (sel.localCheckpoint(false), false)
    else (delta.sparkSession.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava,
      sel.schema), true)
  }

  /** The rank-specific half of a batch, folded off the shared
    * [[TableViews.batchCtx]] (via [[maintainer]]): re-rank ONLY the
    * groups the delta touched, over the post-merge live state. */
  private[cdc] def stepView(view: DataFrame, ctx: TableViews.BatchCtx,
                            groupCol: String, orderCol: String, k: Int)
      : DataFrame = {
    // FROM-EMPTY (bootstrap) fold: every live group came from this
    // batch, so the touched-group collect and the anti/semi pair are
    // pure overhead — the view is a straight re-rank of the post-merge
    // live state (bridge.staticallyEmpty contract: plan-only).
    if (org.apache.spark.sql.graft.bridge.staticallyEmpty(view))
      return topK(Materializer.liveView(ctx.postState), ctx.pk, groupCol,
                  orderCol, k)
    val (tg, tgLocal) = touchedGroups(ctx.delta, groupCol, ctx.maxLocalKeys)
    // null-safe group joins (mirroring Materializer.merge's key joins):
    // a decode failure can yield a NULL group, and a null-unsafe
    // anti/semi pair would park those rows in the view forever while
    // also never re-ranking them. Broadcast hint only when the touched
    // set is a driver-local under-cap relation.
    def byGroup(left: DataFrame, how: String): DataFrame = {
      val tgA = tg.alias("__tg")
      left.alias("__l").join(if (tgLocal) broadcast(tgA) else tgA,
        col(s"__l.$groupCol") <=> col(s"__tg.$groupCol"), how)
    }
    val untouched = byGroup(view, "left_anti")
    val recomputed = topK(
      byGroup(Materializer.liveView(ctx.postState), "left_semi"),
      ctx.pk, groupCol, orderCol, k)
    untouched.unionByName(recomputed)
  }

  /** This ranked view as a [[TableViews.Maintainer]] — state is the
    * rank view frame (the table state lives in the shared replay). */
  def maintainer(groupCol: String, orderCol: String, k: Int)
      : TableViews.Maintainer[DataFrame] =
    new TableViews.Maintainer[DataFrame] {
      def empty(events0: DataFrame, pk: Seq[String]): DataFrame = {
        val spark = events0.sparkSession
        val live = Materializer.compact(events0, pk)
          .drop(Materializer.MetaCols: _*)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          topK(live, pk, groupCol, orderCol, k).schema)
      }
      def step(view: DataFrame, ctx: TableViews.BatchCtx): DataFrame =
        stepView(view, ctx, groupCol, orderCol, k)
      def pin(view: DataFrame): DataFrame = view.localCheckpoint(false)
      def reRoot(view: DataFrame, to: org.apache.spark.sql.SparkSession)
          : DataFrame = org.apache.spark.sql.graft.bridge.reRoot(view, to)
    }
}
