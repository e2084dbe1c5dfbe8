package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incrementally-maintained LEFT OUTER equi-join view `V = L ⟕ R` over
  * two changelogs — "ALL live orders, with the customer's name when the
  * customer is known, NULL otherwise". The inner-join maintainer
  * ([[JoinView]]) silently hides facts whose dimension hasn't arrived
  * (or was deleted); the outer view keeps them visible as NULL-padded
  * rows and RETRACTS the pad when the dimension shows up — the classic
  * outer-join IVM subtlety (a dim insert must delete the pad row AND
  * insert the joined one; a dim delete must do the reverse).
  *
  * Because `rPk` is R's primary key, every live L row owns EXACTLY ONE
  * view row (matched or padded), so the view is keyed by `lPk` and the
  * delta formula stays two-branch:
  * {{{
  *   touched = live(L')[pk ∈ keys(ΔL)]
  *           ∪ live(L')[pk ∉ keys(ΔL) ∧ fk ∈ keys(ΔR)]
  *   V' = V ∖ (pk ∈ keys(ΔL) ∨ fk ∈ keys(ΔR))  ∪  touched ⟕ live(R')
  * }}}
  *
  * Scale shape: same |Δ|-bounded contract as [[JoinView]] — but Spark
  * cannot BUILD-LEFT a left-outer hash join, so `touched ⟕ live(R')`
  * with a broadcast hint on the small side would force the FULL R state
  * into a broadcast. Instead the outer join is decomposed into
  * broadcast-safe pieces:
  * {{{
  *   matched = broadcast(touched) ⋈ live(R')      // inner, BuildLeft OK
  *   padded  = touched ∖ matched.keys             // anti vs |Δ|-bounded set
  *             × NULL R-columns
  * }}}
  * `matched` is |touched|-bounded, so the anti join's build side is small
  * too: neither state is ever exchanged or broadcast whole. Over-cap
  * batches drop the hints and degrade to distributed joins, exactly as
  * in [[JoinView]]. */
object LeftJoinView {

  /** The canonical recompute the incremental path must equal: live(L) ⟕
    * live(R) projected to `viewCols` (R-side columns NULL when
    * unmatched). Also the schema seed for the maintainer's empty view. */
  def directView(liveL: DataFrame, liveR: DataFrame,
                 rPk: Seq[String], lJoinCols: Seq[String],
                 viewCols: Seq[String]): DataFrame = {
    val joinCond = lJoinCols.zip(rPk)
      .map { case (l, r) => col(l) === col(r) }.reduce(_ && _)
    liveL.join(liveR, joinCond, "left_outer")
      .select(viewCols.map(col): _*)
  }

  /** The view-specific half of a batch, folded off the shared
    * [[SnowflakeView.chainStep]] ([[JoinView.stepView]]'s contract: `viewCols`
    * must include `lPk` and `lJoinCols`; an over-cap ctx side runs the
    * distributed fallback). */
  private[cdc] def stepView(view: DataFrame, ctx: MultiView.BatchCtx,
                            viewCols: Seq[String]): DataFrame = {
    import ctx.{changedL, lLocal, rLocal, lPk, liveL, liveR, hinted}
    val bothLocal0 = lLocal && rLocal
    // FROM-EMPTY (bootstrap) fold: keep = ∅ and every live fact is
    // touched, so the view is matched(liveL ⋈ liveR) ∪ pad(the rest) —
    // the keep joins and changed-key restrictions drop out and the
    // changed-key pins are never scanned (bridge.staticallyEmpty
    // contract: plan-only).
    if (org.apache.spark.sql.graft.bridge.staticallyEmpty(view)) {
      val matched0 = ctx.fk.joinBoundedL(liveL, liveR, bothLocal0)
      val matchedKeys0 = matched0.select(lPk.map(col): _*)
      val pad0 = liveL.join(hinted(matchedKeys0, bothLocal0), lPk,
                            "left_anti")
      val lCols0 = liveL.columns.toSet
      val padProj0 = viewCols.map { c =>
        if (lCols0(c)) col(c)
        else lit(null).cast(liveR.schema(c).dataType).as(c)
      }
      return matched0.select(viewCols.map(col): _*)
        .unionByName(pad0.select(padProj0: _*))
    }
    // keep: view rows owned by untouched facts. A pad row carries its
    // fact's fk value in lJoinCols, so the anti join on changedR-as-fk
    // retracts the pad exactly when its dimension (finally) arrives.
    // fk-side joins ride ctx.fk/fkFilter: under-cap broadcast, over-cap
    // SALTED (MultiView.FkJoin — the AQE-off loop gets no skew-join help)
    val keep = ctx.fkFilter(
      view.join(hinted(changedL, lLocal), lPk, "left_anti"), "left_anti")
    // touched facts, both branches |Δ|-bounded. NOT pinned: the frame is
    // scanned twice (inner rebuild + pad anti join) but each scan is
    // broadcast-semi-pruned scan-side work over the already-pinned state
    // — duplicating it keeps the WHOLE rebuild visible to Catalyst in
    // one codegen-fusable plan (and plan-assertable, like JoinView's
    // rebuild branches), where a lazy checkpoint would opaque it behind
    // an RDD scan and add per-batch persist I/O.
    val touchedL = liveL.join(hinted(changedL, lLocal), lPk, "left_semi")
      .unionByName(ctx.fkFilter(
        liveL.join(hinted(changedL, lLocal), lPk, "left_anti"), "left_semi"))
    val bothLocal = lLocal && rLocal
    // inner piece: BuildLeft broadcast of the |Δ|-bounded fact side
    // (over-cap: fk-pruned + salted, see MultiView.FkJoin)
    val matched = ctx.fk.joinBoundedL(touchedL, liveR, bothLocal)
    // pad piece: touched facts with no live match. matched's key set is
    // |touched|-bounded, so IT is the anti join's build side — the R
    // state never rides a broadcast.
    val matchedKeys = matched.select(lPk.map(col): _*)
    val pad = touchedL.join(hinted(matchedKeys, bothLocal), lPk, "left_anti")
    // NULL-pad the R-side view columns, typed from the R state's schema
    val lCols = touchedL.columns.toSet
    val padProj = viewCols.map { c =>
      if (lCols(c)) col(c)
      else lit(null).cast(liveR.schema(c).dataType).as(c)
    }
    keep
      .select(viewCols.map(col): _*)
      .unionByName(matched.select(viewCols.map(col): _*))
      .unionByName(pad.select(padProj: _*))
  }

  /** This view as a [[MultiView.Maintainer]] — state is the view frame
    * alone (the L/R table states live in the shared replay). */
  def maintainer(viewCols: Seq[String]): MultiView.Maintainer[DataFrame] =
    new MultiView.Maintainer[DataFrame] {
      def empty(liveL0: DataFrame, liveR0: DataFrame, lPk: Seq[String],
                rPk: Seq[String], lJoinCols: Seq[String]): DataFrame = {
        MultiView.requireViewCols(viewCols, lPk, lJoinCols)
        MultiView.emptyLike(
          directView(liveL0, liveR0, rPk, lJoinCols, viewCols))
      }
      def step(view: DataFrame, ctx: MultiView.BatchCtx): DataFrame =
        stepView(view, ctx, viewCols)
      def pin(view: DataFrame): DataFrame = view.localCheckpoint(false)
      def reRoot(view: DataFrame, to: org.apache.spark.sql.SparkSession)
          : DataFrame = org.apache.spark.sql.graft.bridge.reRoot(view, to)
    }
}
