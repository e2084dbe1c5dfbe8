package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incrementally-maintained INNER equi-join view `V = L ⋈ R` over two
  * changelogs — the join-side counterpart of [[IncrementalAgg]]'s
  * delta-only GROUP BY upkeep. The reference materializes single tables
  * through its handlers (`/root/reference/cdc_manager.go:277-298`); a
  * real consumer almost always joins the fact topic to a dimension topic,
  * and recomputing that join per batch re-reads both full states. This
  * maintains it from deltas.
  *
  * Per micro-batch `(ΔL, ΔR)` the classic delta-join identity:
  * {{{
  *   L' = merge(L, ΔL)            R' = merge(R, ΔR)
  *   V' = V  ∖ (rows with l_pk ∈ keys(ΔL) ∨ joinKey ∈ keys(ΔR))
  *        ∪ live(L')[keys(ΔL)] ⋈ live(R')
  *        ∪ live(L')[∉ keys(ΔL)] ⋈ live(R')[keys(ΔR)]
  * }}}
  * Every touched view row is rebuilt from the POST-merge states, so
  * inserts, updates, deletes, AND late-arriving dimension rows (an order
  * that referenced a customer whose insert hadn't arrived yet simply
  * joins in the batch where the customer shows up) all fall out of one
  * formula — no per-op-type casework.
  *
  * Scale shape: the delta key sets are |Δ|-bounded and broadcast; the two
  * rebuild joins filter the big states down to delta-adjacent rows BEFORE
  * joining (semi/anti on broadcast key sets — scan-side, no shuffle of
  * the full state), so per-batch cost is O(|Δ| + |affected view rows|),
  * never O(|L| + |R|). The |Δ|-bounded contract is ENFORCED, not assumed:
  * key collects are capped at `maxLocalKeys` distinct keys, and a batch
  * that blows the cap (an AvailableNow catch-up over a giant backlog)
  * degrades to fully-distributed key handling — cluster-side distincts,
  * unhinted shuffle joins — instead of OOMing the driver.
  * State and view are `localCheckpoint`ed each batch
  * to truncate the replay lineage — on a real cluster use reliable
  * `checkpoint` (or the parquet/JDBC generation swap in [[CdcStream]])
  * so recovery does not recompute the chain.
  *
  * Keys are `Seq[String]` end to end — single-column covers the
  * reference's gorm-style integer pks, and composite pks (gorm models
  * flattened from multi-field structs, `cdc_utils.go:126-145`) thread
  * through the same joins positionally. */
object JoinView {

  /** Ceiling on the per-batch changed-key count collected to the driver
    * as a LocalRelation. A steady-state micro-batch is far below it; an
    * AvailableNow catch-up batch draining a giant backlog is exactly the
    * case that must NOT be collected — above the cap the maintainers
    * fall back to fully-distributed key handling (cluster-side distinct
    * + unhinted semi/anti joins, where the planner/AQE picks shuffle
    * joins instead of force-broadcasting millions of keys). 100k keys ×
    * a few dozen bytes ≈ single-digit MB of driver heap — comfortably
    * collectable, comfortably broadcastable. */
  val DefaultMaxLocalKeys: Int = 100000

  /** The batch's changed-key sets are |Δ|-bounded, and every downstream
    * use BROADCASTS them (they'd be collected to the driver anyway) — so
    * collect them once as a LocalRelation. Each broadcast of it then
    * builds driver-locally with NO cluster job, which matters for
    * micro-batch latency: a broadcast over a distributed frame serializes
    * a build job into every step.
    *
    * CAPPED: collects at most `cap + 1` distinct keys; above `cap` the
    * |Δ|-bounded contract is violated (catch-up batch over a backlog)
    * and the answer is None — callers must run the distributed path
    * rather than OOM the driver. */
  private[cdc] def localKeys(delta: DataFrame, keys: Seq[String],
                             cap: Int): Option[DataFrame] = {
    val sel = delta.select(keys.map(k => col(s"after.$k").as(k)): _*)
      .distinct() // cluster-side, so the limit below bounds the collect
    val rows = sel.limit(cap + 1).collect().toSeq
    if (rows.size > cap) None
    else Some(delta.sparkSession.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, sel.schema))
  }

  /** The view-specific half of a batch: retract touched view rows, rebuild
    * them from the post-merge live states (the L/R merges and the
    * changed-key sets are the shared [[SnowflakeView.chainStep]]). `viewCols`
    * is the view projection (column names from live(L) ++ live(R); must
    * include `lPk` and `lJoinCols`). An over-cap side of the ctx (the
    * batch blew `maxLocalKeys`) runs the DISTRIBUTED fallback:
    * cluster-side distinct key set, no broadcast hints — per-batch cost
    * degrades gracefully to a shuffle join instead of collecting an
    * unbounded key set onto the driver.
    *
    * Each rebuild join has a |Δ|-bounded side — the semi-join against the
    * broadcast changed-key set leaves at most one row per delta key — so
    * BROADCAST that side. Without the hint Catalyst sees LogicalRDD
    * default stats on both inputs and plans a sort-merge join that
    * shuffles BOTH full states every batch; with it, neither state is
    * ever exchanged: per batch each live state is scanned (broadcast
    * semi/anti prune scan-side) and the join streams. Same |Δ|-bounded-
    * batch contract that already justifies broadcasting the key sets —
    * and the same cap: an over-cap side loses its hints along with its
    * LocalRelation, so a giant backfill batch plans as ordinary
    * distributed joins (callers wanting delta-bounded latency should
    * still split backlogs, as the replays and runners do with cuts).
    *
    * The view is returned un-pinned: view_b is referenced exactly once —
    * by batch b+1's keep branch — and the loops lazily checkpoint it per
    * batch (the maintainer's `pin`) to bound plan depth without
    * scheduling a job. */
  private[cdc] def stepView(view: DataFrame, ctx: MultiView.BatchCtx,
                            viewCols: Seq[String]): DataFrame = {
    import ctx.{changedL, changedR, lLocal, rLocal, lPk, rPk, liveL, liveR,
                hinted}
    // FROM-EMPTY (bootstrap) fold: no view row exists and every live row
    // is a changed row, so keep = ∅, the changed-key restrictions are
    // identities and the R-side rebuild branch is empty — the view is
    // ONE bounded-L join of the post-merge lives. Skipping the keep/
    // restrict joins also never scans the changed-key pins, so a shared
    // chain's key-propagation checkpoints stay unmaterialized on the
    // bootstrap batch (bridge.staticallyEmpty contract: plan-only).
    if (org.apache.spark.sql.graft.bridge.staticallyEmpty(view))
      return ctx.fk.joinBoundedL(liveL, liveR, lLocal)
        .select(viewCols.map(col): _*)
    // pk-side joins stay plain over-cap (both sides pk-unique — no skew);
    // every fk-side join goes through ctx.fk, which salts the over-cap
    // path so a hot dimension key cannot straggle the AQE-off loop
    val keep = ctx.fkFilter(
      view.join(hinted(changedL, lLocal), lPk, "left_anti"), "left_anti")
    val rebuiltL = ctx.fk.joinBoundedL(
      liveL.join(hinted(changedL, lLocal), lPk, "left_semi"), liveR, lLocal)
    val rebuiltR = ctx.fk.joinBoundedR(
      liveL.join(hinted(changedL, lLocal), lPk, "left_anti"),
      liveR.join(hinted(changedR, rLocal), rPk, "left_semi"), rLocal)
    keep
      .select(viewCols.map(col): _*) // using-joins reorder; restore
      .unionByName(rebuiltL.select(viewCols.map(col): _*))
      .unionByName(rebuiltR.select(viewCols.map(col): _*))
  }

  /** This view as a [[MultiView.Maintainer]] — state is the view frame
    * alone (the L/R table states live in the shared replay). */
  def maintainer(viewCols: Seq[String]): MultiView.Maintainer[DataFrame] =
    new MultiView.Maintainer[DataFrame] {
      def empty(liveL0: DataFrame, liveR0: DataFrame, lPk: Seq[String],
                rPk: Seq[String], lJoinCols: Seq[String]): DataFrame = {
        MultiView.requireViewCols(viewCols, lPk, lJoinCols)
        MultiView.emptyLike(
          liveL0.join(liveR0,
              lJoinCols.zip(rPk).map { case (l, r) => col(l) === col(r) }
                .reduce(_ && _))
            .select(viewCols.map(col): _*))
      }
      def step(view: DataFrame, ctx: MultiView.BatchCtx): DataFrame =
        stepView(view, ctx, viewCols)
      def pin(view: DataFrame): DataFrame = view.localCheckpoint(false)
      def reRoot(view: DataFrame, to: org.apache.spark.sql.SparkSession)
          : DataFrame = org.apache.spark.sql.graft.bridge.reRoot(view, to)
    }
}
