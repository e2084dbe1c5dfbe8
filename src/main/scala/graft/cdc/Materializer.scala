package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Changelog -> current-state materialization: the analogue of what every
  * real handler does with the reference's `Create/Update/Delete` callbacks
  * (`/root/reference/cdc_manager.go:277-298`) — upsert into a store with
  * last-writer-wins per primary key.
  *
  * Implementation choice (scale-driven): `groupBy(pk).agg(max_by(...))`
  * rather than a `row_number()` window.
  *
  *  - max_by is a hash aggregate with MAP-SIDE PARTIAL AGGREGATION: each
  *    input partition reduces to at most one row per local key before the
  *    shuffle, so shuffle volume is bounded by |distinct keys|, not |events|.
  *    At 100 TB of changelog with a hot key set this is the difference
  *    between shuffling the log and shuffling the table.
  *  - row_number needs a full sort of every partition and shuffles ALL
  *    events. Same answer, strictly worse plan.
  *
  * Ordering is (ts, seq) — commit timestamp with a per-source monotonic
  * sequence as deterministic tie-break (Maxwell `ts` is epoch SECONDS,
  * `cdc_utils.go:18`, so same-second events are common).
  */
object Materializer {

  /** Meta columns carried by tombstone-aware state tables. */
  val MetaCols: Seq[String] = Seq("__op", "__ts", "__seq")

  /** Pin an events frame for a replay loop. An input that is ALREADY a
    * pinned checkpoint scan (the shared decoded-changelog memos —
    * several replay families consume the same topic) is reused as-is:
    * re-running `localCheckpoint` would copy every block once per
    * consuming family, and at sf0.1 that re-pin was the largest single
    * stage of the shared state build. Anything else (raw generators,
    * fresh lineage, sliced/derived frames) is frozen exactly as
    * before — the checkpoint is what makes nondeterministic inputs
    * replay-stable.
    *
    * LIFETIME: a reused pin is owned by whoever created it (the
    * ChangelogGen memos) — ChangelogGen.clearCache drops those blocks,
    * and a checkpointed RDD cannot recompute afterwards, so the cache
    * may only be cleared at teardown, never while a replay built on a
    * reused pin might still scan it (contract documented on
    * clearCache). */
  private[graft] def pinnedEvents(ev: DataFrame): DataFrame =
    ev.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD
          if r.rdd.getStorageLevel !=
               org.apache.spark.storage.StorageLevel.NONE => ev
      case _ => ev.localCheckpoint()
    }

  /** Fold change events `(op, ts, seq, after)` into a tombstone-RETAINING
    * state: one row per key — including deleted keys, which keep their
    * row image plus `__op = 'delete'`. Retained tombstones are what make
    * incremental merges correct under out-of-order arrival: a stale event
    * older than the delete cannot resurrect the key. The key is read from
    * `after` — valid for every op because deletes carry the row image in
    * `after` (quirk Q4, `cdc_manager.go:249-256`). */
  def compact(events: DataFrame, primaryKey: Seq[String],
              valueCols: Option[Seq[String]] = None): DataFrame = {
    val keyCols = primaryKey.map(k => col(s"after.$k").as(s"__k_$k"))
    // r19 §2.3 (shuffle fewer bytes): max_by_row is a typed-imperative
    // aggregate, OPAQUE to Catalyst's nested-schema pruning — a consumer
    // that reads two fields of the state still shuffles every event's
    // full row image inside the buffers. `valueCols` lets such consumers
    // declare the fields they keep (MUST include the primary key if the
    // output is to carry it); the fold's winner per key is decided by
    // (ts, seq) either way, so the surviving values are bit-identical
    // to a full fold followed by a projection.
    val afterExpr = valueCols
      .map(cs => struct(cs.map(c => col(s"after.$c").as(c)): _*).as("after"))
      .getOrElse(col("after"))
    // r19: max_by_row, not max_by — the built-in's aggregation buffer
    // holds the row struct, which is not UnsafeRow-mutable, so Spark
    // silently planned SORTAggregate (per-partition sorts of the full
    // log on both sides of the exchange — the very shape the note above
    // rejects). The typed-imperative argmax keeps the documented
    // contract for real: hash aggregation with map-side partials,
    // shuffle bounded by |keys|, no sort anywhere. Tie behavior is
    // irrelevant here because (ts, seq) is unique per key; parity with
    // max_by is spec'd (MaxByRowSpec) and probed (CompactProbe).
    events
      .groupBy(keyCols: _*)
      .agg(graft.functions.MaxByRow.max_by_row(
             struct(col("op"), col("ts"), col("seq"), afterExpr),
             struct(col("ts"), col("seq"))).as("last"))
      .select(col("last.after.*"), col("last.op").as("__op"),
              col("last.ts").as("__ts"), col("last.seq").as("__seq"))
  }

  /** Live view of a tombstone-aware state frame. */
  def liveView(state: DataFrame): DataFrame =
    state.filter(col("__op") =!= "delete").drop(MetaCols: _*)

  /** Tombstone-aware state back into event form for re-merging. */
  def stateAsEvents(state: DataFrame): DataFrame = {
    val imageCols = state.columns.filterNot(MetaCols.contains)
    state.select(col("__op").as("op"), col("__ts").as("ts"),
      col("__seq").as("seq"),
      struct(imageCols.map(col).toSeq: _*).as("after"))
  }

  /** Fold a batch of change events into the current state: one row per
    * key, deletes removed. */
  def currentState(events: DataFrame, primaryKey: Seq[String],
                   valueCols: Option[Seq[String]] = None): DataFrame =
    liveView(compact(events, primaryKey, valueCols))

  /** SCD2 history: every insert/update event becomes a VERSION row carrying
    * the full image plus a `[valid_from, valid_to)` interval; a delete
    * terminates its key's last open version (the delete itself emits no
    * row — the reference's delete callback has no image to keep current,
    * `cdc_manager.go:294-298`). `is_current` marks still-open versions.
    *
    * Scale shape: ONE shuffle by pk + per-key sort for the `lead` window —
    * unavoidable for interval stitching (each version needs its successor's
    * ts), and strictly |events|-bounded. Unlike [[compact]] there is no
    * map-side reduction to exploit: every event row IS an output row. */
  def history(events: DataFrame, primaryKey: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(primaryKey.map(k => col(s"after.$k")): _*)
      .orderBy(col("ts"), col("seq"))
    events
      .withColumn("__next_ts", lead(col("ts"), 1).over(w))
      .filter(col("op") =!= "delete")
      .select(col("after.*"),
              col("ts").as("valid_from"),
              col("__next_ts").as("valid_to"),
              col("__next_ts").isNull.as("is_current"))
  }

  /** Point-in-time lookup over a [[history]] frame: the live rows AS OF
    * `ts` (versions whose interval covers it). With the history stored
    * partitioned/ordered this prunes to an interval scan — the batch
    * analogue of time-travel reads. */
  def asOf(history: DataFrame, ts: Long): DataFrame =
    history
      .filter(col("valid_from") <= ts &&
              (col("valid_to").isNull || col("valid_to") > ts))
      .drop("valid_from", "valid_to", "is_current")

  /** Merge a batch of change events into existing tombstone-aware state —
    * the `foreachBatch` upsert body for streaming (SURVEY.md §7 stage 3).
    * TRUE last-writer-wins by (ts, seq): a late-arriving event older than
    * what the state already holds for its key (including a tombstone)
    * loses, so streaming materialization converges to the same answer as
    * a batch fold over the full log regardless of arrival order.
    *
    * Delta-restricted plan: `state' = state[∉ keys(Δ)] ∪
    * compact(state[keys(Δ)] ∪ Δ)`. Rows whose key the batch never touched
    * pass through a scan-side anti-join UNCHANGED — the full state is
    * never shuffled or re-aggregated; the only exchange is the compact
    * over the |Δ|-bounded touched set.
    *
    * The key-set joins carry NO broadcast hint: a pre-collected
    * LocalRelation (JoinView's path) has accurate stats and broadcasts
    * statically when small, and for unbounded catch-up batches (a
    * streaming sink draining a long backlog in one AvailableNow batch)
    * the planner/AQE falls back to a shuffle join instead of
    * force-broadcasting millions of keys into an OOM.
    *
    * Key joins are NULL-SAFE: a decode failure can yield after.pk = NULL
    * (try_* casts), and the old global compact grouped all null keys into
    * ONE state row. Null-unsafe anti/semi joins would let null-key rows
    * bypass both branches and accumulate one duplicate per batch; <=>
    * keeps them flowing into the touched compact whenever the batch
    * carries null-key events.
    *
    * Tombstones older than `tombstoneRetentionTs` are dropped (state-size
    * control; safe once the source cannot deliver events older than it). */
  /** SEED a state table from a batch SNAPSHOT (parquet extract, JDBC
    * dump) for the backfill -> live handoff: every snapshot row becomes a
    * live state row stamped `(insert, ts0, 0)`. Because [[merge]] is
    * last-writer-wins by `(ts, seq)`, the changelog can then simply be
    * replayed from any offset at or before the snapshot: events with
    * `ts < ts0` (already reflected in the snapshot) LOSE to the seed
    * stamp automatically, events after it win — no manual offset
    * alignment beyond choosing `ts0` = the snapshot's consistent-read
    * timestamp. Events AT `ts0` need `seq > 0` to win, which Maxwell's
    * per-second `ts` satisfies for any in-flight stream position. The
    * reference has no bootstrap story at all (a consumer group simply
    * starts at earliest/latest, `cdc_manager.go:109-130`); this is the
    * standard Maxwell-bootstrap / snapshot-plus-binlog pattern. */
  def seed(snapshot: DataFrame, ts0: Long): DataFrame =
    snapshot.select(snapshot.columns.map(col) ++
      Seq(lit("insert").as("__op"), lit(ts0).as("__ts"),
          lit(0L).as("__seq")): _*)

  /** Is `to` a LOSSLESS widening of `from`? The absorbable half of an
    * upstream ALTER MODIFY COLUMN — the coercions TiDB routinely emits
    * and the reference's decode absorbs by coercing every payload into
    * the declared type (`cdc_utils.go:96-123`): integral promotions
    * (TINYINT→…→BIGINT), FLOAT→DOUBLE, DECIMAL growing in BOTH integer
    * digits and scale, integral→DECIMAL wide enough to hold every value,
    * and small-integral→DOUBLE (exact below 2^53; LONG→DOUBLE is lossy
    * and therefore NOT a widening). VARCHAR(n) widening is invisible
    * here — Spark models all of them as STRING. */
  private[graft] def widensTo(from: org.apache.spark.sql.types.DataType,
                              to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def intRank(t: DataType): Option[Int] = t match {
      case ByteType => Some(1); case ShortType => Some(2)
      case IntegerType => Some(3); case LongType => Some(4); case _ => None
    }
    def intDigits(t: DataType): Int = t match {
      case ByteType => 3; case ShortType => 5; case IntegerType => 10
      case _ => 19
    }
    (from, to) match {
      case (f, t) if f == t => true
      case (f, t) if intRank(f).isDefined && intRank(t).isDefined =>
        intRank(f).get < intRank(t).get
      case (FloatType, DoubleType) => true
      case (f, DoubleType) if intRank(f).exists(_ <= 3) => true // ≤ INT exact
      case (d1: DecimalType, d2: DecimalType) =>
        d2.scale >= d1.scale &&
          d2.precision - d2.scale >= d1.precision - d1.scale
      case (f, d: DecimalType) if intRank(f).isDefined =>
        d.precision - d.scale >= intDigits(f)
      case _ => false
    }
  }

  def merge(state: DataFrame, events: DataFrame, primaryKey: Seq[String],
            tombstoneRetentionTs: Long = Long.MinValue,
            changedKeys: Option[DataFrame] = None,
            allowEvolution: Boolean = false,
            renamedColumns: Map[String, String] = Map.empty): DataFrame = {
    // RENAME evolution (upstream ALTER TABLE RENAME COLUMN): the version
    // map `old name -> new name` re-keys the PRIOR state's columns before
    // anything else, so a renamed column keeps its history instead of
    // surfacing as drop-old + add-new (which would NULL every pre-ALTER
    // value). `primaryKey` refers to the NEW names.
    require(renamedColumns.isEmpty || allowEvolution,
      "merge: renamedColumns is schema evolution; pass allowEvolution=true")
    val st0 =
      if (renamedColumns.isEmpty) state
      else {
        val have = state.columns.toSet
        // idempotent across batches: once the first evolved merge lands,
        // the state already carries the new names — an entry whose old
        // name is gone but whose NEW name is present is already applied;
        // an entry matching neither is a typo and must fail loudly
        val dangling = renamedColumns.collect {
          case (o, n) if !have(o) && !have(n) => s"$o -> $n"
        }
        require(dangling.isEmpty,
          s"merge: renamedColumns entr${if (dangling.size == 1) "y" else "ies"} " +
            s"${dangling.mkString(", ")} match no state column (state has " +
            s"${state.columns.mkString(", ")})")
        val applicable = renamedColumns.filter { case (o, _) => have(o) }
        if (applicable.isEmpty) state
        else {
          val target = state.columns.map(c => applicable.getOrElse(c, c))
          require(target.distinct.length == target.length,
            s"merge: renamedColumns collides with existing column names")
          state.select(state.columns.toSeq.map(c =>
            col(c).as(applicable.getOrElse(c, c))): _*)
        }
      }
    val evts = events.select("op", "ts", "seq", "after")
    // MODIFY-COLUMN evolution (upstream ALTER ... MODIFY widening a
    // type — INT→BIGINT, DECIMAL(10,2)→DECIMAL(14,2), FLOAT→DOUBLE):
    // with `allowEvolution`, a common column whose EVENT type is a
    // lossless widening of the STATE type ([[widensTo]]) casts the prior
    // state up front, so old generations read back in the new type and
    // every downstream join/compact sees one type. Anything else —
    // narrowing (the state may already hold values the new type cannot),
    // or an incompatible change — fails loudly, evolution or not: the
    // analyzer's implicit union coercion would otherwise silently widen
    // in WHICHEVER direction, masking a narrowing ALTER as a no-op.
    val evtsFields = evts.schema("after").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fields.map(f => f.name -> f.dataType).toMap
    val typeChanged = st0.schema.fields
      .filterNot(f => MetaCols.contains(f.name))
      .flatMap(f => evtsFields.get(f.name).collect {
        case t if t != f.dataType => (f.name, f.dataType, t) })
    val st1 =
      if (typeChanged.isEmpty) st0
      else {
        val bad = typeChanged.filterNot { case (_, from, to) =>
          widensTo(from, to) }
        require(bad.isEmpty,
          s"merge: non-widening type change${if (bad.length == 1) "" else "s"} " +
            bad.map { case (c, f, t) => s"$c: ${f.simpleString} -> " +
              s"${t.simpleString}" }.mkString(", ") +
            " — narrowing/incompatible ALTERs cannot be absorbed " +
            "(state may hold values outside the new type); re-seed the state")
        require(allowEvolution,
          s"merge: column type${if (typeChanged.length == 1) "" else "s"} " +
            "widened upstream (" +
            typeChanged.map { case (c, f, t) => s"$c: ${f.simpleString} -> " +
              s"${t.simpleString}" }.mkString(", ") +
            "); pass allowEvolution=true to absorb the widening")
        val widen = typeChanged.map { case (c, _, t) => c -> t }.toMap
        st0.select(st0.columns.toSeq.map(c =>
          widen.get(c).map(col(c).cast(_).as(c)).getOrElse(col(c))): _*)
      }
    // FROM-EMPTY (bootstrap) fold: against a statically-empty state the
    // anti/semi key joins and the state-side union below are pure plan
    // overhead — state' = compact(Δ), identical semantics and column
    // order (the general path's union aligns to the state's columns).
    // Guarded on exact schema compatibility so a shape mismatch still
    // falls through to the general path and fails as loudly as before
    // (bridge.staticallyEmpty contract: plan-only, never semantics).
    if (org.apache.spark.sql.graft.bridge.staticallyEmpty(state)) {
      val m = compact(evts, primaryKey)
      val outCols =
        if (allowEvolution)
          evts.schema("after").dataType
            .asInstanceOf[org.apache.spark.sql.types.StructType]
            .fieldNames.toSeq ++ MetaCols
        else st1.columns.toSeq
      val mFields = m.schema.fields.map(f => f.name -> f.dataType).toMap
      val aligned =
        if (outCols.forall(c => mFields.contains(c)) &&
            (allowEvolution || st1.schema.fields.forall(f =>
              mFields.get(f.name).contains(f.dataType))) &&
            outCols.size == m.columns.length)
          Some(m.select(outCols.map(col): _*))
        else None // shape mismatch: general path below fails loudly
      aligned match {
        case Some(res) =>
          return if (tombstoneRetentionTs == Long.MinValue) res
                 else res.filter(col("__op") =!= "delete" ||
                                 col("__ts") >= tombstoneRetentionTs)
        case None => ()
      }
    }
    // callers that already hold the batch's changed-key set (e.g.
    // SnowflakeView.chainStep collects it once as a LocalRelation, making the
    // two key joins below driver-local broadcasts — no build job) pass it
    // in; otherwise derive it from the batch
    val ck = changedKeys.getOrElse(evts
      .select(primaryKey.map(k => col(s"after.$k").as(k)): _*).distinct())
      .alias("__ck")
    val st = st1.alias("__st")
    val keyCond = primaryKey
      .map(k => col(s"__st.$k") <=> col(s"__ck.$k")).reduce(_ && _)
    val untouched0 = st.join(ck, keyCond, "left_anti")
    val touched = st.join(ck, keyCond, "left_semi")
    // SCHEMA EVOLUTION (upstream ALTER TABLE, the drift the
    // cdc_schema_drift monitor flags): with `allowEvolution` the EVENTS'
    // image schema is the new generation's schema —
    //  - ADD COLUMN: the union fills the state side with NULL, so a state
    //    built before the new column simply reports NULL for pre-ALTER
    //    rows (exactly what the source database says about them);
    //  - DROP COLUMN: state-only columns are projected away after the
    //    last-writer-wins compact (they still break ties correctly while
    //    present), so the merged generation narrows with the source
    //    instead of carrying a stale always-NULL-for-new-rows column.
    // Off by default: an unexpected shape mismatch should fail loudly
    // unless evolution is opted into.
    val rawMerged = compact(
      stateAsEvents(touched).unionByName(evts, allowEvolution), primaryKey)
    val merged =
      if (!allowEvolution) rawMerged
      else {
        val target = evts.schema("after").dataType
          .asInstanceOf[org.apache.spark.sql.types.StructType]
          .fieldNames.toSeq ++ MetaCols
        rawMerged.select(target.map(col): _*)
      }
    // align the untouched branch to the merged (evolved) schema
    val untouched =
      if (!allowEvolution) untouched0
      else {
        val have = untouched0.columns.toSet
        untouched0.select(merged.columns.toSeq.map(c =>
          if (have(c)) col(c)
          else lit(null).cast(merged.schema(c).dataType).as(c)): _*)
      }
    val all = untouched.unionByName(merged)
    if (tombstoneRetentionTs == Long.MinValue) all
    else all.filter(col("__op") =!= "delete" ||
                    col("__ts") >= tombstoneRetentionTs)
  }

  /** Classified schema drift between a PERSISTED tombstone-aware state
    * generation and the CURRENT spec's expected state image — the
    * ALTER-mid-stream detector the maintained-view restore paths share.
    * `renamed` holds the [[TableSpec.renamedColumns]] entries that still
    * apply to the persisted generation (old name present, new absent);
    * `widened`/`narrowed` split type changes by [[widensTo]]. MetaCols
    * are excluded (they never drift). */
  final case class StateDrift(
      added: Seq[StructField], dropped: Seq[StructField],
      renamed: Map[String, String],
      widened: Seq[(String, DataType, DataType)],
      narrowed: Seq[(String, DataType, DataType)]) {
    def isEmpty: Boolean = added.isEmpty && dropped.isEmpty &&
      renamed.isEmpty && widened.isEmpty && narrowed.isEmpty
    /** Column names a maintained view's state could be BUILT OVER and
      * therefore cannot survive in place: dropped columns and both
      * sides of a rename (a view's persisted state keys by the OLD
      * name; nothing can re-key it generically). */
    def hazardCols: Set[String] =
      dropped.map(_.name).toSet ++ renamed.keySet ++ renamed.values
    def describe: String = Seq(
      if (added.isEmpty) "" else "added " +
        added.map(f => s"${f.name}:${f.dataType.simpleString}")
          .mkString(", "),
      if (dropped.isEmpty) "" else "dropped " +
        dropped.map(_.name).mkString(", "),
      if (renamed.isEmpty) "" else "renamed " +
        renamed.map { case (o, n) => s"$o -> $n" }.mkString(", "),
      if (widened.isEmpty) "" else "widened " +
        widened.map { case (c, f, t) =>
          s"$c: ${f.simpleString} -> ${t.simpleString}" }.mkString(", "),
      if (narrowed.isEmpty) "" else "NARROWED " +
        narrowed.map { case (c, f, t) =>
          s"$c: ${f.simpleString} -> ${t.simpleString}" }.mkString(", ")
    ).filter(_.nonEmpty).mkString("; ")
  }

  /** Diff a persisted state schema against the expected one (both carry
    * MetaCols). Rename entries whose old name is ALREADY gone and new
    * name present are treated as applied (idempotent across restarts,
    * the [[merge]] renamedColumns discipline). */
  def stateDrift(persisted: StructType, expected: StructType,
                 renamedColumns: Map[String, String] = Map.empty)
      : StateDrift = {
    val oldFields = persisted.fields.filterNot(f => MetaCols.contains(f.name))
    val newFields = expected.fields.filterNot(f => MetaCols.contains(f.name))
    val oldNames = oldFields.map(_.name).toSet
    val applicable = renamedColumns.filter { case (o, n) =>
      oldNames(o) && !oldNames(n) }
    val oldMap = oldFields
      .map(f => applicable.getOrElse(f.name, f.name) -> f.dataType).toMap
    val newMap = newFields.map(f => f.name -> f.dataType).toMap
    val added = newFields.filterNot(f => oldMap.contains(f.name)).toSeq
    val dropped = oldFields
      .filterNot(f => newMap.contains(applicable.getOrElse(f.name, f.name)))
      .toSeq
    val changed = newFields.toSeq.flatMap { f =>
      oldMap.get(f.name).collect {
        case t if t != f.dataType => (f.name, t, f.dataType) }
    }
    val (wide, narrow) = changed.partition { case (_, f, t) => widensTo(f, t) }
    StateDrift(added, dropped, applicable, wide, narrow)
  }

  /** Align a persisted state frame to the expected (post-ALTER) image
    * schema: apply the still-applicable renames, cast widened columns
    * up, fill added columns with NULL (the source database's own answer
    * for pre-ALTER rows), and project dropped columns away — the ONE
    * evolution transform every maintained-face restore applies before
    * its strict merge, so `preState`/`postState` reach maintainers in
    * the current generation's shape. Callers must refuse
    * `drift.narrowed` first (the state may hold values outside the new
    * type). */
  def alignState(state: DataFrame, expected: StructType,
                 drift: StateDrift): DataFrame = {
    require(drift.narrowed.isEmpty,
      s"alignState: narrowing drift cannot be absorbed: ${drift.describe}")
    val renamed =
      if (drift.renamed.isEmpty) state
      else state.select(state.columns.toSeq.map(c =>
        col(c).as(drift.renamed.getOrElse(c, c))): _*)
    val have = renamed.columns.toSet
    renamed.select(expected.fields.toSeq.map { f =>
      if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }
}
