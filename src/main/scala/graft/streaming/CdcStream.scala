package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.Row
import graft.cdc.{Materializer, Maxwell, RowDecoder, TableSpec}
import graft.cdc.MultiView.emptyLike

/** Structured-Streaming CDC pipeline — the streaming analogue of the
  * reference's consume loop (`/root/reference/cdc_manager.go:109-299`),
  * re-expressed as: source -> Maxwell parse -> typed decode -> op routing
  * -> `foreachBatch` upsert into materialized state.
  *
  * Source is pluggable by config, not code: `fileChangelog` reads JSON
  * lines from a directory (sandbox- and test-friendly), and the same
  * pipeline runs off `spark.readStream.format("kafka")` by swapping the
  * source DataFrame (the reference's Kafka consumer group, R1/R15).
  * Offsets/exactly-once: Spark's checkpoint WAL replaces the reference's
  * manual `MarkMessage` at-least-once commit (R14) — with an idempotent
  * upsert the state table is effectively-once.
  *
  * Scale notes: the per-batch merge shuffles only the BATCH by key after
  * `currentState` compaction (events-per-key collapse map-side); state is
  * re-written per batch here (parquet has no upsert) — on a cluster the
  * state table would be bucketed by pk so the merge join is shuffle-free,
  * or held in an upsert-capable sink (Delta/Iceberg MERGE, JDBC upsert per
  * BASELINE.json's `spark_approach`).
  */
object CdcStream {

  /** Streaming Maxwell envelope from a directory of JSON-line files. */
  def fileChangelog(spark: SparkSession, dir: String): DataFrame = {
    val lines = spark.readStream
      .schema("value STRING")
      .format("text")
      .load(dir)
    Maxwell.parseEnvelopeCol(lines, col("value"))
  }

  /** Kafka variant — identical downstream pipeline, different source line
    * (not runnable in this sandbox; kept as the production entry point).
    * `options` passes consumer/reader extras through (SASL, minPartitions,
    * isolation level — see Sources.streamKafka). */
  def kafkaChangelog(spark: SparkSession, bootstrap: String,
                     topic: String, startingOffsets: String = "earliest",
                     options: Map[String, String] = Map.empty): DataFrame = {
    val raw = graft.sources.Sources.streamKafka(
      spark, bootstrap, topic, startingOffsets, options)
    Maxwell.parseEnvelopeCol(raw, col("value"))
  }

  /** Typed change events for one registered table (streaming-safe: all
    * narrow ops). `seq` falls back to 0 — file/Kafka ordering within a
    * commit ts is then non-deterministic, exactly like the reference.
    * Dispatches on the envelope shape: variant fast path only when the
    * envelope carries a `v` column whose type is actually VARIANT (a
    * classic envelope with an unrelated passthrough column that happens
    * to be named `v` must NOT be misrouted into the variant decoder),
    * classic from_json decode otherwise. */
  def changeEvents(envelope: DataFrame, spec: TableSpec): DataFrame =
    if (envelope.schema.fields.exists(f =>
          f.name == "v" &&
          f.dataType == org.apache.spark.sql.types.VariantType))
      RowDecoder.changeEventsVariant(envelope, spec)
    else RowDecoder.changeEvents(envelope, spec)

  /** Generation-swap machinery shared by every parquet state/view sink
    * (materialized state, join view, top-k view — ONE implementation, so
    * a fix to the swap invariant lands everywhere at once).
    *
    * Invariant: at every instant at least one COMPLETE generation (`dst`
    * or `dst + ".old"`) exists — the stale `.old` is only deleted when a
    * current `dst` is present to demote, so even a crash while
    * recovering from a previous crash keeps a readable generation for
    * the next replay. A crash mid-swap loses only the uncommitted batch,
    * which Spark's checkpoint replays against the demoted generation.
    *
    * NOTE: requires a filesystem with atomic directory rename
    * (HDFS/local). On object stores (s3a) rename is a non-atomic copy —
    * point the path at HDFS, or swap these sinks for a transactional
    * table format there. */
  private def swapGeneration(spark: SparkSession, dstPath: String)
                            (writeTmp: String => Unit): Unit = {
    val dst = new org.apache.hadoop.fs.Path(dstPath)
    // resolve the filesystem FROM the path (it may live on a different
    // scheme than fs.defaultFS — s3a state with hdfs default)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(dstPath + ".old")
    val tmp = new org.apache.hadoop.fs.Path(dstPath + ".tmp")
    // rename/delete return false on several failure modes instead of
    // throwing; a swallowed false here would let the checkpoint commit
    // a batch whose state was never promoted
    def must(ok: Boolean, what: String): Unit =
      if (!ok) throw new java.io.IOException(s"generation swap failed: $what")
    // a writer that died MID-writeTmp leaves a partial tmp directory;
    // the next writer must start from a clean slate — stale files (a
    // half-written state, an old applied marker, a crashed retrain's
    // pending marker) would otherwise silently ride into the promoted
    // generation alongside the fresh writes
    if (fs.exists(tmp))
      must(fs.delete(tmp, true), s"clear stale $tmp")
    writeTmp(tmp.toString)
    if (fs.exists(dst)) {
      if (fs.exists(old))
        must(fs.delete(old, true), s"delete $old") // dst still readable
      must(fs.rename(dst, old), s"rename $dst -> $old") // crash -> .old
    }
    must(fs.rename(tmp, dst), s"rename $tmp -> $dst")
  }

  /** LOUD refusal for the NON-EVOLVABLE restore paths (the multi-view
    * and snowflake runners): their maintained states key by the decoded
    * columns and cannot evolve in place, so any schema drift between a
    * persisted table state and the current spec refuses naming the drift
    * and the rebuild recipe instead of surfacing as an opaque mid-plan
    * union/analysis error.
    * The single-topic [[maintainTableViewsToParquet]] path is the one
    * with an ABSORB contract (`allowEvolution`). */
  private def refuseStateDrift(persisted: DataFrame, delta: DataFrame,
                               spec: TableSpec, surface: String,
                               rootPath: String): Unit = {
    val expected = Materializer.compact(delta.limit(0), spec.primaryKey)
    val drift = Materializer.stateDrift(persisted.schema, expected.schema,
                                        spec.renamedColumns)
    require(drift.isEmpty,
      s"$surface: the persisted state for ${spec.database}.${spec.table} " +
        s"at $rootPath was built under a different table schema " +
        s"[${drift.describe}] — schema evolution is not supported on " +
        s"this path (its states cannot evolve in place). Rebuild: stop " +
        s"the stream, delete $rootPath and the checkpoint, and replay " +
        s"the changelog under the new spec (maintainTableViewsToParquet " +
        s"is the surface with an allowEvolution absorb contract)")
  }

  /** Name of the per-generation applied-batch marker. foreachBatch
    * commits the checkpoint AFTER the batch body returns, so a crash in
    * the window [generation swapped, checkpoint committed] replays the
    * batch against the ALREADY-folded state on restart. The merge-based
    * maintainers are idempotent under that replay (Materializer.merge is
    * last-writer-wins by (ts, seq); the join/top-k views are rebuilt from
    * merged states; JoinAggView's retract/insert cancels over identical
    * pre/post states) — but the FOLD-based maintainers (pair
    * multiplicities, moments) would double-count the delta. Each
    * generation therefore records the batchId that produced it; a batch
    * that finds its own id on the live generation skips the fold
    * entirely, upgrading the fold maintainers from at-least-once to
    * exactly-once application. */
  private def appliedMarker(batchId: Long): String = s"_applied_$batchId"

  private def isApplied(spark: SparkSession, genRoot: String,
                        batchId: Long): Boolean = {
    val p = new org.apache.hadoop.fs.Path(genRoot, appliedMarker(batchId))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def writeMarker(spark: SparkSession, dir: String,
                          batchId: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, appliedMarker(batchId))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p).close()
  }

  /** CDC OUT — the maintained view's OWN changelog: full-outer diff of
    * two generations of a keyed view into (key…, op, before, after)
    * change events, so downstream consumers can subscribe to a DERIVED
    * topic instead of re-reading the view ("cascade" views — the
    * reference's handler callbacks, one level up). Both inputs are
    * O(|groups|)-small view generations, so the diff is a tiny keyed
    * join; unchanged rows are filtered by a null-safe whole-row struct
    * compare. */
  private[graft] def viewDelta(prev: DataFrame, next: DataFrame,
                               keyCols: Seq[String]): DataFrame = {
    val pRow = struct(prev.columns.map(c => col(s"__p.$c")): _*)
    val nRow = struct(next.columns.map(c => col(s"__n.$c")): _*)
    val p = prev.withColumn("__pp", lit(true)).alias("__p")
    val n = next.withColumn("__np", lit(true)).alias("__n")
    val cond = keyCols.map(k => col(s"__p.$k") <=> col(s"__n.$k"))
      .reduce(_ && _)
    p.join(n, cond, "full_outer")
      .withColumn("op",
        when(col("__p.__pp").isNull, "insert")
          .when(col("__n.__np").isNull, "delete")
          .otherwise("update"))
      .filter(col("op") =!= "update" || !(pRow <=> nRow))
      .select(keyCols.map(k =>
          coalesce(col(s"__n.$k"), col(s"__p.$k")).as(k)) ++
        Seq(col("op"),
            when(col("__p.__pp").isNotNull, pRow).as("before"),
            when(col("__n.__np").isNotNull, nRow).as("after")): _*)
  }

  /** Write one changelog batch directory (`.../changes/batch=<id>`).
    * The `_SUCCESS` marker IS the per-batch commit record
    * ([[committedBatchIds]] treats unmarked directories as not yet
    * existing), so the writer FORCES marker emission for this write even
    * when the session/cluster disables it globally
    * (`mapreduce.fileoutputcommitter.marksuccessfuljobs=false` is common
    * with cloud committers) — per-write options land on this job's
    * hadoop conf only. Belt and braces: verify the marker actually
    * landed and fail the PRODUCING batch if not, because a committed-
    * but-markerless directory would be permanently invisible to every
    * consumer while looking like a successful write. */
  private def writeChangesBatch(delta: DataFrame, dir: String): Unit = {
    delta.coalesce(1).write.mode("overwrite")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "true")
      .parquet(dir)
    val marker = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    val fs = marker.getFileSystem(
      delta.sparkSession.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker))
      throw new IllegalStateException(
        s"changelog batch at $dir was written without its _SUCCESS " +
          "marker (output committer suppressed it); consumers would " +
          "never see this batch — failing the producer")
  }

  /** Batch directories under `root/changes` that are COMMITTED — i.e.
    * carry the writer's `_SUCCESS` marker. A `batch=<id>` directory is
    * written file-by-file (non-atomic); a consumer listing concurrently
    * with a producer can see a TORN directory whose parquet files are
    * incomplete. The marker is written last by the output committer, so
    * it IS the per-batch commit record: consumers must treat unmarked
    * directories as not-yet-existing. (The producer is sequential, so a
    * torn directory is always the newest — filtering it never creates a
    * gap in the committed prefix.) */
  private def committedBatchIds(spark: SparkSession,
                                rootPath: String): Seq[Long] = {
    val chDir = new org.apache.hadoop.fs.Path(s"$rootPath/changes")
    val fs = chDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(chDir)) Seq.empty
    else fs.listStatus(chDir).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (!name.startsWith("batch=")) None
      else scala.util.Try(name.stripPrefix("batch=").toLong).toOption
        .filter(_ => fs.exists(
          new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
    }.sorted
  }

  /** Read a maintained view's emitted changelog (see [[viewDelta]]):
    * one row per view change, with the producing `batch` id as a
    * partition column. Exactly-once by construction: each batch
    * overwrites its own `batch=<id>` directory, and the applied-batch
    * marker keeps a crash-replayed batch from re-diffing against the
    * post-fold view. Only COMMITTED batch directories are read (see
    * [[committedBatchIds]]) — a torn directory a concurrent producer is
    * mid-writing is invisible, both to the rows AND to the parquet
    * footer reads schema inference performs. */
  def readViewChanges(spark: SparkSession, rootPath: String): DataFrame = {
    val ids = committedBatchIds(spark, rootPath)
    if (ids.isEmpty)
      throw new IllegalStateException(
        s"readViewChanges: no committed batches under $rootPath/changes")
    readViewChanges(spark, rootPath, ids)
  }

  /** [[readViewChanges]] over an EXPLICIT batch-id set — for consumers
    * that must act on exactly ONE listing: [[applyViewChangesToJdbc]]
    * records `__progress` against the ids it listed, so re-listing
    * inside the read could pick up a batch committed in between — its
    * rows would be applied but not covered by the recorded progress,
    * and re-applied on the next call. */
  def readViewChanges(spark: SparkSession, rootPath: String,
                      ids: Seq[Long]): DataFrame = {
    require(ids.nonEmpty,
      s"readViewChanges: empty batch id set for $rootPath/changes")
    spark.read.option("basePath", s"$rootPath/changes")
      .parquet(ids.map(id => s"$rootPath/changes/batch=$id"): _*)
  }

  /** Adapt a maintained view's emitted changelog ([[readViewChanges]]
    * shape: `key…, op, before, after, batch`) into the standard decoded
    * change-event shape (`op, ts, seq, before, after, changed_cols`) —
    * so the SAME maintainers ([[graft.cdc.Materializer]],
    * [[graft.cdc.IncrementalAgg]], …) run one level up and views
    * CASCADE: a derived view subscribes to a view's changelog exactly as
    * the first-level view subscribes to the table's. Mapping: `ts` =
    * producing batch id (the derived topic's logical time; a view key
    * changes at most once per batch, so `seq` is constant); a delete's
    * row image moves to `after` (quirk-Q4 convention the maintainers
    * expect); `changed_cols` lists every image column — [[viewDelta]]
    * diffs WHOLE rows, so before images are full, never Q3-partial. */
  def changelogAsEvents(changes: DataFrame): DataFrame = {
    val imgCols = changes.schema("after").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
    changes.select(
      col("op"), col("batch").cast("long").as("ts"), lit(0L).as("seq"),
      col("before"),
      when(col("op") === "delete", col("before")).otherwise(col("after"))
        .as("after"),
      array(imgCols.map(lit(_)): _*).as("changed_cols"))
  }

  /** Retention for the emitted changelog: drop `changes/batch=<id>`
    * directories with id < `keepFrom`. The changes log grows one
    * directory per batch forever; production trims it to the
    * time-travel horizon it actually serves (consumers that need older
    * history have already drained it — the log is exactly-once, so a
    * consumer's own offset is a safe `keepFrom`). Returns the number of
    * batch directories removed. */
  def pruneViewChanges(spark: SparkSession, rootPath: String,
                       keepFrom: Long): Int = {
    val dir = new org.apache.hadoop.fs.Path(s"$rootPath/changes")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) 0
    else fs.listStatus(dir).toSeq.count { st =>
      val name = st.getPath.getName
      name.startsWith("batch=") &&
        scala.util.Try(name.stripPrefix("batch=").toLong).toOption
          .exists(id => id < keepFrom && fs.delete(st.getPath, true))
    }
  }

  /** RETENTION POLICY driver over [[compactViewChanges]]: when the
    * retained changelog exceeds `maxBatches` committed batch
    * directories, fold everything older than the newest `keepBatches`
    * into one snapshot; below the threshold it is a no-op, so it is
    * safe (and cheap — one directory listing) to call after every
    * emitted batch. This bounds the log at O(|face| + keepBatches
    * deltas) instead of O(all history) without an operator in the
    * loop. `keepBatches` is the caller's time-travel/consumer horizon:
    * it must cover every incremental consumer's unapplied tail —
    * [[applyViewChangesToJdbc]] refuses loudly if a snapshot lands
    * inside its range, so a mis-sized policy fails fast rather than
    * corrupting a serving table. SINGLE COMPACTOR assumption (the
    * producer's foreachBatch, where the retention wiring runs, is
    * naturally serialized): the healing sweep below deletes
    * uncommitted side directories, which would corrupt a compaction
    * another process is writing concurrently. Returns the number of
    * prefix batch directories removed (0 when under threshold). */
  def compactIfNeeded(spark: SparkSession, rootPath: String,
                      keepBatches: Int, maxBatches: Int): Int = {
    require(keepBatches >= 0 && maxBatches > keepBatches,
      s"compactIfNeeded: need maxBatches ($maxBatches) > keepBatches " +
        s"($keepBatches) >= 0")
    val chDir = new org.apache.hadoop.fs.Path(s"$rootPath/changes")
    val fs = chDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // finish any swap a previous run left mid-flight first: the policy
    // picks a FRESH horizon each call, so a stranded committed side for
    // an older horizon would otherwise never meet its healing
    // compactViewChanges(upTo) again and leak forever
    if (fs.exists(chDir)) fs.listStatus(chDir).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("compact_tmp_"))
        scala.util.Try(name.stripPrefix("compact_tmp_").toLong).foreach {
          upTo =>
            if (fs.exists(new org.apache.hadoop.fs.Path(st.getPath,
                                                        "_SUCCESS")))
              compactViewChanges(spark, rootPath, upTo)
            else fs.delete(st.getPath, true) // uncommitted side write
        }
    }
    val ids = committedBatchIds(spark, rootPath)
    if (ids.size <= maxBatches) 0
    else compactViewChanges(spark, rootPath, ids(ids.size - 1 - keepBatches))
  }

  /** Committed batch ids whose directory carries the `_snapshot` marker
    * — batches REWRITTEN by [[compactViewChanges]] to hold the full
    * as-of face instead of a delta. */
  private def snapshotIds(spark: SparkSession, rootPath: String): Seq[Long] =
    committedBatchIds(spark, rootPath).filter { id =>
      val p = new org.apache.hadoop.fs.Path(
        s"$rootPath/changes/batch=$id", "_snapshot")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }

  /** COMPACTION for the emitted changelog: replace the committed prefix
    * `0..upTo` (or snapshot..upTo after a prior compaction) with ONE
    * equivalent SNAPSHOT batch at id `upTo` — the as-of face rewritten
    * as all-insert change rows, marked `_snapshot`. Unlike
    * [[pruneViewChanges]], the fold contract SURVIVES: [[viewAsOfBatch]]
    * at or after `upTo` starts from the snapshot instead of empty (a key
    * absent from it was dead at the horizon; later real deltas win the
    * per-key `max_by`), so time travel within the retained horizon and
    * from-scratch changelog cascades keep working on a log whose size is
    * now O(|face| + deltas since), not O(all history). History strictly
    * before `upTo` is gone — same trade as pruning, same contract for
    * picking `upTo` (≤ every incremental consumer's applied offset;
    * [[applyViewChangesToJdbc]] fails loudly if a snapshot lands inside
    * its unapplied range, because inserts cannot reconstruct the deletes
    * the original delta carried).
    *
    * Crash-safe without atomic rename: the snapshot is written DURABLY
    * to a side directory first, the live `batch=<upTo>` is swapped out
    * only after the side write committed, and a re-run self-heals EVERY
    * window of the swap — side committed but dst still the original
    * delta (crash before the delete), dst deleted but side not yet
    * renamed, and a completed swap whose side copy survived — always by
    * COMPLETING the swap from the committed side copy, never by pruning
    * past it; until the swap completes, readers still see the original
    * contiguous prefix, and a torn swap leaves a gap that
    * [[viewAsOfBatch]]'s contiguity guard refuses loudly instead of
    * folding past silently. Returns the number of prefix batch
    * directories removed. */
  def compactViewChanges(spark: SparkSession, rootPath: String,
                         upTo: Long): Int = {
    // a crashed retrain's pending snapshot must install BEFORE anything
    // folds this log — compacting over the old-epoch horizon delta
    // would bake it into a snapshot that permanently shadows the
    // retrained face (see [[healRetrainPendingFor]])
    healRetrainPendingFor(spark, rootPath)
    val chDir = s"$rootPath/changes"
    val fs = new org.apache.hadoop.fs.Path(chDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    val side = s"$chDir/compact_tmp_$upTo"
    val dst = s"$chDir/batch=$upTo"
    val sideCommitted = fs.exists(path(s"$side/_SUCCESS"))
    if (sideCommitted) {
      // A prior run crashed mid-swap. The side copy is the durable
      // face — the heal is always to FINISH the swap from it:
      //  - the log already moved PAST this horizon (a later compaction
      //    installed a snapshot above it and pruned the prefix, so the
      //    earliest surviving batch is > upTo): installing this side
      //    would plant a batch BELOW the retained prefix and trip
      //    viewAsOfBatch's contiguity guard forever — the face it
      //    holds is subsumed by the newer snapshot; drop it.
      //  - dst already a snapshot: the rename completed and only the
      //    side cleanup was lost (or a copying rename tore) — drop the
      //    stale side copy.
      //  - otherwise (dst missing, or dst still the original delta —
      //    the crash fell between the side commit and the delete):
      //    ensure the `_snapshot` marker (its creation is itself inside
      //    the window), clear dst if present, rename side into place.
      //    Falling through to pruneViewChanges here instead would
      //    strand the face in compact_tmp and permanently fail every
      //    later viewAsOfBatch with "prefix pruned".
      if (committedBatchIds(spark, rootPath).headOption.exists(_ > upTo)) {
        fs.delete(path(side), true)
        return 0
      } else if (fs.exists(path(s"$dst/_snapshot"))) {
        fs.delete(path(side), true)
      } else {
        installSnapshotSide(fs, path(side), path(dst),
                            "compactViewChanges: self-heal")
      }
    } else {
      val ids = committedBatchIds(spark, rootPath)
      require(ids.contains(upTo),
        s"compactViewChanges: $upTo is not a committed batch " +
          s"(committed: ${ids.mkString(",")})")
      if (ids.head == upTo) return 0 // already compacted to this horizon
      // dst already a snapshot with no side copy: a prior run finished
      // the whole swap and died mid-prune — nothing to fold, just prune
      if (!fs.exists(path(s"$dst/_snapshot"))) {
        writeSnapshotSide(spark, rootPath, upTo)
        installSnapshotSide(fs, path(side), path(dst),
                            "compactViewChanges")
      }
    }
    // drop the folded prefix (idempotent across re-runs)
    pruneViewChanges(spark, rootPath, upTo)
  }

  /** The durable half of [[compactViewChanges]]: fold the face as of
    * `upTo` and write it as an all-insert snapshot to the side
    * directory, `_SUCCESS` + `_snapshot` markers included, WITHOUT
    * touching the live log. Package-private so the crash-window spec
    * can stop exactly here — the state a process death between the side
    * commit and the dst swap leaves behind — and assert a re-run heals
    * it. The snapshot is face-sized (not |Δ|-bounded like per-batch
    * deltas), so it is written key-partitioned across tasks — ONE task
    * serializing a maintained view's whole face would be the scale
    * ceiling at 100 TB; [[viewAsOfBatch]] folds the directory, so the
    * file count is free. */
  private[streaming] def writeSnapshotSide(spark: SparkSession,
                                           rootPath: String,
                                           upTo: Long): Unit =
    // the face as of the horizon, folded BEFORE any file is touched
    writeFaceSnapshotSide(spark, rootPath,
      viewAsOfBatch(spark, rootPath, upTo), upTo,
      s"$rootPath/changes/compact_tmp_$upTo")

  /** Write `face` to `side` as a committed all-insert SNAPSHOT side
    * directory for horizon batch `h` — key-partitioned across tasks
    * (face-sized, never one task), forced `_SUCCESS`, plus the
    * `_snapshot` marker. The ONE snapshot-commit writer shared by
    * [[writeSnapshotSide]] (face = the changelog fold) and
    * [[retrainAnnIvf]] (face = the rebuilt index/monitor), so the
    * commit-marker discipline cannot drift between them;
    * [[installSnapshotSide]] is the matching finish half. */
  private def writeFaceSnapshotSide(spark: SparkSession, rootPath: String,
                                    face: DataFrame, h: Long,
                                    side: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(side)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    val sample = readViewChanges(spark, rootPath, Seq(h))
    val afterType = sample.schema("after").dataType
    val keyCols = sample.columns
      .filterNot(Set("op", "before", "after", "batch")).toSeq
    val faceCols = face.columns.toSeq
    val snapshot = face.select(
      keyCols.map(col) ++ Seq(
        lit("insert").as("op"),
        lit(null).cast(afterType).as("before"),
        struct(faceCols.map(col): _*).cast(afterType).as("after")): _*)
    snapshot.repartition(keyCols.map(col): _*).write.mode("overwrite")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "true")
      .parquet(side)
    fs.create(path(s"$side/_snapshot")).close()
    require(fs.exists(path(s"$side/_SUCCESS")),
      s"snapshot side write at $side lost its _SUCCESS marker")
  }

  /** TIME TRAVEL over the emitted changelog: reconstruct the maintained
    * view as of batch `upTo` by folding [[viewDelta]] events — last
    * change per key wins, deletes drop the key. The changes log is the
    * DERIVED topic's history, so any past view generation is recoverable
    * without generation archival; cost is one |changes|-bounded key
    * rollup (`max_by` partial agg, no window). */
  def viewAsOfBatch(spark: SparkSession, rootPath: String,
                    upTo: Long): DataFrame = {
    // consumer-side heal: a crashed retrain's pending snapshot installs
    // before the fold reads the log (see [[healRetrainPendingFor]]) —
    // without it this fold would silently consume the old-epoch
    // horizon delta while the generation serves the retrained face
    healRetrainPendingFor(spark, rootPath)
    // CONTINUITY GUARDS (mirror of [[applyViewChangesToJdbc]]'s): the
    // fold starts from EMPTY — or from the newest SNAPSHOT batch at or
    // before `upTo` ([[compactViewChanges]]), which IS the complete
    // face at its horizon — and needs every batch from that start to
    // `upTo`. If retention pruned the needed prefix, or a batch
    // directory is missing mid-range (a torn compaction swap, a manual
    // delete), keys whose last change fell in the hole would silently
    // vanish from (or wrongly survive in) the reconstruction — fail
    // loudly instead. Checked against committed batch DIRECTORIES (an
    // empty batch still writes a dir).
    val ids = committedBatchIds(spark, rootPath)
    val snaps = snapshotIds(spark, rootPath)
    val start = snaps.filter(_ <= upTo).sorted.lastOption.getOrElse(0L)
    // The surviving head need not be THE covering snapshot: after a
    // retention compaction pruned the prefix (head = an older snapshot
    // > 0) a later mid-log snapshot (a [[retrainAnnIvf]] epoch swap)
    // may be the fold's `start` — any snapshot head is a complete face,
    // and contiguity from `start` is checked by the gap guard below.
    // Demanding head == start here refused valid state and, because
    // [[writeSnapshotSide]] folds through this path, would have broken
    // retention compaction permanently for such a view. A head that is
    // neither 0 nor a snapshot ≤ upTo means the needed prefix is gone.
    require(ids.isEmpty || ids.head == 0L ||
              (snaps.contains(ids.head) && ids.head <= upTo),
      s"viewAsOfBatch: changelog prefix pruned — earliest surviving " +
        s"batch is ${ids.headOption.getOrElse(-1L)} and no snapshot " +
        s"covers batch $upTo; serve time travel only within the " +
        "retained horizon (or from archived generations)")
    val need = ids.filter(id => id >= start && id <= upTo)
    require(need.isEmpty ||
              need == (need.head to math.min(upTo, ids.max)).toSeq,
      s"viewAsOfBatch: changelog gap in [${need.headOption.getOrElse(0L)}" +
        s"..$upTo] — committed batches are ${need.mkString(",")}; a " +
        "missing middle batch would corrupt the fold")
    val ch = readViewChanges(spark, rootPath)
      .filter(col("batch") >= start && col("batch") <= upTo)
    val keys = ch.columns.filterNot(Set("op", "before", "after", "batch"))
    ch.groupBy(keys.map(c => col(c)): _*)
      .agg(max_by(struct(col("op"), col("after")), col("batch")).as("last"))
      .filter(col("last.op") =!= "delete")
      .select(col("last.after.*"))
  }

  /** The root of the live generation at `dstPath` — `dstPath` itself, or
    * the demoted `.old` inside the swap's crash window, or None before
    * the first swap. Resolved ONCE per batch so multi-table generations
    * (join view's left/right/view) are read from the SAME root, never a
    * torn pair. Existence is checked explicitly — a transient READ
    * failure of an existing generation must propagate and fail the batch
    * (so the checkpoint retries), never silently fall back to stale
    * state. */
  private def liveGenerationRoot(spark: SparkSession,
                                 dstPath: String): Option[String] = {
    val dst = new org.apache.hadoop.fs.Path(dstPath)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(dstPath + ".old")
    if (fs.exists(dst)) Some(dstPath)
    else if (fs.exists(old)) Some(dstPath + ".old")
    else None
  }

  /** Read a tombstone-aware state table, tolerating the swap crash
    * window (see [[liveGenerationRoot]]). */
  private def readState(spark: SparkSession, statePath: String): Option[DataFrame] =
    liveGenerationRoot(spark, statePath).map(spark.read.parquet(_))

  /** Read one named view's per-file states out of a generation root,
    * FORMAT-CHECKED: a generation written by an older layout (e.g. the
    * pre-provenance dedup index persisted `pairs` where v2 expects
    * `bucket_pairs`) is detected by expected-vs-present file names and
    * fails with an explicit rebuild message — not the opaque parquet
    * path-not-found the raw read would throw mid-restore. */
  private def readViewFiles(spark: SparkSession, genRoot: String,
                            viewName: String, fileNames: Seq[String])
      : Map[String, DataFrame] = {
    val rootP = new org.apache.hadoop.fs.Path(genRoot)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val missing = fileNames.filterNot(f =>
      fs.exists(new org.apache.hadoop.fs.Path(rootP, s"${viewName}__$f")))
    if (missing.nonEmpty) {
      val prefix = s"${viewName}__"
      val present = fs.listStatus(rootP).map(_.getPath.getName)
        .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix)).sorted
      throw new IllegalStateException(
        s"view '$viewName': persisted generation at $genRoot has state " +
          s"files [${present.mkString(", ")}] but this build expects " +
          s"[${fileNames.mkString(", ")}] — the state format changed " +
          s"(e.g. dedup-index v2 renamed 'pairs' to 'bucket_pairs' and " +
          s"added bucket provenance; v3 added patch-time-verified " +
          s"'pair_scores' AND switched the signature scheme to " +
          s"token-hash shingles, so v2 band hashes would silently " +
          s"never collide with v3 signatures). Old generations cannot " +
          s"resume: delete the state+checkpoint directories and " +
          s"REBUILD the view from the changelog.")
    }
    fileNames.map(f =>
      f -> spark.read.parquet(s"$genRoot/${viewName}__$f")).toMap
  }

  /** Generation entries only the per-view streaming faces wrote (one
    * view per root, persisted as bare `view`/`agg`/`ranked`/`pairs`/
    * `groups`, with the view's table state as `state` beside them).
    * The runners name every view file `<name>__<file>`, and the table
    * runner reads `state` as the TABLE state — so a face-written root
    * would be misread, not merely fail. */
  private val RemovedFaceEntries = Set("view", "agg", "ranked", "pairs",
                                       "groups")

  /** [[liveGenerationRoot]] of a view runner's root, REFUSING a
    * generation written by one of the removed single-view faces before
    * anything reads it (see [[RemovedFaceEntries]]). One listing of the
    * generation directory per batch. */
  private def liveViewGeneration(spark: SparkSession, rootPath: String,
                                 surface: String): Option[String] = {
    val root = liveGenerationRoot(spark, s"$rootPath/current")
    root.foreach { r =>
      val rootP = new org.apache.hadoop.fs.Path(r)
      val found = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(rootP).map(_.getPath.getName)
        .filter(RemovedFaceEntries).sorted
      if (found.nonEmpty)
        throw new IllegalStateException(
          s"$surface: the generation at $r holds " +
            s"[${found.mkString(", ")}], the layout of a removed " +
            s"single-view streaming face, which this runner cannot " +
            s"resume. Rebuild: stop the stream, delete $rootPath and the " +
            s"checkpoint, then replay the changelog through this runner " +
            s"with the view registered by its factory")
    }
    root
  }

  /** One registered view's part of a runner batch's commit: its
    * changelog keys, its face, and its state files, both built on
    * demand so the commit runs their Spark actions in its own order. */
  private[streaming] final case class ViewCommit(
      name: String, faceKeys: Seq[String], face: () => DataFrame,
      files: () => Map[String, DataFrame])

  /** The commit tail every view runner shares, once per streaming batch:
    * pin each view's next face, diff it against the live
    * `<name>__view` into `<name>/changes/batch=<id>`, then write the
    * runner's table states (`writeTables`), every view's state files and
    * face, and the applied-batch marker into ONE swapped generation, and
    * finally apply the changelog `retention`. The diff reads the live
    * generation before the swap replaces it; overwriting `batch=<id>`
    * keeps a crash-replay a no-op rewrite. */
  private def commitViews(spark: SparkSession, rootPath: String,
                          root: Option[String], batchId: Long,
                          views: Seq[ViewCommit],
                          retention: Option[(Int, Int)])
                         (writeTables: String => Unit): Unit = {
    val faces = views.map { v =>
      val nextFace = v.face().localCheckpoint()
      val prevFace = root
        .map(r => spark.read.parquet(s"$r/${v.name}__view"))
        .getOrElse(emptyLike(nextFace))
      writeChangesBatch(viewDelta(prevFace, nextFace, v.faceKeys),
        s"$rootPath/${v.name}/changes/batch=$batchId")
      nextFace
    }
    swapGeneration(spark, s"$rootPath/current") { tmp =>
      writeTables(tmp)
      views.foreach { v =>
        v.files().foreach { case (f, df) =>
          df.write.mode("overwrite").parquet(s"$tmp/${v.name}__$f") }
      }
      views.zip(faces).foreach { case (v, f) =>
        f.write.mode("overwrite").parquet(s"$tmp/${v.name}__view") }
      writeMarker(spark, tmp, batchId)
    }
    retention.foreach { case (keep, max) =>
      views.foreach(v =>
        compactIfNeeded(spark, s"$rootPath/${v.name}", keep, max))
    }
  }

  /** Live (tombstone-filtered) view of a materialized state table. */
  def readCurrentState(spark: SparkSession, statePath: String): DataFrame =
    Materializer.liveView(readState(spark, statePath).getOrElse(
      throw new IllegalStateException(s"no state at $statePath")))

  /** SEED the parquet state table from a batch snapshot BEFORE starting
    * [[materializeToParquet]] — the streaming half of the
    * snapshot-plus-binlog handoff ([[graft.cdc.Materializer.seed]]): the
    * seeded generation is written with the same atomic swap the stream
    * uses, so the first micro-batch simply merges into it, and replaying
    * the changelog from any offset at or before the snapshot converges
    * (pre-`ts0` events lose the (ts, seq) race to the seed stamp). */
  def seedState(snapshot: DataFrame, ts0: Long, statePath: String): Unit = {
    val spark = snapshot.sparkSession
    swapGeneration(spark, statePath)(tmp =>
      Materializer.seed(snapshot, ts0).write.mode("overwrite").parquet(tmp))
  }

  /** Run the full pipeline into a parquet state table via foreachBatch
    * merge. Event-time correct (true last-writer-wins by (ts, seq) with
    * retained tombstones — see Materializer.merge) and crash-tolerant:
    * state is swapped generation-wise (write new, demote current to
    * `.old`, promote new), so at every instant one complete generation is
    * readable; a crash mid-swap replays the uncommitted batch against the
    * `.old` generation. Returns the started query (AvailableNow: drains
    * then stops — the test/replay trigger; swap for ProcessingTime in
    * production). */
  def materializeToParquet(envelope: DataFrame, spec: TableSpec,
                           statePath: String, checkpointPath: String,
                           allowEvolution: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val events = changeEvents(envelope, spec)
    events.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointPath)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val batchEvents = batch.select("op", "ts", "seq", "after")
        // prior state is scanned twice by merge's delta-restricted plan
        // (anti + semi); parquet scans are cheap columnar reads, so no
        // pin here — unlike the JDBC sink, where the read is pinned.
        // `allowEvolution` absorbs an upstream ALTER TABLE across a
        // restart with the updated TableSpec: ADD carries the new column
        // (NULL for pre-ALTER rows), DROP narrows the next generation,
        // and RENAME preserves history via the spec's version map
        // (`spec.renamedColumns`, old -> new).
        val merged = readState(spark, statePath) match {
          case Some(prior) =>
            Materializer.merge(prior, batchEvents, spec.primaryKey,
              allowEvolution = allowEvolution,
              renamedColumns =
                if (allowEvolution) spec.renamedColumns else Map.empty)
          case None => Materializer.compact(batchEvents, spec.primaryKey)
        }
        swapGeneration(spark, statePath)(tmp =>
          merged.write.mode("overwrite").parquet(tmp))
        ()
      }
      .start()
  }

  /** One maintained view registered with [[maintainMultiViewToParquet]]:
    * a named [[graft.cdc.MultiView.Maintainer]] plus its parquet state
    * layout and queryable face. `files`/`load` round-trip the
    * maintainer's state through `<generation>/<name>__<file>` (the map's
    * keys must equal `fileNames`); `face` renders the public view, which
    * is persisted as `<name>__view`, diffed per batch into the view's
    * OWN changelog at `<rootPath>/<name>/changes/batch=<id>` (readable
    * with [[readViewChanges]]`(spark, s"$rootPath/$name")`), and keyed
    * by `faceKeys`. Build instances with the [[NamedView]] factories. */
  final case class NamedView[S](
      name: String,
      maintainer: graft.cdc.MultiView.Maintainer[S],
      fileNames: Seq[String],
      files: S => Map[String, DataFrame],
      load: Map[String, DataFrame] => S,
      face: S => DataFrame,
      faceKeys: Seq[String]) {
    require(name.matches("[A-Za-z0-9_-]+"),
      s"NamedView name '$name' must be a plain path segment")
    private[streaming] def commit(st: S): ViewCommit =
      ViewCommit(name, faceKeys, () => face(st), () => files(st))
  }

  object NamedView {
    import graft.cdc.{JoinView, LeftJoinView, JoinAggView, JoinDistinctView,
                      JoinTopKView}
    /** Inner equi-join view; changelog keyed by `lPk`. */
    def joinView(name: String, viewCols: Seq[String],
                 lPk: Seq[String]): NamedView[DataFrame] =
      NamedView(name, JoinView.maintainer(viewCols), Seq("state"),
        v => Map("state" -> v), m => m("state"), v => v, lPk)
    /** Left-outer join view; changelog keyed by `lPk`. */
    def leftJoinView(name: String, viewCols: Seq[String],
                     lPk: Seq[String]): NamedView[DataFrame] =
      NamedView(name, LeftJoinView.maintainer(viewCols), Seq("state"),
        v => Map("state" -> v), m => m("state"), v => v, lPk)
    /** Multi-measure aggregate over the join; changelog keyed by the
      * group columns. */
    def joinAgg(name: String, groupCols: Seq[String],
                measures: Seq[(String, String,
                               org.apache.spark.sql.Column =>
                                 org.apache.spark.sql.Column)])
        : NamedView[DataFrame] =
      NamedView(name, JoinAggView.maintainerNamed(groupCols, measures),
        Seq("agg"), a => Map("agg" -> a), m => m("agg"),
        a => JoinAggView.viewOfAgg(a, measures.map(_._1)),
        groupCols)
    /** COUNT(DISTINCT value) per group over the join; changelog keyed by
      * the group column. */
    def joinDistinct(name: String, groupCol: String,
                     valueCol: String): NamedView[(DataFrame, DataFrame)] =
      NamedView(name, JoinDistinctView.maintainer(groupCol, valueCol),
        Seq("pairs", "groups"),
        st => Map("pairs" -> st._1, "groups" -> st._2),
        m => (m("pairs"), m("groups")),
        // view touches only the pairs/groups members of the State
        st => graft.cdc.JoinDistinctView.view(
          graft.cdc.JoinDistinctView.State(st._1, st._1, st._1, st._2),
          groupCol, valueCol),
        Seq(groupCol))
    /** Per-group top-k over the join; changelog keyed by (group, rk). */
    def joinTopK(name: String, viewCols: Seq[String], groupCol: String,
                 orderCol: String, k: Int)
        : NamedView[(DataFrame, DataFrame)] =
      NamedView(name, JoinTopKView.maintainer(viewCols, groupCol,
                                              orderCol, k),
        Seq("state", "ranked"),
        st => Map("state" -> st._1, "ranked" -> st._2),
        m => (m("state"), m("ranked")),
        st => st._2, Seq(groupCol, "rk"))
    /** Maintained two-sided decontamination
      * ([[graft.dedup.DecontamView]]): L = the corpus table, R = the
      * benchmark registry; the face is per-doc contamination counts,
      * changelog keyed by the doc id. The view joins the sides by GRAM
      * — pass the L pk as the runner's (unused) `lJoinCols`. */
    def decontam(name: String, idCol: String, docText: String,
                 benchText: String, nGram: Int = 5)
        : NamedView[graft.dedup.DecontamView.DecontamState] =
      NamedView(name,
        graft.dedup.DecontamView.maintainer(docText, benchText, nGram),
        Seq("doc_grams", "bench_grams", "contam"),
        st => Map("doc_grams" -> st.docGrams,
                  "bench_grams" -> st.benchGrams, "contam" -> st.contam),
        m => graft.dedup.DecontamView.DecontamState(
          m("doc_grams"), m("bench_grams"), m("contam")),
        st => graft.dedup.DecontamView.contaminated(st, idCol),
        Seq(idCol))
  }

  /** Maintain N views of `L ⋈ R` from ONE two-topic changelog stream —
    * the streaming face of [[graft.cdc.MultiView.replay]] and the full
    * reference fan-out (`cdc_manager.go:277-298`: one decoded stream, N
    * registered handlers). The pair is the two-table chain: it runs the
    * chain runner of [[maintainSnowflakeViewToParquet]] (L = table 0,
    * R = table 1), persisting the table states as `left`/`right`. Per
    * batch: decode ONCE, derive the changed-key sets ONCE, merge the L/R
    * states ONCE, then fold every registered view's delta step off the
    * same [[graft.cdc.MultiView.BatchCtx]]; emit each view's own
    * changelog; persist everything — both table states plus every view's
    * state and face — as ONE generation with a single atomic swap, so
    * the whole view family advances (and crash-recovers) together.
    * Exactly-once via the applied-batch marker. The join shape
    * (`lJoinCols` against R's primary key) is checked before the stream
    * starts. `maxEventsPerBatch` auto-cuts an oversized micro-batch into
    * event-count-bounded sub-batches inside the foreachBatch body (see
    * [[maintainTableViewsToParquet]]'s rationale — same swap/marker/
    * changelog semantics). */
  def maintainMultiViewToParquet(envelope: DataFrame, lSpec: TableSpec,
                                 rSpec: TableSpec, lJoinCols: Seq[String],
                                 views: Seq[NamedView[_]],
                                 rootPath: String, checkpointPath: String,
                                 maxEventsPerBatch: Option[Int] = None,
                                 retention: Option[(Int, Int)] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    graft.cdc.MultiView.requireJoinShape(rSpec.primaryKey, lJoinCols)
    maintainChainToParquet(envelope, Seq(lSpec, rSpec), Seq(lJoinCols),
      views, rootPath, checkpointPath, maxEventsPerBatch, retention,
      "maintainMultiViewToParquet", Seq("left", "right"))
  }

  /** Read a [[maintainMultiViewToParquet]] view's face by name,
    * tolerating the swap crash window. */
  def readMultiView(spark: SparkSession, rootPath: String,
                    name: String): DataFrame =
    liveGenerationRoot(spark, s"$rootPath/current")
      .map(r => spark.read.parquet(s"$r/${name}__view"))
      .getOrElse(throw new IllegalStateException(
        s"no multi-view state at $rootPath"))

  /** Read ONE persisted state file of a maintained view (the view's
    * `fileNames` layout) from the live generation — e.g. a dedup
    * index's banded `index` frame for ad-hoc probing, or a pair state's
    * `pairs` table. The face readers cover the common case; this is the
    * escape hatch to the rest of a view's state. */
  def readViewStateFile(spark: SparkSession, rootPath: String,
                        name: String, file: String): DataFrame =
    liveGenerationRoot(spark, s"$rootPath/current")
      .map(r => spark.read.parquet(s"$r/${name}__$file"))
      .getOrElse(throw new IllegalStateException(
        s"no view state at $rootPath"))

  /** Maintain N views of a SNOWFLAKE CHAIN `T₁ ⋈ T₂ ⋈ … ⋈ Tₙ` from ONE
    * N-topic changelog stream — the streaming face of
    * [[graft.cdc.SnowflakeView.replay]], folding in the same kernel
    * ([[graft.cdc.SnowflakeView.fold]]). Per batch: decode each topic
    * ONCE, run one shared [[graft.cdc.SnowflakeView.chainStep]] per
    * window (N key derivations + N state merges + the bottom-up
    * effective-key cascade and intermediate chain-view steps), then fold
    * every registered view off the same two-sided top ctx; emit each view's own changelog;
    * persist the N table states, the n−2 intermediate chain views, and
    * every view's state + face as ONE generation with a single atomic
    * swap — the whole family advances (and crash-recovers) together.
    * Exactly-once via the applied-batch marker; `maxEventsPerBatch`
    * auto-cuts an oversized catch-up batch into event-count-bounded
    * sub-batches (same rationale as [[maintainTableViewsToParquet]]).
    * `specs` are ordered fact-first (deepest dimension last); `fks(i)`
    * is table i's foreign key into `specs(i+1)`'s primary key.
    * Maintainers see `L = T₁, R = T₂⋈…⋈Tₙ`, so the same [[NamedView]]
    * factories work over N tables unchanged. */
  def maintainSnowflakeViewToParquet(envelope: DataFrame,
                                     specs: Seq[TableSpec],
                                     fks: Seq[Seq[String]],
                                     views: Seq[NamedView[_]],
                                     rootPath: String, checkpointPath: String,
                                     maxEventsPerBatch: Option[Int] = None,
                                     retention: Option[(Int, Int)] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    graft.cdc.SnowflakeView.requireChain(specs.size,
                                         specs.map(_.primaryKey), fks)
    maintainChainToParquet(envelope, specs, fks, views, rootPath,
      checkpointPath, maxEventsPerBatch, retention,
      "maintainSnowflakeViewToParquet", specs.indices.map(t => s"table_$t"))
  }

  /** The chain runner both join entries share: per streaming batch,
    * restore the table states (files `tableFiles`, refusing a state
    * written under another spec), the intermediate chain views
    * (`chain_<k>`) and every view's state from the live generation — or
    * start from empty — then fold the batch in
    * [[graft.cdc.SnowflakeView.fold]] and commit it ([[commitViews]]).
    * `surface` names the public entry in refusals. The entries check
    * the join shape; this body checks only the registration. */
  private def maintainChainToParquet(envelope: DataFrame,
      specs: Seq[TableSpec], fks: Seq[Seq[String]], views: Seq[NamedView[_]],
      rootPath: String, checkpointPath: String,
      maxEventsPerBatch: Option[Int], retention: Option[(Int, Int)],
      surface: String, tableFiles: Seq[String])
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.cdc.{MultiView, SnowflakeView}
    require(views.nonEmpty, "at least one view")
    require(views.map(_.name).distinct.size == views.size,
      s"view names must be distinct: ${views.map(_.name).mkString(", ")}")
    val n = specs.size
    val pks = specs.map(_.primaryKey)
    envelope.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointPath)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val root = liveViewGeneration(spark, rootPath, surface)
        // emitted changes are not replay-idempotent — marker gates all
        if (!root.exists(r => isApplied(spark, r, batchId))) {
          // LAZY pins: the first action over the deltas materializes
          // them. With auto-cuts on, that first action IS the autoCuts
          // count — a small batch pays ONE probe job total instead of an
          // eager-pin job per side plus a separate count; everything
          // downstream then reads the pinned RDDs.
          val deltas = specs.map(sp =>
            changeEvents(batch, sp).localCheckpoint(false))
          val states0: Seq[DataFrame] = root match {
            case Some(r) =>
              (0 until n).map { t =>
                val st = spark.read.parquet(s"$r/${tableFiles(t)}")
                refuseStateDrift(st, deltas(t), specs(t), surface, rootPath)
                st
              }
            case None => deltas.zip(pks).map { case (d, pk) =>
              emptyLike(Materializer.compact(d.limit(0), pk)) }
          }
          val live0 = states0.map(st =>
            emptyLike(st.limit(0).drop(Materializer.MetaCols: _*)))
          val chain0 = SnowflakeView.emptyChain(live0, pks, fks)
          val vPre0: Seq[DataFrame] = root match {
            case Some(r) =>
              (1 to n - 2).map(k => spark.read.parquet(s"$r/chain_$k"))
            case None => chain0.init
          }
          val vs = views.map(_.asInstanceOf[NamedView[Any]])
          val st0s: Seq[Any] = vs.map { v =>
            root match {
              case Some(r) =>
                v.load(readViewFiles(spark, r, v.name, v.fileNames))
              case None => v.maintainer.empty(live0(0), chain0.head,
                                              pks(0), pks(1), fks(0))
            }
          }
          // from-empty bootstrap folds as ONE window (see
          // maintainTableViewsToParquet's rationale)
          val subCuts = maxEventsPerBatch
            .filter(_ => root.nonEmpty)
            .map(m => MultiView.autoCuts(
              deltas.map(_.select(col("ts"))).reduce(_ unionByName _), m))
            .getOrElse(Seq.empty)
          val (tables, chain, vCur) = SnowflakeView.fold(states0, vPre0,
            vs.map(_.maintainer), st0s, deltas, subCuts, pks, fks,
            graft.cdc.JoinView.DefaultMaxLocalKeys, spark)
          commitViews(spark, rootPath, root, batchId,
            vs.zip(vCur).map { case (v, s) => v.commit(s) }, retention) {
            tmp =>
              tables.zip(tableFiles).foreach { case (st, f) =>
                st.write.mode("overwrite").parquet(s"$tmp/$f") }
              chain.zipWithIndex.foreach { case (vp, i) =>
                vp.write.mode("overwrite").parquet(s"$tmp/chain_${i + 1}") }
          }
        }
        ()
      }
      .start()
  }

  /** One maintained view registered with
    * [[maintainTableViewsToParquet]] — the single-topic analogue of
    * [[NamedView]]: a named [[graft.cdc.TableViews.Maintainer]] plus its
    * parquet state layout, queryable face, and changelog keys. Build
    * instances with the [[NamedTableView]] factories. */
  /** @param sourceCols the table columns this view's persisted state is
    *        built over (declared by the factories via [[NamedTableView
    *        .reads]]) — the ALTER-mid-stream absorb gate reads it: a
    *        dropped/renamed column that intersects a view's sourceCols
    *        means the persisted state cannot survive in place and the
    *        restore refuses loudly with the rebuild recipe; `None`
    *        (undeclared) is treated as "could read anything" and
    *        refuses conservatively on any drop/rename. ADD COLUMN and
    *        lossless WIDENING never consult it (both absorb: no
    *        existing state mentions a brand-new column, and widened
    *        values coerce up through every union/join the folds run). */
  final case class NamedTableView[S](
      name: String,
      maintainer: graft.cdc.TableViews.Maintainer[S],
      fileNames: Seq[String],
      files: S => Map[String, DataFrame],
      load: Map[String, DataFrame] => S,
      face: S => DataFrame,
      faceKeys: Seq[String],
      sourceCols: Option[Seq[String]] = None) {
    require(name.matches("[A-Za-z0-9_-]+"),
      s"NamedTableView name '$name' must be a plain path segment")
    private[streaming] def commit(st: S): ViewCommit =
      ViewCommit(name, faceKeys, () => face(st), () => files(st))
    /** Declare the table columns the view reads (see [[sourceCols]]). */
    def reads(cols: String*): NamedTableView[S] =
      copy(sourceCols = Some(cols))
  }

  object NamedTableView {
    import graft.cdc.{IncrementalAgg, IncrementalTopK}
    /** Per-group top-k; changelog keyed by (group, rk). */
    def topK(name: String, groupCol: String, orderCol: String,
             k: Int): NamedTableView[DataFrame] =
      NamedTableView[DataFrame](name, IncrementalTopK.maintainer(groupCol, orderCol, k),
        Seq("ranked"), v => Map("ranked" -> v), m => m("ranked"),
        v => v, Seq(groupCol, "rk")).reads(groupCol, orderCol)
    /** The (group, value) pair-multiplicity state with `face` over it;
      * changelog keyed by the group. */
    private def pairState(name: String, groupCol: String, valueCol: String)
        (face: IncrementalAgg.DistinctState => DataFrame)
        : NamedTableView[IncrementalAgg.DistinctState] =
      NamedTableView[IncrementalAgg.DistinctState](name,
        IncrementalAgg.distinctMaintainer(groupCol, valueCol),
        Seq("pairs", "groups"),
        st => Map("pairs" -> st.pairs, "groups" -> st.groups),
        m => IncrementalAgg.DistinctState(m("pairs"), m("groups")),
        face, Seq(groupCol)).reads(groupCol, valueCol)
    /** COUNT(DISTINCT valueCol) per group; changelog keyed by the group. */
    def distinctCount(name: String, groupCol: String, valueCol: String)
        : NamedTableView[IncrementalAgg.DistinctState] =
      pairState(name, groupCol, valueCol)(
        IncrementalAgg.distinctCountView(_, groupCol, valueCol))
    /** MIN/MAX(valueCol) per group off the same pair-state family. */
    def minMax(name: String, groupCol: String, valueCol: String)
        : NamedTableView[IncrementalAgg.DistinctState] =
      pairState(name, groupCol, valueCol)(
        IncrementalAgg.minMaxView(_, groupCol, valueCol))
    /** Exact discrete PERCENTILES `ps` of valueCol per group off the same
      * pair-state family — exact under deletes of the current median.
      * `ps` is part of the face's schema: pass the same list every run. */
    def percentiles(name: String, groupCol: String, valueCol: String,
                    ps: Seq[Double])
        : NamedTableView[IncrementalAgg.DistinctState] =
      pairState(name, groupCol, valueCol)(
        IncrementalAgg.percentileView(_, groupCol, valueCol, ps))
    /** Moments (sum, sum², n) per group — AVG/VARIANCE state. */
    def moments(name: String, groupCol: String, valueCol: String,
                valueCast: org.apache.spark.sql.Column =>
                  org.apache.spark.sql.Column = identity)
        : NamedTableView[DataFrame] =
      NamedTableView[DataFrame](name,
        IncrementalAgg.momentsMaintainer(groupCol, valueCol, valueCast),
        Seq("moments"), st => Map("moments" -> st), m => m("moments"),
        st => IncrementalAgg.momentsView(st), Seq(groupCol))
        .reads(groupCol, valueCol)
    /** Incrementally maintained MinHash-LSH near-dup index
      * ([[graft.dedup.DedupIndexView]]): per batch, signatures for the
      * CHANGED docs only patch the banded index and the candidate-pair
      * face; changelog keyed by the pair. STATE FORMAT v3: adds the
      * patch-time-verified `pair_scores` file (id_a, id_b, score) —
      * AND the v3 signature scheme hashes token-hash shingle windows
      * (xxhash64 over token hashes) where earlier layouts hashed the
      * concatenated n-gram string, so pre-v3 generations' persisted
      * band hashes would silently never collide with new signatures.
      * Both changes make old generations non-resumable; the restore
      * detects any older layout (v1 `pairs`, v2 `index`+`bucket_pairs`
      * without scores) by its file set and fails with an explicit
      * rebuild-from-changelog message ([[readViewFiles]]). */
    def dedupIndex(name: String, idCol: String, textCol: String,
                   b: Int = 16, r: Int = 2, nGram: Int = 5,
                   maxBucket: Int = 1000)
        : NamedTableView[graft.dedup.DedupIndexView.IndexState] =
      NamedTableView[graft.dedup.DedupIndexView.IndexState](name,
        graft.dedup.DedupIndexView.maintainer(idCol, textCol, b, r,
                                              nGram, maxBucket),
        Seq("index", "bucket_pairs", "pair_scores"),
        st => Map("index" -> st.index, "bucket_pairs" -> st.byBucket,
                  "pair_scores" -> st.scores),
        m => graft.dedup.DedupIndexView.IndexState(m("index"),
                                                   m("bucket_pairs"),
                                                   m("pair_scores")),
        st => st.pairs, Seq("id_a", "id_b")).reads(idCol, textCol)
    /** Exact-duplicate groups of the live corpus (content-fingerprint
      * pair state, min-id representative promoting on delete);
      * changelog keyed by the fingerprint. */
    def dupGroups(name: String, idCol: String, textCol: String)
        : NamedTableView[IncrementalAgg.DistinctState] =
      NamedTableView[IncrementalAgg.DistinctState](name,
        graft.cdc.TableViews.mapDelta(
          IncrementalAgg.distinctMaintainer("fp", idCol))(
          graft.dedup.DedupIndexView.withFingerprint(textCol)),
        Seq("pairs", "groups"),
        st => Map("pairs" -> st.pairs, "groups" -> st.groups),
        m => IncrementalAgg.DistinctState(m("pairs"), m("groups")),
        st => graft.dedup.DedupIndexView.dupGroups(st), Seq("fp"))
        .reads(idCol, textCol)
    /** Maintained token-frequency table
      * ([[graft.cdc.TokenFreqView]] — UDTF-shaped exploded deltas);
      * changelog keyed by the token. */
    def tokenFreq(name: String, textCol: String)
        : NamedTableView[DataFrame] =
      NamedTableView[DataFrame](name, graft.cdc.TokenFreqView.maintainer(textCol),
        Seq("freq"), st => Map("freq" -> st), m => m("freq"),
        st => graft.cdc.TokenFreqView.view(st), Seq("token"))
        .reads(textCol)
    /** [[tokenFreq]] in its BIGRAM modality — the live count table
      * behind the maintained corpus language model
      * ([[graft.cdc.LmView]]); changelog keyed by the bigram. */
    def bigramFreq(name: String, textCol: String)
        : NamedTableView[DataFrame] =
      NamedTableView[DataFrame](name,
        graft.cdc.TokenFreqView.maintainer(textCol,
          t => graft.text.TextAnalysis.bigrams(
            graft.text.TextAnalysis.tokens(t))),
        Seq("freq"), st => Map("freq" -> st), m => m("freq"),
        st => graft.cdc.TokenFreqView.view(st), Seq("token"))
        .reads(textCol)
    /** Maintained QUALITY-FILTER FUNNEL: per-stage live doc counts off
      * the scan-side deepest-stage-passed column
      * ([[graft.text.TextAnalysis.qualityStage]] planted via
      * withDerived); the face is the 4-row per-stage attrition report,
      * changelog keyed by the stage row. */
    def qualityFunnel(name: String, textCol: String, valueCol: String)
        : NamedTableView[DataFrame] =
      NamedTableView[DataFrame](name,
        graft.cdc.TableViews.mapDelta(
          IncrementalAgg.momentsMaintainer("q_stage", valueCol,
                                           _.cast("decimal(18,4)")))(
          graft.cdc.TableViews.withDerived(textCol, "q_stage")(
            graft.text.TextAnalysis.qualityStage)),
        Seq("moments"), st => Map("moments" -> st), m => m("moments"),
        st => IncrementalAgg.momentsView(st)
          .agg(
            sum(col("n_rows")).as("n0"),
            sum(when(col("q_stage") >= 1, col("n_rows")).otherwise(0L))
              .as("n1"),
            sum(when(col("q_stage") >= 2, col("n_rows")).otherwise(0L))
              .as("n2"),
            sum(when(col("q_stage") >= 3, col("n_rows")).otherwise(0L))
              .as("n3"),
            sum(when(col("q_stage") >= 4, col("n_rows")).otherwise(0L))
              .as("n4"))
          .selectExpr(
            """stack(4,
               1, 'min_tokens',    n0, n1,
               2, 'avg_tok_len',   n1, n2,
               3, 'max_tok_ratio', n2, n3,
               4, 'stopword',      n3, n4) AS (stage, rule, n_in, n_out)""")
          .select(col("stage"), col("rule"), col("n_in"),
                  (col("n_in") - col("n_out")).as("n_dropped"),
                  col("n_out")),
        Seq("stage")).reads(textCol, valueCol)
    /** Incrementally maintained IVF ANN index
      * ([[graft.similarity.AnnIndexView]]): only changed vectors
      * re-assign per batch; the face IS the assignment table,
      * changelog keyed by the vector id. ANN STATE FORMAT v2: the
      * CODEBOOK is persisted next to the assignment — the quantizer is
      * part of the index's identity, and a restart (or a
      * [[CdcStream.retrainAnnIvf]] swap) must construct the maintainer
      * from the LIVE codebook ([[CdcStream.readAnnCodebook]]), never a
      * constructor-captured stale one (assignments would silently mix
      * epochs). Pre-v2 generations (assigned only) refuse via
      * [[readViewFiles]]'s format check. */
    def annIvf(name: String, idCol: String, vecCol: String,
               centroids: Seq[(Long, Seq[Float])])
        : NamedTableView[DataFrame] =
      NamedTableView[DataFrame](name,
        graft.similarity.AnnIndexView.maintainer(idCol, vecCol, centroids),
        Seq("assigned", "codebook"),
        st => Map("assigned" -> st,
                  "codebook" -> graft.similarity.AnnIndexView
                    .centroidDf(st.sparkSession, centroids)),
        m => {
          // The v2 contract is ENFORCED here, not documented: the
          // persisted codebook is the index's identity, and a runner
          // restarted with constructor centroids that differ from it
          // (a stale codebook after [[CdcStream.retrainAnnIvf]]) would
          // silently assign new deltas with the old quantizer — the
          // exact epoch mixing v2 exists to prevent — and the next
          // generation write would overwrite the retrained codebook
          // file with the stale one, erasing the evidence. The check
          // is one C-bounded collect per restore.
          val persisted = graft.similarity.AnnIndexView
            .localCentroids(m("codebook")).sortBy(_._1)
          val mine = centroids.sortBy(_._1)
          if (persisted != mine)
            throw new IllegalStateException(
              s"view '$name': the persisted generation's codebook " +
                s"(${persisted.size} centroids) differs from this " +
                s"maintainer's constructor centroids (${mine.size}) — " +
                s"the index was retrained (CdcStream.retrainAnnIvf). " +
                s"Construct the maintainer from the LIVE codebook: " +
                s"CdcStream.readAnnCodebook(spark, rootPath, \"$name\")")
          m("assigned")
        },
        st => st, Seq("vec_id")).reads(idCol, vecCol)
    /** QUANTIZER-DRIFT monitor for a sibling [[annIvf]] view — the
      * per-centroid assignment-distance moments maintained from deltas
      * ([[graft.similarity.AnnIndexView.driftMaintainer]]); the face is
      * the `(centroid_id, n_vecs, avg_dist, var_dist)` drift report
      * ([[graft.similarity.AnnIndexView.driftView]]). MUST be
      * constructed with the SAME codebook as the annIvf view (after a
      * retrain: [[CdcStream.readAnnCodebook]]) — the moments are
      * distances to THESE centroids, and
      * [[CdcStream.retrainAnnIvf]]`(driftName = Some(...))` rebuilds
      * this view's state against the new codebook in the same epoch
      * swap so the monitor never reports stale-epoch distances. */
    def annDrift(name: String, idCol: String, vecCol: String,
                 centroids: Seq[(Long, Seq[Float])])
        : NamedTableView[DataFrame] =
      NamedTableView[DataFrame](name,
        graft.similarity.AnnIndexView.driftMaintainer(idCol, vecCol,
                                                      centroids),
        Seq("moments", "codebook"),
        st => Map("moments" -> st,
                  "codebook" -> graft.similarity.AnnIndexView
                    .centroidDf(st.sparkSession, centroids)),
        m => {
          // same ENFORCED epoch-coherence contract as [[annIvf]]: the
          // moments are distances to the persisted codebook's
          // centroids; folding new deltas measured against different
          // constructor centroids would silently mix epochs in the
          // monitor (spurious or missed retrains). One C-bounded
          // collect per restore.
          val persisted = graft.similarity.AnnIndexView
            .localCentroids(m("codebook")).sortBy(_._1)
          val mine = centroids.sortBy(_._1)
          if (persisted != mine)
            throw new IllegalStateException(
              s"view '$name': the persisted generation's codebook " +
                s"(${persisted.size} centroids) differs from this drift " +
                s"monitor's constructor centroids (${mine.size}) — the " +
                s"index was retrained (CdcStream.retrainAnnIvf). " +
                s"Construct the monitor from the LIVE codebook: " +
                s"CdcStream.readAnnCodebook(spark, rootPath, \"$name\")")
          m("moments")
        },
        st => graft.similarity.AnnIndexView.driftView(st),
        Seq("centroid_id")).reads(idCol, vecCol)
    /** [[annIvf]] in CODEBOOK-FOLLOWING form
      * ([[graft.similarity.AnnIndexView.FollowState]]): the quantizer
      * rides the state (persisted beside the assignment in the same
      * generation), `initial` only seeds the first generation, and a
      * [[CdcStream.retrainAnnIvf]] swap — including one triggered
      * MID-RUN by [[CdcStream.AnnDriftPolicy]] — is picked up by the
      * next batch's restore automatically. The fixed-codebook
      * [[annIvf]]'s stale-constructor refusal is unnecessary here by
      * construction (there is no constructor codebook to go stale). */
    def annIvfFollowing(name: String, idCol: String, vecCol: String,
                        initial: Seq[(Long, Seq[Float])])
        : NamedTableView[graft.similarity.AnnIndexView.FollowState] =
      NamedTableView[graft.similarity.AnnIndexView.FollowState](name,
        graft.similarity.AnnIndexView.followingMaintainer(idCol, vecCol,
                                                          initial),
        Seq("assigned", "codebook"),
        st => Map("assigned" -> st.data, "codebook" -> st.codebook),
        m => graft.similarity.AnnIndexView.FollowState(m("assigned"),
                                                       m("codebook")),
        st => st.data, Seq("vec_id")).reads(idCol, vecCol)
    /** [[annDrift]] in codebook-following form — pair it with
      * [[annIvfFollowing]] under one [[CdcStream.AnnDriftPolicy]] so
      * monitor and index stay epoch-coherent across automated
      * retrains. */
    def annDriftFollowing(name: String, idCol: String, vecCol: String,
                          initial: Seq[(Long, Seq[Float])])
        : NamedTableView[graft.similarity.AnnIndexView.FollowState] =
      NamedTableView[graft.similarity.AnnIndexView.FollowState](name,
        graft.similarity.AnnIndexView.followingDriftMaintainer(
          idCol, vecCol, initial),
        Seq("moments", "codebook"),
        st => Map("moments" -> st.data, "codebook" -> st.codebook),
        m => graft.similarity.AnnIndexView.FollowState(m("moments"),
                                                       m("codebook")),
        st => graft.similarity.AnnIndexView.driftView(st.data),
        Seq("centroid_id")).reads(idCol, vecCol)
    /** Incrementally maintained embedding near-dup (semantic) index —
      * [[dedupIndex]]'s algebra with random-hyperplane LSH bands
      * ([[graft.dedup.DedupIndexView.embeddingMaintainer]]). */
    def semanticIndex(name: String, idCol: String, vecCol: String,
                      dim: Int, tables: Int = 8, planes: Int = 12,
                      maxBucket: Int = 1000)
        : NamedTableView[graft.dedup.DedupIndexView.IndexState] =
      NamedTableView[graft.dedup.DedupIndexView.IndexState](name,
        graft.dedup.DedupIndexView.embeddingMaintainer(idCol, vecCol,
          dim, tables, planes, maxBucket = maxBucket),
        Seq("index", "bucket_pairs", "pair_scores"),
        st => Map("index" -> st.index, "bucket_pairs" -> st.byBucket,
                  "pair_scores" -> st.scores),
        m => graft.dedup.DedupIndexView.IndexState(m("index"),
                                                   m("bucket_pairs"),
                                                   m("pair_scores")),
        st => st.pairs, Seq("id_a", "id_b")).reads(idCol, vecCol)
    /** Maintained near-dup clusters over exact-cosine edges
      * ([[graft.dedup.ClusterView]] — component-local relabeling; a
      * deleted bridge splits its cluster); face `(id, cluster,
      * is_rep)`, changelog keyed by the id. */
    def clusters(name: String, idCol: String, vecCol: String,
                 minCosine: Double)
        : NamedTableView[graft.dedup.ClusterView.ClusterState] =
      NamedTableView[graft.dedup.ClusterView.ClusterState](name,
        graft.dedup.ClusterView.cosineMaintainer(idCol, vecCol, minCosine),
        Seq("edges", "clusters"),
        st => Map("edges" -> st.edges, "clusters" -> st.clusters),
        m => graft.dedup.ClusterView.ClusterState(m("edges"),
                                                  m("clusters")),
        st => graft.dedup.ClusterView.view(st), Seq("id"))
        .reads(idCol, vecCol)
    /** The LSH-bucketed cluster face over the maintained band index
      * ([[graft.dedup.ClusterView.overIndex]]) — one persisted state
      * (v3 index layout + the assignment) serves the pair face and the
      * cluster face. */
    def semanticClusters(name: String, idCol: String, vecCol: String,
                         dim: Int, minCosine: Double, tables: Int = 8,
                         planes: Int = 12, maxBucket: Int = 1000)
        : NamedTableView[graft.dedup.ClusterView.IndexedClusterState] =
      NamedTableView[graft.dedup.ClusterView.IndexedClusterState](name,
        graft.dedup.ClusterView.semanticMaintainer(idCol, vecCol, dim,
          minCosine, tables, planes, maxBucket),
        Seq("index", "bucket_pairs", "pair_scores", "clusters"),
        st => Map("index" -> st.index.index,
                  "bucket_pairs" -> st.index.byBucket,
                  "pair_scores" -> st.index.scores,
                  "clusters" -> st.clusters),
        m => graft.dedup.ClusterView.IndexedClusterState(
          graft.dedup.DedupIndexView.IndexState(m("index"),
                                                m("bucket_pairs"),
                                                m("pair_scores")),
          m("clusters")),
        st => graft.dedup.ClusterView.view(st), Seq("id"))
        .reads(idCol, vecCol)
    /** The TEXT modality of [[semanticClusters]]: near-dup clusters
      * over the maintained MinHash band index's patch-time-verified
      * Jaccard scores (edges = score ≥ `minJaccard`) — one persisted
      * state (v3 index layout + the assignment) serves the verified
      * pair face and the text cluster face. */
    def textClusters(name: String, idCol: String, textCol: String,
                     minJaccard: Double, b: Int = 16, r: Int = 2,
                     nGram: Int = 5, maxBucket: Int = 1000)
        : NamedTableView[graft.dedup.ClusterView.IndexedClusterState] =
      NamedTableView[graft.dedup.ClusterView.IndexedClusterState](name,
        graft.dedup.ClusterView.overIndex(idCol,
          graft.dedup.DedupIndexView.maintainer(idCol, textCol, b, r,
                                                nGram, maxBucket),
          minEdgeScore = minJaccard),
        Seq("index", "bucket_pairs", "pair_scores", "clusters"),
        st => Map("index" -> st.index.index,
                  "bucket_pairs" -> st.index.byBucket,
                  "pair_scores" -> st.index.scores,
                  "clusters" -> st.clusters),
        m => graft.dedup.ClusterView.IndexedClusterState(
          graft.dedup.DedupIndexView.IndexState(m("index"),
                                                m("bucket_pairs"),
                                                m("pair_scores")),
          m("clusters")),
        st => graft.dedup.ClusterView.view(st), Seq("id"))
        .reads(idCol, textCol)
    /** Maintained per-user sessionization
      * ([[graft.cdc.SequentialViews]] via GroupViews delta-restricted
      * per-group recompute); changelog keyed by (user, session). */
    def sessions(name: String, gapUs: Long = 1800L * 1000000L)
        : NamedTableView[DataFrame] =
      NamedTableView[DataFrame](name,
        graft.cdc.SequentialViews.sessionMaintainer(gapUs),
        Seq("sessions"), st => Map("sessions" -> st), m => m("sessions"),
        st => st, Seq("user_id", "sess_id"))
        .reads("user_id", "ts_us", "event_id")
    /** Maintained strictly-ordered funnel: per-user stage rows plus the
      * additively-maintained stage counts; the face is the counts,
      * changelog keyed by (stage, step). */
    def funnel(name: String, steps: Seq[String])
        : NamedTableView[graft.cdc.GroupViews.RollupState] =
      NamedTableView[graft.cdc.GroupViews.RollupState](name,
        graft.cdc.SequentialViews.funnelMaintainer(steps),
        Seq("stages", "totals"),
        st => Map("stages" -> st.rows, "totals" -> st.totals),
        m => graft.cdc.GroupViews.RollupState(m("stages"), m("totals")),
        st => st.totals, Seq("stage", "step"))
        .reads("user_id", "event_type", "ts_us")
    /** Maintained transition matrix: per-user consecutive-pair rows
      * plus global (from, to) totals; the face is the totals. */
    def transitions(name: String)
        : NamedTableView[graft.cdc.GroupViews.RollupState] =
      NamedTableView[graft.cdc.GroupViews.RollupState](name,
        graft.cdc.SequentialViews.transitionMaintainer(),
        Seq("pairs", "totals"),
        st => Map("pairs" -> st.rows, "totals" -> st.totals),
        m => graft.cdc.GroupViews.RollupState(m("pairs"), m("totals")),
        st => st.totals, Seq("from_type", "to_type"))
        .reads("user_id", "event_type", "ts_us", "event_id")
    /** Maintained cohort retention: per-user cells + additive (cohort,
      * k) active counts; the face is the counts. */
    def retention(name: String, maxWeeks: Int = 3)
        : NamedTableView[graft.cdc.GroupViews.RollupState] =
      NamedTableView[graft.cdc.GroupViews.RollupState](name,
        graft.cdc.SequentialViews.retentionMaintainer(maxWeeks),
        Seq("cells", "totals"),
        st => Map("cells" -> st.rows, "totals" -> st.totals),
        m => graft.cdc.GroupViews.RollupState(m("cells"), m("totals")),
        st => st.totals, Seq("cohort", "k"))
        .reads("user_id", "ts_us")
    /** Maintained per-type daily anomaly z-scores; changelog keyed by
      * (day, type). */
    def anomaly(name: String): NamedTableView[DataFrame] =
      NamedTableView[DataFrame](name,
        graft.cdc.SequentialViews.anomalyMaintainer(),
        Seq("scores"), st => Map("scores" -> st), m => m("scores"),
        st => st, Seq("day", "event_type"))
        .reads("event_type", "ts_us")
    /** Maintained data profile ([[graft.cdc.ProfileView]]): the stacked
      * (column, value, n) multiplicity state; the face is the per-column
      * rollup, changelog keyed by the column name. */
    def profile(name: String, cols: Seq[String])
        : NamedTableView[DataFrame] =
      NamedTableView[DataFrame](name, graft.cdc.ProfileView.maintainer(cols),
        Seq("values"), st => Map("values" -> st), m => m("values"),
        st => graft.cdc.ProfileView.view(st), Seq("col_name"))
        .reads(cols: _*)
  }

  /** Maintain N views of ONE table from its changelog stream — the
    * streaming face of [[graft.cdc.TableViews.replay]] and the literal
    * reference fan-out (`cdc_manager.go:277-298`: every handler
    * registered on a topic receives each decoded event). Per batch:
    * decode ONCE, then fold in the replay's own kernel
    * ([[graft.cdc.TableViews.fold]]): per window derive the changed-key
    * set ONCE, merge the tombstone-aware state ONCE, and step every
    * registered view concurrently off the same
    * [[graft.cdc.TableViews.BatchCtx]]; emit each view's own changelog,
    * and persist everything as ONE atomically-swapped generation with
    * the applied-batch marker (exactly-once fold application). */
  /** `maxEventsPerBatch` splits an oversized micro-batch (an
    * AvailableNow backlog) into event-count-bounded sub-batches by ts
    * ([[graft.cdc.MultiView.autoCuts]]) INSIDE the foreachBatch body, so
    * catch-up keeps the |Δ|-bounded broadcast path per sub-batch; the
    * generation swap, marker, and changelog emission still happen once
    * per streaming batch, so crash semantics are unchanged. EXCEPTION —
    * the FROM-EMPTY first batch (no prior generation) folds as ONE
    * window regardless: a bootstrap is semantically a one-shot build
    * (stepwise == from-scratch is spec'd per maintainer), so cutting it
    * only multiplies per-sub-batch driver round-trips; the over-cap
    * distributed fallback is the correct plan for a corpus-sized first
    * batch.
    *
    * ALTER-MID-STREAM CONTRACT (`allowEvolution`): when the restored
    * generation's table state was written under a different spec —
    * the reference's deployment reality, since TiDB ALTERs land while
    * consumers keep running and its decoder silently tolerates them
    * (absent keys → zero values, extra keys ignored,
    * `cdc_utils.go:64-67`) — the restore classifies the drift
    * ([[graft.cdc.Materializer.stateDrift]]) and:
    *  - ADD COLUMN absorbs (with `allowEvolution`): the state gains
    *    the column as NULL for pre-ALTER rows — exactly what the
    *    source database says about them; every view absorbs (no
    *    persisted view state mentions a column that did not exist).
    *  - WIDENING MODIFY absorbs (with `allowEvolution`): the state
    *    casts up ([[graft.cdc.Materializer.widensTo]] gates
    *    losslessness); view states holding the old narrow type coerce
    *    up through their fold unions and persist widened.
    *  - RENAME absorbs for the TABLE state via
    *    [[graft.cdc.TableSpec.renamedColumns]]; a view whose
    *    [[NamedTableView.sourceCols]] touch the renamed column
    *    REFUSES loudly (its state keys by the old name; nothing can
    *    re-key a band index or pair state generically) naming the
    *    rebuild recipe. Unaffected sibling views absorb.
    *  - DROP COLUMN: same split — the table state narrows, views over
    *    the dropped column refuse loudly with the rebuild recipe.
    *  - NARROWING/incompatible MODIFY always refuses (the state may
    *    hold values outside the new type), evolution or not.
    * Without `allowEvolution` any drift refuses loudly naming it —
    * an unexpected shape change should never be absorbed silently.
    *
    * `driftPolicy` closes the quantizer drift→retrain loop INSIDE the
    * run: after each batch COMMITS (generation swapped, applied marker
    * written, `_batch_inprogress` released), the policy reads the
    * drift face and, when the corpus-weighted mean assignment distance
    * exceeds its threshold, runs [[retrainAnnIvf]] between batches —
    * under the full `_retrain_inprogress`/`_batch_inprogress` mutual
    * exclusion, so the existing lock refusals hold unchanged. The ANN
    * pair MUST be registered in codebook-following form
    * ([[NamedTableView.annIvfFollowing]]/[[NamedTableView
    * .annDriftFollowing]]): the next batch restores its quantizer from
    * the retrained generation automatically; the fixed-codebook
    * [[NamedTableView.annIvf]] would (correctly) refuse its stale
    * constructor centroids at the next restore. */
  def maintainTableViewsToParquet(envelope: DataFrame, spec: TableSpec,
                                  views: Seq[NamedTableView[_]],
                                  rootPath: String, checkpointPath: String,
                                  maxEventsPerBatch: Option[Int] = None,
                                  retention: Option[(Int, Int)] = None,
                                  allowEvolution: Boolean = false,
                                  driftPolicy: Option[AnnDriftPolicy] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.cdc.TableViews
    require(views.nonEmpty, "at least one view")
    require(views.map(_.name).distinct.size == views.size,
      s"view names must be distinct: ${views.map(_.name).mkString(", ")}")
    driftPolicy.foreach { p =>
      val names = views.map(_.name).toSet
      require(names(p.name) && names(p.driftName),
        s"driftPolicy names views '${p.name}'/'${p.driftName}' but the " +
          s"registration has ${names.mkString(", ")} — the policy can " +
          s"only retrain an ANN pair maintained by THIS run")
    }
    val pk = spec.primaryKey
    envelope.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointPath)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        // SINGLE-WRITER GUARD vs [[retrainAnnIvf]] (both are generation
        // swappers on this root): set our in-progress marker FIRST,
        // then check the retrain lock — check-after-set on both sides,
        // so a concurrent retrain is seen by at least one of the two.
        // The marker is informational ownership (overwrite-create: a
        // crashed predecessor's marker is ours to reclaim on restart);
        // the retrain side refuses while it exists.
        val guardFs = new org.apache.hadoop.fs.Path(rootPath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val batchMarker = new org.apache.hadoop.fs.Path(
          rootPath, "_batch_inprogress")
        guardFs.create(batchMarker, true).close()
        try {
        val retrainLock = new org.apache.hadoop.fs.Path(
          rootPath, "_retrain_inprogress")
        if (guardFs.exists(retrainLock))
          throw new IllegalStateException(
            s"maintainTableViewsToParquet: $retrainLock exists — a " +
              s"retrain is swapping generations on this root; the batch " +
              s"fails loudly instead of racing it (re-run after the " +
              s"retrain completes; remove the file if its process died)")
        // a crashed retrain's pending changelog snapshot must be
        // installed BEFORE anything folds or mirrors this view's
        // changelog — the one crash window that would otherwise be
        // consumed silently (generation retrained, horizon batch still
        // the old-epoch delta)
        healRetrainPending(spark, rootPath)
        val root = liveViewGeneration(spark, rootPath,
                                      "maintainTableViewsToParquet")
        // snapshot-seeded roots ([[seedTableViewsToParquet]]): events at
        // or before the seed horizon are already reflected in the
        // seeded state — fold only the binlog SUFFIX (the fold
        // maintainers are not LWW-idempotent, so the overlap must be
        // dropped, not replayed); a marker without a generation is a
        // torn seed and refuses loudly
        val seedTs = seedHorizon(spark, rootPath)
        require(seedTs.isEmpty || root.nonEmpty,
          s"maintainTableViewsToParquet: $rootPath carries a seed " +
            s"horizon marker but no generation — seedTableViewsToParquet " +
            s"crashed between its marker and its swap; re-run the seed " +
            s"before streaming (folding now would silently build from " +
            s"the binlog suffix alone)")
        // fold maintainers double-count on replay; marker gates the body
        if (!root.exists(r => isApplied(spark, r, batchId))) {
          // lazy pin — the autoCuts count (or the first fold action)
          // materializes it; see maintainChainToParquet's rationale
          val deltaAll = changeEvents(batch, spec)
          val delta = seedTs.map(t => deltaAll.filter(col("ts") > t))
            .getOrElse(deltaAll).localCheckpoint(false)
          val expectedState = Materializer.compact(delta.limit(0), pk)
          // ALTER-MID-STREAM GATE: the persisted generation was built
          // under a prior spec; classify the drift and either ABSORB
          // (align the table state to the new shape — ADD fills NULL,
          // widening casts up, renames re-key) or REFUSE loudly. The
          // reference silently survives upstream ALTERs (absent JSON
          // keys decode to zero values, extra keys are ignored,
          // cdc_utils.go:64-67) — our materialized tables match it via
          // Materializer.merge(allowEvolution); the maintained faces
          // get the same contract here, EXCEPT where a view's persisted
          // state is built over a dropped/renamed column, which nothing
          // can evolve in place: that refuses naming the rebuild recipe.
          val st0 = root.map { r =>
            val persisted = spark.read.parquet(s"$r/state")
            val drift = Materializer.stateDrift(
              persisted.schema, expectedState.schema, spec.renamedColumns)
            if (drift.isEmpty) persisted
            else {
              require(drift.narrowed.isEmpty,
                s"maintainTableViewsToParquet: upstream ALTER narrowed " +
                  s"column type(s) [${drift.describe}] — the persisted " +
                  s"state may hold values outside the new type; this " +
                  s"cannot be absorbed. Rebuild: stop the stream, delete " +
                  s"$rootPath and the checkpoint, and replay the " +
                  s"changelog (or Materializer.seed from a fresh extract)")
              require(allowEvolution,
                s"maintainTableViewsToParquet: the persisted state at " +
                  s"$rootPath was built under a different table schema " +
                  s"[${drift.describe}] — pass allowEvolution=true to " +
                  s"absorb an upstream ALTER (ADD COLUMN fills NULL for " +
                  s"pre-ALTER rows, widening casts the state up, " +
                  s"renamedColumns re-keys), or rebuild from the " +
                  s"changelog if the schema change was unintended")
              val hazard = drift.hazardCols
              if (hazard.nonEmpty) views.foreach { v =>
                v.sourceCols match {
                  case Some(cols) =>
                    val hit = cols.filter(hazard)
                    require(hit.isEmpty,
                      s"view '${v.name}': its persisted state is built " +
                        s"over dropped/renamed column(s) " +
                        s"${hit.mkString(", ")} and cannot evolve in " +
                        s"place. Rebuild the face: stop the stream, " +
                        s"delete $rootPath and the checkpoint, and " +
                        s"replay the changelog under the new spec " +
                        s"(unaffected sibling views absorb; only this " +
                        s"registration blocks)")
                  case None =>
                    throw new IllegalStateException(
                      s"view '${v.name}': declares no sourceCols, so " +
                        s"the restore cannot prove its persisted state " +
                        s"survives dropped/renamed column(s) " +
                        s"${hazard.mkString(", ")} — declare " +
                        s".reads(<cols>) on the view (see " +
                        s"NamedTableView.reads) or rebuild from the " +
                        s"changelog")
                }
              }
              Materializer.alignState(persisted, expectedState.schema,
                                      drift)
            }
          }.getOrElse(emptyLike(expectedState))
          val events0 = emptyLike(delta.limit(0))
          val vs = views.map(_.asInstanceOf[NamedTableView[Any]])
          val vst0s: Seq[Any] = vs.map { v =>
            root match {
              case Some(r) =>
                v.load(readViewFiles(spark, r, v.name, v.fileNames))
              case None => v.maintainer.empty(events0, pk)
            }
          }
          // THE shared work per (sub-)batch: one key derivation, one
          // state merge. A backlog batch is auto-cut into ts windows so
          // each sub-batch keeps the broadcast delta path — except the
          // from-empty bootstrap, which folds as ONE window (see the
          // rationale above)
          val subCuts = maxEventsPerBatch
            .filter(_ => root.nonEmpty)
            .map(m => graft.cdc.MultiView.autoCuts(delta, m))
            .getOrElse(Seq.empty)
          val (stCur, vCur) = TableViews.fold(st0, vs.map(_.maintainer),
            vst0s, delta, subCuts, pk,
            graft.cdc.JoinView.DefaultMaxLocalKeys, spark)
          commitViews(spark, rootPath, root, batchId,
            vs.zip(vCur).map { case (v, s) => v.commit(s) }, retention) {
            tmp => stCur.write.mode("overwrite").parquet(s"$tmp/state")
          }
        }
        } finally guardFs.delete(batchMarker, false)
        // POST-COMMIT drift policy: the batch marker is released, the
        // generation (including this batch's drift-face fold) is live —
        // the one moment a retrain can take its lock without racing the
        // stream. A triggered retrain swaps before the next batch sets
        // its marker; following views pick the new codebook up at their
        // next restore. Policy failures propagate and fail the query
        // loudly (a half-evaluated policy must never be skipped
        // silently).
        driftPolicy.foreach { p =>
          retrainAnnIvfIfDrifted(spark, rootPath, p.name, p.driftName,
                                 p.idCol, p.vecCol, p.k, p.maxAvgDist,
                                 p.seed)
        }
        ()
      }
      .start()
  }

  /** The changelog batch id the seed snapshot installs at — BELOW every
    * real stream batch (foreachBatch ids start at 0), so
    * [[viewAsOfBatch]]'s snapshot-start fold and the contiguity guards
    * treat the seeded face exactly like a compaction snapshot. */
  private val SeedSnapshotId = -1L

  private def seedHorizonMarker(ts0: Long) = s"_seed_horizon_$ts0"

  /** The seed horizon of a seeded root (None for replay-bootstrapped
    * roots). Fails loudly on a torn seed (marker without a generation:
    * [[seedTableViewsToParquet]] crashed between its marker and its
    * swap — folding would silently build from the binlog SUFFIX alone,
    * missing the snapshot's contents) and on conflicting markers. */
  private[streaming] def seedHorizon(spark: SparkSession,
                                     rootPath: String): Option[Long] = {
    val rootP = new org.apache.hadoop.fs.Path(rootPath)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootP)) None
    else {
      val markers = fs.listStatus(rootP).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("_seed_horizon_"))
      require(markers.size <= 1,
        s"seedHorizon: conflicting seed markers ${markers.mkString(", ")} " +
          s"at $rootPath — a re-seed at a different horizon left both; " +
          s"remove the stale one")
      markers.headOption.map { m =>
        val ts = m.stripPrefix("_seed_horizon_")
        require(ts.nonEmpty && ts.forall(_.isDigit),
          s"seedHorizon: malformed marker $m at $rootPath")
        ts.toLong
      }
    }
  }

  /** SNAPSHOT-PLUS-BINLOG bootstrap for the maintained view faces — the
    * 100 TB onboarding shape (nobody replays 100 TB of Maxwell JSON):
    * build every registered view's initial state FROM a batch snapshot
    * (a parquet extract, a JDBC dump) in ONE from-empty fold — the same
    * one-window bootstrap plan the stream's from-empty batch uses — and
    * stamp it as the generation at the snapshot's consistent-read
    * timestamp `ts0`; the subsequent
    * [[maintainTableViewsToParquet]] run then folds ONLY the binlog
    * suffix (`ts > ts0` — events at or before the horizon are already
    * reflected in the snapshot, and the fold maintainers are not
    * LWW-idempotent the way [[graft.cdc.Materializer.seed]]'s table
    * merge is, so the overlap is dropped rather than replayed). Each
    * view's changelog starts from the seeded face installed as a
    * SNAPSHOT batch at id [[SeedSnapshotId]], so [[viewAsOfBatch]],
    * compaction, and the JDBC mirror treat a seeded root exactly like
    * a compacted one.
    *
    * Crash discipline: the `_seed_horizon_<ts0>` marker is written
    * BEFORE the generation swap; a crash in between leaves marker-
    * without-generation, which every stream fold refuses loudly naming
    * the re-run ([[seedHorizon]]) — the torn window can never fold a
    * suffix-only state silently. Re-running the seed overwrites
    * everything (it refuses only once a generation exists). */
  def seedTableViewsToParquet(spark: SparkSession, snapshot: DataFrame,
                              spec: TableSpec,
                              views: Seq[NamedTableView[_]],
                              rootPath: String, ts0: Long): Unit = {
    import graft.cdc.TableViews
    require(views.nonEmpty, "at least one view")
    require(views.map(_.name).distinct.size == views.size,
      s"view names must be distinct: ${views.map(_.name).mkString(", ")}")
    require(liveGenerationRoot(spark, s"$rootPath/current").isEmpty,
      s"seedTableViewsToParquet: a generation already exists at " +
        s"$rootPath — seeding is a BOOTSTRAP; to re-onboard, rebuild " +
        s"the root (delete it and the stream checkpoint) first")
    require(ts0 >= 0, s"seedTableViewsToParquet: ts0 must be a " +
      s"non-negative epoch timestamp (got $ts0) — the horizon marker " +
      s"encodes it in its name")
    val pk = spec.primaryKey
    val decodedType = org.apache.spark.sql.types.StructType(
      spec.schema.fields.filterNot(f => spec.dropped.contains(f.name)))
    val missing = decodedType.fieldNames.filterNot(
      snapshot.columns.toSet)
    require(missing.isEmpty,
      s"seedTableViewsToParquet: snapshot is missing declared " +
        s"column(s) ${missing.mkString(", ")} — the extract must carry " +
        s"every column of the registered spec")
    val events = snapshot.select(
        lit("insert").as("op"), lit(spec.database).as("database"),
        lit(spec.table).as("table"), lit(ts0).as("ts"), lit(0L).as("seq"),
        lit(null).cast(decodedType).as("before"),
        struct(decodedType.fieldNames.toSeq.map(col): _*)
          .cast(decodedType).as("after"),
        lit(null).cast("array<string>").as("changed_cols"))
      .localCheckpoint(false)
    val st0 = emptyLike(Materializer.compact(events.limit(0), pk))
    val events0 = emptyLike(events.limit(0))
    val vs = views.map(_.asInstanceOf[NamedTableView[Any]])
    val (stNext, nexts) = TableViews.fold(st0, vs.map(_.maintainer),
      vs.map(_.maintainer.empty(events0, pk)), events, Seq.empty, pk,
      graft.cdc.JoinView.DefaultMaxLocalKeys, spark)
    val faces = vs.zip(nexts).map { case (v, s) =>
      v.face(s).localCheckpoint() }
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(rootPath).getFileSystem(conf)
    // the face changelogs' base: the seeded face as a snapshot batch
    // (all-insert change rows keyed by the view's faceKeys, `_snapshot`
    // marked) — written before anything is live, so a re-run overwrites
    vs.zip(faces).foreach { case (v, f) =>
      val dir = s"$rootPath/${v.name}/changes/batch=$SeedSnapshotId"
      val faceType = org.apache.spark.sql.types.StructType(f.schema.fields)
      val rows = f.select(
        v.faceKeys.map(col) ++ Seq(
          lit("insert").as("op"),
          lit(null).cast(faceType).as("before"),
          struct(f.columns.toSeq.map(col): _*).cast(faceType)
            .as("after")): _*)
      rows.repartition(v.faceKeys.map(col): _*).write.mode("overwrite")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "true")
        .parquet(dir)
      require(fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS")),
        s"seed snapshot at $dir lost its _SUCCESS marker")
      fs.create(new org.apache.hadoop.fs.Path(dir, "_snapshot"), true)
        .close()
    }
    // marker BEFORE the swap (see crash discipline above)
    fs.create(new org.apache.hadoop.fs.Path(
      rootPath, seedHorizonMarker(ts0)), true).close()
    swapGeneration(spark, s"$rootPath/current") { tmp =>
      stNext.write.mode("overwrite").parquet(s"$tmp/state")
      vs.zip(nexts).foreach { case (v, s) =>
        v.files(s).foreach { case (fn, df) =>
          df.write.mode("overwrite").parquet(s"$tmp/${v.name}__$fn") }
      }
      vs.zip(faces).foreach { case (v, f) =>
        f.write.mode("overwrite").parquet(s"$tmp/${v.name}__view") }
    }
  }

  /** Post-batch drift policy for [[maintainTableViewsToParquet]]:
    * after every committed batch, read the `driftName` face and run
    * [[retrainAnnIvf]]`(name, idCol, vecCol, k, seed)` when the
    * corpus-weighted mean assignment distance exceeds `maxAvgDist`
    * (the [[retrainAnnIvfIfDrifted]] predicate). Register the pair in
    * codebook-following form ([[NamedTableView.annIvfFollowing]] /
    * [[NamedTableView.annDriftFollowing]]). */
  final case class AnnDriftPolicy(name: String, driftName: String,
                                  idCol: String, vecCol: String,
                                  k: Int, maxAvgDist: Double,
                                  seed: Long = 42L)

  /** SQL CATALOG surface over PERSISTED maintained faces: register each
    * view's current face (`<name>__view` of the live generation) as a
    * session temp view, so the whole maintained surface is reachable
    * through plain `spark.sql("SELECT … FROM <name>")` — no engine API
    * in the read path, and the plan is a read of the face file, never a
    * rebuild or a changelog fold. Complements the [[graft.plans
    * .GraftExtensions]] function registry (`vec_dot`, the sketch
    * families) so SQL-first consumers get both the functions AND the
    * faces.
    *
    * Generations are immutable snapshots and the parquet file listing
    * is captured at registration — RE-REGISTER after every stream drain
    * or [[retrainAnnIvf]] (the swap replaces the files under the same
    * path); a long-lived temp view over a swapped-away generation reads
    * stale or missing files. */
  def registerFaceViews(spark: SparkSession, rootPath: String,
                        viewNames: Seq[String]): Unit = {
    val root = liveGenerationRoot(spark, s"$rootPath/current").getOrElse(
      throw new IllegalStateException(
        s"registerFaceViews: no generation at $rootPath/current"))
    viewNames.foreach { n =>
      spark.read.parquet(s"$root/${n}__view").createOrReplaceTempView(n)
    }
  }

  /** The live codebook of a persisted [[NamedTableView.annIvf]] view —
    * what a restarting runner passes to `annIvf(...)` so the maintainer
    * always assigns with the SAME quantizer the persisted index was
    * built (or last retrained) with. None when no generation exists
    * yet; a pre-v2 generation (no codebook file) surfaces through
    * [[maintainTableViewsToParquet]]'s restore as the explicit
    * format refusal, not here. */
  def readAnnCodebook(spark: SparkSession, rootPath: String,
                      name: String): Option[Seq[(Long, Seq[Float])]] =
    liveGenerationRoot(spark, s"$rootPath/current").flatMap { r =>
      val p = new org.apache.hadoop.fs.Path(s"$r/${name}__codebook")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else Some(graft.similarity.AnnIndexView.localCentroids(
        spark.read.parquet(p.toString)))
    }

  /** RETRAIN-AND-SWAP for a persisted [[NamedTableView.annIvf]] view —
    * the refresh path the `cdc_ann_drift` monitor calls for, run
    * between stream drains (the AvailableNow stop/start discipline):
    * train a fresh coarse quantizer on the generation's LIVE corpus,
    * rebuild the assignment in one pass
    * ([[graft.similarity.AnnIndexView.retrain]]), and promote the
    * rebuilt (assignment, codebook, face) as ONE new generation through
    * the SAME atomic swap every state write uses — every other file of
    * the generation (table state, sibling views, the applied-batch
    * marker) is carried over byte-for-byte, so readers keep the old
    * index until the promote and a crash leaves the old generation
    * live. Returns the new codebook; the next
    * [[maintainTableViewsToParquet]] run must construct its `annIvf`
    * view from [[readAnnCodebook]] (the returned value) — restarting
    * with the stale codebook would assign new deltas against the old
    * quantizer while serving the retrained lists.
    *
    * Changelog semantics: a retrain is an INDEX-EPOCH swap, not a
    * row-level delta — the view's changelog gets the retrained face
    * installed as a SNAPSHOT batch at the last committed horizon
    * ([[compactViewChanges]]'s consumer contract), so
    * [[viewAsOfBatch]] at or past the horizon folds from the retrained
    * face and later real deltas stack on top; history below the
    * horizon keeps folding from the surviving prefix. Incremental JDBC
    * mirrors that already applied the horizon batch must RE-SEED from
    * the face (the snapshot replaces a batch their progress already
    * covers — [[applyViewChangesToJdbc]] will not re-apply it).
    *
    * Crash safety is the [[compactViewChanges]] side + marker
    * protocol, ordered so NO window is silent: (1) the snapshot is
    * written and committed to a SIDE directory first (nothing live
    * touched); (2) the generation swap carries a
    * `<name>__retrain_pending_<horizon>` marker file inside the new
    * generation; (3) the side renames over `batch=<horizon>` and only
    * then the marker is cleared. A crash before (2) leaves everything
    * old (a stale side the next retrain sweeps); a crash between (2)
    * and (3) — the window where the generation serves the retrained
    * face while the changelog still holds the old-epoch delta, which
    * folds and mirrors would otherwise consume SILENTLY — is named by
    * the marker: [[healRetrainPending]] finishes the rename from the
    * committed side copy, and both re-running retrainAnnIvf and the
    * next [[maintainTableViewsToParquet]] batch heal it before
    * touching the view.
    *
    * Single-writer: the retrain and the stream writer are both
    * generation swappers on the same root, so their mutual exclusion
    * is EXPLICIT — retrainAnnIvf takes `_retrain_inprogress` (atomic
    * create; refused if present) and then refuses if the stream's
    * `_batch_inprogress` marker exists; the stream's batch body sets
    * its marker first and THEN checks the retrain lock (check-after-
    * set on both sides, so a race is seen by at least one). Drain the
    * stream (AvailableNow stop/start discipline) before retraining. */
  def retrainAnnIvf(spark: SparkSession, rootPath: String, name: String,
                    idCol: String, vecCol: String, k: Int,
                    seed: Long = 42L,
                    driftName: Option[String] = None)
      : Seq[(Long, Seq[Float])] =
    retrainAnnIvfImpl(spark, rootPath, name, idCol, vecCol, k, seed,
                      driftName, failBeforeFinish = false)

  /** [[retrainAnnIvf]] with the crash-window test seam:
    * `failBeforeFinish` dies AFTER the generation swap (step 2) and
    * BEFORE the snapshot install (step 3) — the exact window the
    * pending-marker protocol exists for — through the REAL code path,
    * so the spec reproduces the crash state instead of hand-building
    * it. */
  private[streaming] def retrainAnnIvfImpl(
      spark: SparkSession, rootPath: String, name: String,
      idCol: String, vecCol: String, k: Int, seed: Long,
      driftName: Option[String], failBeforeFinish: Boolean)
      : Seq[(Long, Seq[Float])] = {
    import graft.similarity.AnnIndexView
    val cur = s"$rootPath/current"
    val conf = spark.sparkContext.hadoopConfiguration
    val fsRoot = new org.apache.hadoop.fs.Path(rootPath)
      .getFileSystem(conf)
    val lock = new org.apache.hadoop.fs.Path(rootPath,
                                             "_retrain_inprogress")
    // take the retrain lock FIRST (atomic create — a second concurrent
    // retrain fails here), then check the stream's batch marker
    try fsRoot.create(lock, false).close()
    catch { case _: java.io.IOException if fsRoot.exists(lock) =>
      throw new IllegalStateException(
        s"retrainAnnIvf: $lock exists — another retrain is in progress " +
          s"on this root (or a prior one died without cleanup). Verify " +
          s"none is running, then remove the file to proceed.")
    }
    try {
      val batchMarker = new org.apache.hadoop.fs.Path(rootPath,
                                                      "_batch_inprogress")
      if (fsRoot.exists(batchMarker))
        throw new IllegalStateException(
          s"retrainAnnIvf: $batchMarker exists — a stream batch is " +
            s"mid-flight on this root (or a runner crashed mid-batch). " +
            s"Drain the stream (AvailableNow) before retraining; if the " +
            s"runner is dead, remove the file to proceed.")
      // finish any crashed retrain's pending snapshot before starting a
      // new epoch, and sweep stale (never-promoted) side directories
      healRetrainPending(spark, rootPath)
      val vroot = s"$rootPath/$name"
      (vroot +: driftName.map(d => s"$rootPath/$d").toSeq).foreach { vr =>
        val chDir = new org.apache.hadoop.fs.Path(s"$vr/changes")
        if (fsRoot.exists(chDir)) fsRoot.listStatus(chDir).foreach { st =>
          if (st.getPath.getName.startsWith("retrain_tmp_"))
            fsRoot.delete(st.getPath, true) // pre-swap crash leftovers
        }
      }
      val root = liveGenerationRoot(spark, cur).getOrElse(
        throw new IllegalStateException(
          s"no generation at $cur to retrain"))
      val live = Materializer.liveView(spark.read.parquet(s"$root/state"))
      val (codebook, assigned0) =
        AnnIndexView.retrain(live, idCol, vecCol, k, seed)
      // materialize BEFORE the swap demotes the generation the plan reads
      val assigned = assigned0.localCheckpoint()
      // The sibling DRIFT monitor's moments are distances to the OLD
      // centroids — carrying them across the epoch swap would leave the
      // monitor reporting stale-epoch drift against a fresh quantizer
      // forever. Rebuild them against the NEW codebook through the SAME
      // maintained algebra (the maintainer's fold over synthesized
      // insert events of the live corpus == the maintained state a
      // from-scratch replay would reach — the stepwise==from-scratch
      // invariant read in reverse), so the next stream run resumes an
      // epoch-coherent state.
      val driftRebuilt: Option[(String, DataFrame, DataFrame)] =
        driftName.map { dn =>
          val m = AnnIndexView.driftMaintainer(idCol, vecCol, codebook)
          val afterT = org.apache.spark.sql.functions.struct(
            col(idCol), col(vecCol))
          val ev = live.select(
            lit("insert").as("op"), lit("").as("database"),
            lit("").as("table"), lit(0L).as("ts"), lit(0L).as("seq"),
            lit(null).cast(live.select(afterT).schema.head.dataType)
              .as("before"),
            afterT.as("after"),
            lit(null).cast("array<string>").as("changed_cols"))
          val ctx = graft.cdc.TableViews.BatchCtx(ev, None,
            ev.limit(0), ev.limit(0), Seq(idCol),
            graft.cdc.JoinView.DefaultMaxLocalKeys)
          val st = m.step(m.empty(ev.limit(0), Seq(idCol)), ctx)
            .localCheckpoint()
          (dn, st, AnnIndexView.driftView(st).localCheckpoint())
        }
      val horizon = committedBatchIds(spark, vroot).lastOption
      val driftHorizon = driftRebuilt.flatMap { case (dn, _, _) =>
        committedBatchIds(spark, s"$rootPath/$dn").lastOption
          .map(h => (dn, h))
      }
      // (1) durable sides FIRST ([[writeFaceSnapshotSide]] — the shared
      // snapshot-commit writer); nothing live is touched yet
      horizon.foreach(h => writeFaceSnapshotSide(spark, vroot, assigned,
        h, s"$vroot/changes/retrain_tmp_$h"))
      driftHorizon.foreach { case (dn, h) =>
        writeFaceSnapshotSide(spark, s"$rootPath/$dn", driftRebuilt.get._3,
          h, s"$rootPath/$dn/changes/retrain_tmp_$h")
      }
      // (2) promote the retrained generation, carrying the pending
      // markers that name the not-yet-installed snapshots
      swapGeneration(spark, cur) { tmp =>
        val rootP = new org.apache.hadoop.fs.Path(root)
        val fs = rootP.getFileSystem(conf)
        val skip = Set(s"${name}__assigned", s"${name}__codebook",
                       s"${name}__view") ++
          driftRebuilt.map(_._1).toSet
            .flatMap((d: String) => Set(s"${d}__moments", s"${d}__view",
                                        s"${d}__codebook"))
        val tmpP = new org.apache.hadoop.fs.Path(tmp)
        fs.mkdirs(tmpP)
        // driver-side O(files) sibling copy: fine for a per-epoch
        // operation at any plausible generation file count (a handful
        // of state/view directories + markers); if generations ever
        // hold thousands of files, batch this through DistCp or a
        // listing-parallel copy instead
        fs.listStatus(rootP).foreach { st =>
          if (!skip(st.getPath.getName))
            org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
              new org.apache.hadoop.fs.Path(tmpP, st.getPath.getName),
              false, conf)
        }
        assigned.write.mode("overwrite").parquet(s"$tmp/${name}__assigned")
        AnnIndexView.centroidDf(spark, codebook)
          .write.mode("overwrite").parquet(s"$tmp/${name}__codebook")
        assigned.write.mode("overwrite").parquet(s"$tmp/${name}__view")
        driftRebuilt.foreach { case (dn, st, faceDf) =>
          st.write.mode("overwrite").parquet(s"$tmp/${dn}__moments")
          AnnIndexView.centroidDf(spark, codebook)
            .write.mode("overwrite").parquet(s"$tmp/${dn}__codebook")
          faceDf.write.mode("overwrite").parquet(s"$tmp/${dn}__view")
        }
        horizon.foreach { h =>
          fs.create(new org.apache.hadoop.fs.Path(tmp,
            s"${name}__retrain_pending_$h")).close()
        }
        driftHorizon.foreach { case (dn, h) =>
          fs.create(new org.apache.hadoop.fs.Path(tmp,
            s"${dn}__retrain_pending_$h")).close()
        }
      }
      if (failBeforeFinish)
        throw new IllegalStateException(
          "retrainAnnIvf test seam: crash between the generation swap " +
            "and the snapshot install")
      // (3) finish: install the snapshot from the committed side, then
      // clear the pending marker — exactly what healRetrainPending does
      // after a crash in this window
      healRetrainPending(spark, rootPath)
      codebook
    } finally fsRoot.delete(lock, false)
  }

  /** Finish any [[retrainAnnIvf]] whose crash fell between its
    * generation swap and its changelog-snapshot install: each
    * `<view>__retrain_pending_<h>` marker in the live generation names
    * a committed side snapshot at `<view>/changes/retrain_tmp_<h>` —
    * rename it over `batch=<h>` (idempotent: a completed rename with a
    * lost marker delete just clears the marker) and remove the marker.
    * Returns the number of pending retrains finished. Called by
    * retrainAnnIvf itself (entry + step 3), by every
    * [[maintainTableViewsToParquet]] batch BEFORE it folds, and by the
    * uncoordinated changelog CONSUMER surfaces
    * ([[healRetrainPendingFor]]) — so concurrent heals are serialized
    * under a `_heal_inprogress` lock in the live generation: without
    * it, two healers could interleave inside the install (A renames
    * side→batch and deletes the marker; B, past its side check, then
    * deletes the freshly installed batch and its rename fails because
    * side is gone — destroying the horizon batch the heal exists to
    * protect). The lock is taken ONLY when a pending marker exists, so
    * the no-marker hot path stays one listing. A healer that finds the
    * lock held waits briefly (heals are one rename) and then fails
    * loudly naming the file, matching the other locks' discipline. */
  /** Same-JVM heal serialization, keyed by generation root (see
    * [[healRetrainPending]]'s lock rationale). */
  private val healMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def healRetrainPending(spark: SparkSession, rootPath: String,
                         viewName: Option[String] = None,
                         lockWaitMs: Long = 30000): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    liveGenerationRoot(spark, s"$rootPath/current").map { r =>
      val rootP = new org.apache.hadoop.fs.Path(r)
      val fs = rootP.getFileSystem(conf)
      def listPending(): Seq[String] = fs.listStatus(rootP).toSeq
        .map(_.getPath.getName).filter(_.contains("__retrain_pending_"))
        .filter(mk => viewName.forall(v =>
          mk.startsWith(s"${v}__retrain_pending_")))
      if (listPending().isEmpty) 0
      // SAME-JVM serialization first (local[*] consumers share the
      // driver JVM — and RawLocalFileSystem's create-exclusive is
      // check-then-act, NOT atomic, so the file lock alone cannot
      // arbitrate same-JVM healers); the FILE lock below arbitrates
      // cross-process healers on filesystems where create-exclusive is
      // atomic (HDFS), best-effort elsewhere.
      else healMonitors.computeIfAbsent(rootP.toString, _ => new Object)
          .synchronized {
        val healLock = new org.apache.hadoop.fs.Path(
          rootP, "_heal_inprogress")
        val deadline = System.nanoTime() + lockWaitMs * 1000 * 1000
        var locked = false
        while (!locked) {
          try { fs.create(healLock, false).close(); locked = true }
          catch { case e: java.io.IOException =>
            if (System.nanoTime() > deadline)
              throw new IllegalStateException(
                s"healRetrainPending: could not take $healLock within " +
                  s"${lockWaitMs}ms — another heal is stuck or its " +
                  s"process died mid-install. Verify none is running, " +
                  s"then remove the file.", e)
            // held: wait-and-retry. NOT held: the holder released it
            // between our create and this check — retry immediately
            // (treating that as contention would throw the holder's
            // own exception path at the poor loser of a benign race).
            if (fs.exists(healLock)) Thread.sleep(100)
          }
        }
        try {
          // re-list under the lock — the healer we waited on may have
          // finished some (or all) of the markers we saw
          val pending = listPending()
          pending.foreach { mk =>
            val parts = mk.split("__retrain_pending_", 2)
            require(parts.length == 2 && parts(0).nonEmpty &&
                parts(1).nonEmpty && parts(1).forall(_.isDigit),
              s"healRetrainPending: malformed retrain-pending marker " +
                s"'$mk' in $rootP — expected <view>__retrain_pending_<h> " +
                s"with a numeric horizon; remove or rename the foreign " +
                s"file to proceed")
            val (vn, h) = (parts(0), parts(1).toLong)
            val side = new org.apache.hadoop.fs.Path(
              s"$rootPath/$vn/changes/retrain_tmp_$h")
            val dst = new org.apache.hadoop.fs.Path(
              s"$rootPath/$vn/changes/batch=$h")
            if (fs.exists(new org.apache.hadoop.fs.Path(side, "_SUCCESS")))
              installSnapshotSide(fs, side, dst, "healRetrainPending")
            else require(fs.exists(
                new org.apache.hadoop.fs.Path(dst, "_snapshot")),
              s"healRetrainPending: marker $mk names horizon $h but " +
                s"neither a committed side copy nor an installed " +
                s"snapshot exists — torn state; re-run retrainAnnIvf " +
                s"to rebuild the epoch")
            fs.delete(new org.apache.hadoop.fs.Path(rootP, mk), false)
          }
          pending.size
        } finally fs.delete(healLock, false)
      }
    }.getOrElse(0)
  }

  /** [[healRetrainPending]] scoped to ONE view's changelog root, called
    * by every changelog CONSUMER surface ([[viewAsOfBatch]],
    * [[compactViewChanges]], [[applyViewChangesToJdbc]]) before it
    * touches the log — so a crashed retrain's pending snapshot can
    * never be consumed in its old-epoch shape no matter which surface
    * reaches the log first (a compaction would otherwise BAKE the
    * old-epoch horizon delta into a later snapshot that permanently
    * shadows the retrained face). Derives the generation root from the
    * fan-out layout (`<tableRoot>/<view>` beside `<tableRoot>/current`);
    * a root not under that layout has no marker and no-ops. */
  private def healRetrainPendingFor(spark: SparkSession,
                                    viewRoot: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(viewRoot)
    Option(p.getParent).foreach { parent =>
      healRetrainPending(spark, parent.toString, Some(p.getName))
    }
  }

  /** Finish a snapshot swap: ensure the side's `_snapshot` marker,
    * clear `dst`, rename the side into place — the ONE install protocol
    * shared by [[compactViewChanges]]'s normal and self-heal branches
    * and [[healRetrainPending]], so the commit-marker discipline cannot
    * drift between them. */
  private def installSnapshotSide(fs: org.apache.hadoop.fs.FileSystem,
                                  side: org.apache.hadoop.fs.Path,
                                  dst: org.apache.hadoop.fs.Path,
                                  who: String): Unit = {
    def installedByOther(): Boolean = // side consumed AND dst committed
      !fs.exists(side) &&
        fs.exists(new org.apache.hadoop.fs.Path(dst, "_snapshot"))
    if (installedByOther()) return // a concurrent installer won — done
    val marker = new org.apache.hadoop.fs.Path(side, "_snapshot")
    if (!fs.exists(marker)) fs.create(marker).close()
    if (fs.exists(dst))
      require(fs.delete(dst, true),
        s"$who: could not remove $dst for the swap")
    require(fs.rename(side, dst) || installedByOther(),
      s"$who: rename $side -> $dst failed")
  }

  /** Close the monitor→refresh loop: read the maintained drift face
    * (a [[NamedTableView.annDrift]] sibling of the [[NamedTableView
    * .annIvf]] view, persisted as `<driftName>__view`) from the live
    * generation, and when the corpus-weighted mean assignment distance
    * Σ(n_vecs · avg_dist)/Σn_vecs exceeds `maxAvgDist`, run
    * [[retrainAnnIvf]] — which also REBUILDS the drift state against
    * the new codebook, so the monitor reads epoch-coherent after the
    * swap — returning the new codebook the next stream run must
    * construct both views from. A healthy face returns None and
    * touches nothing. The threshold is the deployment's call (the
    * spec plants drift an order of magnitude over a healthy corpus's
    * mean, so any sane line separates them); the read is |C|-bounded.
    * Inherits retrainAnnIvf's single-writer guard. */
  def retrainAnnIvfIfDrifted(spark: SparkSession, rootPath: String,
                             name: String, driftName: String,
                             idCol: String, vecCol: String, k: Int,
                             maxAvgDist: Double, seed: Long = 42L)
      : Option[Seq[(Long, Seq[Float])]] = {
    val root = liveGenerationRoot(spark, s"$rootPath/current").getOrElse(
      throw new IllegalStateException(
        s"retrainAnnIvfIfDrifted: no generation at $rootPath/current"))
    val row = spark.read.parquet(s"$root/${driftName}__view")
      .agg((sum(col("n_vecs") * col("avg_dist")) / sum(col("n_vecs")))
        .as("mean_dist"))
      .head()
    val meanDist = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
    if (meanDist > maxAvgDist)
      Some(retrainAnnIvf(spark, rootPath, name, idCol, vecCol, k, seed,
                         driftName = Some(driftName)))
    else None
  }

  /** JDBC variant of the materialized-state sink (BASELINE.json
    * `spark_approach`: "Structured Streaming + JDBC sink"). Same
    * event-time-correct merge as the parquet path (Materializer.merge with
    * retained tombstones), and the same generation discipline: the merged
    * state is written to a STAGING table (`<table>__stage`) — never to the
    * table the merge is reading from — then promoted with table renames
    * (demote live to `<table>__old`, promote stage to live). A failed
    * write leaves the live table untouched; a crash mid-swap leaves
    * `__old` for the replayed batch to fall back to. Spark's JDBC writer
    * has no MERGE — production points this at a dialect with upsert
    * (INSERT ... ON CONFLICT per partition) for incrementality. */
  def materializeToJdbc(envelope: DataFrame, spec: TableSpec,
                        url: String, table: String, checkpointPath: String,
                        props: java.util.Properties = new java.util.Properties())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val events = changeEvents(envelope, spec)
    validSqlIdentifier(table)
    val stage = table + "__stage"
    val oldT = table + "__old"
    events.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointPath)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val spark = batch.sparkSession
        val batchEvents = batch.select("op", "ts", "seq", "after")
        // distinguish "table does not exist yet" (first batch) from
        // transient JDBC failures: the latter must propagate and fail the
        // batch so the checkpoint retries — treating them as first-batch
        // would overwrite the whole table with this batch alone. A live
        // table missing but `__old` present = crash mid-swap: replay the
        // batch against the demoted generation (parquet readState analogue)
        // lazy-pin the prior state: merge's delta-restricted plan scans it
        // twice (untouched anti + touched semi), and a JDBC read is
        // typically a single-partition round trip worth doing once
        val merged =
          if (jdbcTableExists(url, table, props))
            Materializer.merge(
              spark.read.jdbc(url, table, props).localCheckpoint(false),
              batchEvents, spec.primaryKey)
          else if (jdbcTableExists(url, oldT, props))
            Materializer.merge(
              spark.read.jdbc(url, oldT, props).localCheckpoint(false),
              batchEvents, spec.primaryKey)
          else Materializer.compact(batchEvents, spec.primaryKey)
        // stage write: reads the live generation, writes elsewhere — no
        // read-own-truncation lineage hazard, no persist needed, and a
        // mid-write executor failure leaves the live table complete
        merged.write.mode("overwrite")
          // __op must be comparable to literals on read-back; some
          // dialects (Derby) map StringType to CLOB which is not
          .option("createTableColumnTypes", "__op VARCHAR(16)")
          .jdbc(url, stage, props)
        // promote. Invariant (same as the parquet swap): at every instant
        // at least one COMPLETE generation (live or __old) is READABLE by
        // the recovery path. Mirroring the parquet swap, the stale __old
        // is dropped ONLY while a live table still exists to demote: on
        // the crash-recovery path (live absent, state merged from __old),
        // dropping __old before promoting stage would open a window where
        // a second crash leaves no generation the read path consults —
        // the replayed batch would silently rebuild state from one batch.
        // Instead the stale __old survives until the next successful
        // promote reaps it.
        val conn = jdbcConnect(url, props)
        try {
          val st = conn.createStatement()
          try {
            if (jdbcTableExists(url, table, props)) {
              if (jdbcTableExists(url, oldT, props))
                st.executeUpdate(s"DROP TABLE $oldT") // live still readable
              renameTable(st, table, oldT) // crash here -> __old readable
            }
            renameTable(st, stage, table)
          } finally st.close()
        } finally conn.close()
        ()
      }
      .start()
  }

  /** Health snapshot of a maintained-view root, for monitoring/lag
    * dashboards. `viewFile` names a runner's face, `<name>__view`;
    * `appliedBatch` is the batch id recorded on the LIVE generation (-1
    * before the first marker); `viewRows` counts that face;
    * `changesBatches` is the `[lo, hi]` batch-id range present in the
    * view's changes log `<rootPath>/<name>/changes` (retention window —
    * what [[viewAsOfBatch]] can still reconstruct and what a catching-up
    * [[applyViewChangesToJdbc]] consumer can still drain). */
  final case class ViewStats(appliedBatch: Long, viewRows: Long,
                             changesBatches: Option[(Long, Long)])

  def viewStats(spark: SparkSession, rootPath: String,
                viewFile: String): ViewStats = {
    require(viewFile.endsWith("__view"),
      s"viewStats: '$viewFile' is not a runner face — a view runner " +
        s"persists view <name> as the file '<name>__view'")
    val root = liveGenerationRoot(spark, s"$rootPath/current")
      .getOrElse(throw new IllegalStateException(s"no state at $rootPath"))
    val dir = new org.apache.hadoop.fs.Path(root)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val applied = fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("_applied_"))
      .flatMap(n => scala.util.Try(n.stripPrefix("_applied_").toLong).toOption)
      .sorted.lastOption.getOrElse(-1L)
    val rows = spark.read.parquet(s"$root/$viewFile").count()
    // committed dirs only — a torn batch a concurrent producer is
    // writing is not yet part of the drainable/reconstructable window
    val ids = committedBatchIds(spark,
      s"$rootPath/${viewFile.stripSuffix("__view")}")
    val batches = if (ids.isEmpty) None else Some((ids.min, ids.max))
    ViewStats(applied, rows, batches)
  }

  /** Serve a maintained view from a JDBC table INCREMENTALLY: apply the
    * unapplied suffix of the view's emitted changelog
    * ([[readViewChanges]]) as keyed DML — DELETE for deletes, portable
    * DELETE+INSERT upsert for inserts/updates — instead of rewriting the
    * whole table per batch ([[materializeToJdbc]]'s unavoidable shape for
    * STATE tables, since Spark's JDBC writer has no MERGE). Per call the
    * cost is |unapplied changes| DML statements, compacted to the LAST
    * change per key first — the dashboard-serving pattern at scale: a
    * 100 TB pipeline's per-nation revenue view is a few hundred rows of
    * DML per batch, not a table rewrite.
    *
    * Effectively-once: a one-row `<table>__progress` marker records the
    * highest applied batch id; already-applied batches are filtered out
    * on the next call, and a crash between DML and marker re-applies an
    * idempotent suffix (DELETE+INSERT converges). View keys must be
    * non-null (SQL `=` matching; NULL-group views need a sentinel
    * projection before serving). Returns the number of keys applied. */
  def applyViewChangesToJdbc(spark: SparkSession, rootPath: String,
      keyCols: Seq[String], url: String, table: String,
      props: java.util.Properties = new java.util.Properties()): Long = {
    import org.apache.spark.sql.types.{StructType, StringType}
    validSqlIdentifier(table)
    // consumer-side heal (see [[healRetrainPendingFor]]): the mirror
    // must never apply an old-epoch horizon delta a crashed retrain
    // left behind
    healRetrainPendingFor(spark, rootPath)
    val progress = table + "__progress"
    val appliedUpTo: Long =
      if (!jdbcTableExists(url, progress, props)) -1L
      else {
        val conn = jdbcConnect(url, props)
        try {
          val rs = conn.createStatement()
            .executeQuery(s"SELECT last_batch FROM $progress")
          if (rs.next()) rs.getLong(1) else -1L
        } finally conn.close()
      }
    // CONTINUITY GUARD: if retention ([[pruneViewChanges]]) has dropped
    // batches this consumer never applied, folding the surviving suffix
    // would silently skip deltas and corrupt the serving table. Checked
    // against the COMMITTED batch directories (an empty batch writes a
    // dir with zero rows, so a row-level minimum would false-positive;
    // pruning only ever drops a prefix; and a torn directory a
    // concurrent producer is mid-writing must be invisible — see
    // [[committedBatchIds]] — so a crash cannot record a half-written
    // batch in `__progress`). Fail loudly — the pruning contract is
    // "a consumer's own offset is a safe keepFrom", and a violated
    // contract must not look like a successful catch-up. Recover by
    // dropping the serving table and its progress marker, then replaying
    // (sound iff the surviving history reaches batch 0) or re-seeding
    // the table from the view itself.
    val dirIds = committedBatchIds(spark, rootPath)
    if (dirIds.isEmpty || dirIds.max <= appliedUpTo) return 0L
    require(dirIds.min <= appliedUpTo + 1,
      s"applyViewChangesToJdbc: changelog gap — last applied batch " +
        s"$appliedUpTo but earliest surviving batch is ${dirIds.min} " +
        s"(retention pruned past this consumer); re-seed $table from the view")
    // a SNAPSHOT batch ([[compactViewChanges]]) inside the unapplied
    // range is all-insert rows standing in for a folded delta — it
    // cannot reconstruct the deletes the original deltas carried, so
    // applying it would leave dead keys alive in the serving table.
    // Fail loudly (the compaction contract is `upTo` ≤ every incremental
    // consumer's applied offset — the pruning contract verbatim).
    val snappedUnapplied =
      snapshotIds(spark, rootPath).filter(_ > appliedUpTo)
    require(snappedUnapplied.isEmpty,
      s"applyViewChangesToJdbc: snapshot batch(es) " +
        s"${snappedUnapplied.mkString(",")} inside the unapplied range " +
        s"(last applied $appliedUpTo) — compaction ran past this " +
        s"consumer; re-seed $table from the view")
    // read EXACTLY the ids captured above (one listing): a batch
    // committed between two listings would otherwise be applied while
    // `__progress` records only the earlier max — its rows re-applied
    // on the next call. Committed-only by construction, so the torn
    // batch a concurrent producer is mid-writing stays invisible.
    val ch = readViewChanges(spark, rootPath,
      dirIds.filter(_ > appliedUpTo))
    val hi = dirIds.max
    if (ch.isEmpty) {
      // only empty batches beyond the marker: nothing to apply
      return 0L
    }
    // last change per key across the unapplied suffix: intermediate
    // versions of a key are dead — one DML per key, however many batches
    // are being caught up on
    val last = ch.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(col("op"), col("after")), col("batch")).as("__l"))
    val rows = last.select(
      keyCols.map(col) ++ Seq(col("__l.op").as("__op"),
                              col("__l.after").as("__after")): _*)
    val afterSchema = ch.schema("after").dataType.asInstanceOf[StructType]
    if (!jdbcTableExists(url, table, props)) {
      // first call: create the serving table from the image schema. The
      // KEY columns get VARCHAR instead of the dialect's string default —
      // Derby maps StringType to CLOB, which cannot sit in a WHERE k = ?
      val keyTypes = keyCols
        .filter(k => afterSchema(k).dataType == StringType)
        .map(k => s"$k VARCHAR(255)").mkString(", ")
      val w = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], afterSchema).write.mode("ignore")
      (if (keyTypes.nonEmpty) w.option("createTableColumnTypes", keyTypes)
       else w).jdbc(url, table, props)
    }
    val cols = afterSchema.fieldNames.toSeq
    // Spark's JDBC writer creates the table with QUOTED (case-exact)
    // column identifiers — the DML must quote them too, or a
    // case-folding dialect (Derby upcases) misses the columns
    def q(c: String) = "\"" + c + "\""
    val delSql = s"DELETE FROM $table WHERE " +
      keyCols.map(k => s"${q(k)} = ?").mkString(" AND ")
    val insSql = s"INSERT INTO $table (${cols.map(q).mkString(", ")}) VALUES " +
      cols.map(_ => "?").mkString("(", ", ", ")")
    val nKeys = keyCols.size
    val applied = spark.sparkContext.longAccumulator("jdbc_view_dml")
    rows.foreachPartition { it: Iterator[Row] =>
      if (it.hasNext) {
        val conn = jdbcConnect(url, props)
        try {
          conn.setAutoCommit(false)
          val del = conn.prepareStatement(delSql)
          val ins = conn.prepareStatement(insSql)
          try {
            var n = 0
            it.foreach { r =>
              (0 until nKeys).foreach { i =>
                val v = r.get(i)
                require(v != null,
                  s"applyViewChangesToJdbc: NULL view key ${keyCols(i)} " +
                    "cannot be served over SQL `=`; project a sentinel first")
                del.setObject(i + 1, v)
              }
              del.addBatch()
              if (r.getString(nKeys) != "delete") {
                val img = r.getStruct(nKeys + 1)
                cols.indices.foreach(i => ins.setObject(i + 1, img.get(i)))
                ins.addBatch()
              }
              n += 1; applied.add(1L)
              if (n % 500 == 0) { del.executeBatch(); ins.executeBatch() }
            }
            del.executeBatch(); ins.executeBatch()
            conn.commit()
          } finally { del.close(); ins.close() }
        } finally conn.close()
      }
    }
    // marker AFTER the DML: a crash in between replays an idempotent
    // suffix rather than skipping one
    val conn = jdbcConnect(url, props)
    try {
      val st = conn.createStatement()
      try {
        if (!jdbcTableExists(url, progress, props))
          st.executeUpdate(s"CREATE TABLE $progress (last_batch BIGINT)")
        st.executeUpdate(s"DELETE FROM $progress")
        st.executeUpdate(s"INSERT INTO $progress VALUES ($hi)")
      } finally st.close()
    } finally conn.close()
    applied.value
  }

  /** Dialect-portable table rename: `RENAME TABLE a TO b` (Derby, MySQL),
    * falling back to `ALTER TABLE a RENAME TO b` (Postgres, SQLite).
    * The fallback fires ONLY when the first form is rejected as
    * unsupported syntax (SQLState class 42 = syntax/access-rule, 0A =
    * feature not supported, or SQLFeatureNotSupportedException) — a
    * non-syntax failure (target exists, lock timeout, permission) is a
    * REAL failed promote and must surface as itself, not be masked by the
    * fallback's unrelated error. */
  private def renameTable(st: java.sql.Statement,
                          from: String, to: String): Unit =
    try st.executeUpdate(s"RENAME TABLE $from TO $to")
    catch {
      case e: java.sql.SQLException if isSyntaxOrUnsupported(e) =>
        st.executeUpdate(s"ALTER TABLE $from RENAME TO $to")
    }

  private def isSyntaxOrUnsupported(e: java.sql.SQLException): Boolean = {
    val state = Option(e.getSQLState).getOrElse("")
    e.isInstanceOf[java.sql.SQLFeatureNotSupportedException] ||
      state.startsWith("42") || state.startsWith("0A")
  }

  /** Table-existence probe via JDBC metadata (connection failures
    * propagate — only a definitive "no such table" selects the
    * first-batch path in [[materializeToJdbc]]). Handles:
    *  - schema-qualified names, probing the prefix as BOTH schema and
    *    catalog (MySQL-family drivers expose databases as catalogs);
    *  - unqualified names scoped to the CONNECTION'S current
    *    schema/catalog (not any-schema, which would false-positive on a
    *    same-named table owned by another schema);
    *  - the `driver` property, loaded via the context classloader and
    *    used directly when DriverManager can't see it (--jars live on
    *    Spark's mutable classloader, invisible to DriverManager's caller
    *    check — same reason Spark has DriverRegistry);
    *  - LIKE-wildcard escaping (`_`/`%`) so `orders_state` can't match an
    *    unrelated `ordersXstate`. */
  /** Reject table names that cannot be interpolated into DDL/DML as bare
    * identifiers. The serving paths build `CREATE/DELETE/INSERT/RENAME`
    * statements by string interpolation (JDBC has no parameter binding
    * for identifiers), so a name carrying quotes, spaces, or statement
    * separators would be a SQL injection vector — restrict to plain
    * (optionally schema-qualified) identifiers up front. */
  private[streaming] def validSqlIdentifier(name: String): String = {
    require(name.matches(
        "[A-Za-z_][A-Za-z0-9_$]*(\\.[A-Za-z_][A-Za-z0-9_$]*)?"),
      s"illegal SQL table identifier '$name': only plain " +
        "(schema-qualified) identifiers can be served")
    name
  }

  private def jdbcConnect(url: String,
                          props: java.util.Properties): java.sql.Connection =
    Option(props.getProperty("driver")) match {
      case None => java.sql.DriverManager.getConnection(url, props)
      case Some(cls) =>
        val driver = Class.forName(cls, true,
            Thread.currentThread().getContextClassLoader)
          .getDeclaredConstructor().newInstance()
          .asInstanceOf[java.sql.Driver]
        // direct connect bypasses DriverManager's caller-classloader check
        val conn = driver.connect(url, props)
        if (conn == null) throw new java.sql.SQLException(
          s"driver $cls rejected url $url")
        conn
    }

  private def jdbcTableExists(url: String, table: String,
                              props: java.util.Properties): Boolean = {
    val conn = jdbcConnect(url, props)
    try {
      val md = conn.getMetaData
      val (prefix, tablePart) = table.lastIndexOf('.') match {
        case -1 => (null: String, table)
        case i  => (table.substring(0, i), table.substring(i + 1))
      }
      val esc = md.getSearchStringEscape
      def escape(s: String): String =
        if (s == null) null
        else s.replace(esc, esc + esc)
          .replace("_", esc + "_").replace("%", esc + "%")
      def probe(catalog: String, schema: String, name: String): Boolean = {
        val rs = md.getTables(catalog, escape(schema), escape(name), null)
        try rs.next() finally rs.close()
      }
      def variants(s: String): Seq[String] =
        if (s == null) Seq(null) else Seq(s, s.toUpperCase, s.toLowerCase)
      val scopes: Seq[(String, String)] =
        if (prefix != null)
          // qualified: prefix as schema (Postgres/Derby) or catalog (MySQL)
          variants(prefix).flatMap(p => Seq((null, p), (p, null)))
        else {
          // unqualified: the connection's own scope
          val cat = scala.util.Try(conn.getCatalog).toOption.flatMap(Option(_))
          val sch = scala.util.Try(conn.getSchema).toOption.flatMap(Option(_))
          Seq((cat.orNull, sch.orNull))
        }
      scopes.exists { case (c, s) =>
        variants(tablePart).exists(t => probe(c, s, t))
      }
    } finally conn.close()
  }

  /** Event-time windowed aggregation with watermark (late data beyond the
    * watermark is dropped — the event-time reasoning the reference never
    * had, SURVEY.md §2.2 streaming row). */
  def windowedCounts(events: DataFrame, tsCol: String, watermark: String,
                     window_ : String, keyCol: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("ws"), col(keyCol), col("n"),
              col("sum_value"))

  /** Session window variant. */
  def sessionCounts(events: DataFrame, tsCol: String, watermark: String,
                    gap: String, keyCol: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("ws"),
              col("session_window.end").as("we"), col(keyCol), col("n"))

  /** Stream-static join: enrich streaming change events with a static
    * dimension table (SURVEY.md §2.2 joins row). The static side is
    * re-planned per micro-batch (picking up dimension updates between
    * batches) and broadcast when small — no state, no watermark needed
    * for this join type. */
  def enrichWithDimension(events: DataFrame, dim: DataFrame,
                          eventKey: String, dimKey: String): DataFrame =
    events.join(broadcast(dim), events(eventKey) === dim(dimKey), "left_outer")

  /** Stream-stream interval join: match rows of two event streams on a
    * key within a time window (`leftTs` in [rightTs, rightTs + interval]).
    * Both sides are watermarked so the join state is bounded — Spark
    * evicts buffered rows once the watermark passes the interval. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String,
                   watermark: String, interval: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
      l(key) === r(key) &&
        l.col(leftTs) >= r.col(rightTs) &&
        l.col(leftTs) <= r.col(rightTs) + expr(s"INTERVAL $interval"))
  }

  /** Streaming dedup within a watermark (`dropDuplicatesWithinWatermark`):
    * state is bounded by the watermark horizon instead of growing forever. */
  def dedupWithinWatermark(events: DataFrame, tsCol: String,
                           watermark: String, keys: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** [[lastImagePerKey]] re-expressed on the `transformWithState` API
    * (Spark 4's `StatefulProcessor`: typed named state with explicit
    * lifecycle — the successor to flatMapGroupsWithState, with TTL,
    * timers, and multiple state variables when needed). Identical
    * semantics; requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass` =
    * `...state.RocksDBStateStoreProvider`), which is the provider a
    * large-state production job runs anyway. */
  def lastImagePerKeyTws(events: DataFrame, spark: SparkSession,
                         keyCol: String = "after.o_orderkey"): DataFrame = {
    import spark.implicits._
    val keyType = events.select(col(keyCol)).schema.head.dataType
    require(Seq("bigint", "int", "smallint", "tinyint")
              .contains(keyType.simpleString),
      s"lastImagePerKeyTws needs an integral key column; $keyCol is " +
        s"${keyType.sql}")
    val typed = events.select(
        col(keyCol).cast("long").as("key"), col("ts"), col("seq"), col("op"))
      .as[(Long, Long, Long, String)]
    typed.groupByKey(_._1)
      .transformWithState(new LastImageProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
      .toDF("key", "ts", "op")
  }

  /** Keeps the max-(ts, seq) event per key in a ValueState; emits the
    * key's current latest (ts, op) whenever the key sees input. */
  private class LastImageProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, String), (Long, Long, String)] {
    @transient private var last:
      org.apache.spark.sql.streaming.ValueState[(Long, Long, Long, String)] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      last = getHandle.getValueState[(Long, Long, Long, String)]("last",
        org.apache.spark.sql.Encoders.product[(Long, Long, Long, String)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long, String)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, String)] = {
      val candidates = rows ++ (if (last.exists()) Iterator.single(last.get())
                                else Iterator.empty)
      if (candidates.isEmpty) Iterator.empty
      else {
        val latest = candidates.maxBy(r => (r._2, r._3))
        last.update(latest)
        Iterator.single((key, latest._2, latest._4))
      }
    }
  }

  /** Last change-event image per key via explicit state
    * (`flatMapGroupsWithState`) — the arbitrary-stateful alternative to
    * foreachBatch merge, analogous to a handler keeping its own map. Kept
    * deliberately simple: emits the latest (ts, seq, op) row per key on
    * every trigger. */
  def lastImagePerKey(events: DataFrame, spark: SparkSession,
                      keyCol: String = "after.o_orderkey"): DataFrame = {
    import spark.implicits._
    val keyType = events.select(col(keyCol)).schema.head.dataType
    require(Seq("bigint", "int", "smallint", "tinyint")
              .contains(keyType.simpleString),
      s"lastImagePerKey needs an integral key column; $keyCol is " +
        s"${keyType.sql} (a silent cast would collapse all keys to NULL)")
    val typed = events.select(
        col(keyCol).cast("long").as("key"), col("ts"), col("seq"), col("op"))
      .as[(Long, Long, Long, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long, String), (Long, Long, String)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Long, Long, String)],
         state: GroupState[(Long, Long, Long, String)]) =>
          val candidates = rows ++ state.getOption.iterator
          if (candidates.isEmpty) Iterator.empty
          else {
            val latest = candidates.maxBy(r => (r._2, r._3))
            state.update(latest)
            Iterator.single((key, latest._2, latest._4))
          }
      }
      .toDF("key", "ts", "op")
  }
}
