package graft.streaming

import graft.SparkSpec
import graft.cdc.TableSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Changelog COMPACTION: folding the committed prefix into one snapshot
  * batch must preserve the fold contract — time travel at or after the
  * horizon, the live face, and a producer continuing on top — while
  * history behind the horizon fails loudly (pruning semantics), a
  * mid-range gap is refused, and an incremental JDBC consumer behind
  * the horizon is refused instead of silently losing deletes. */
class CompactionSpec extends SparkSpec {

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft_$tag").toString

  test("compacted changelog folds identically; guards fire behind the horizon") {
    import org.apache.spark.sql.types._
    val logDir = tmpDir("cplog")
    val stateRoot = tmpDir("cpstate")
    // the table runner's root; the view's own changelog lives under it
    val root = s"$stateRoot/dc"
    val ckpt = tmpDir("cpckpt")
    val spec = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType),
      StructField("v", LongType))))
    def ev(op: String, ts: Long, id: Long, grp: String, v: Long) =
      s"""{"database":"d","table":"t","type":"$op","ts":$ts,"data":{"id":$id,"grp":"$grp","v":$v}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    def run(): Unit = CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logDir), spec,
      Seq(CdcStream.NamedTableView.distinctCount("dc", "grp", "v")),
      stateRoot, ckpt).awaitTermination()
    def at(b: Long): Map[String, Long] =
      CdcStream.viewAsOfBatch(spark, root, b).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap

    // batch 0: a={1,2}, b={5}; batch 1: c arrives, a loses 2;
    // batch 2: b DIES (the delete a snapshot cannot re-express)
    append("b1.json", Seq(
      ev("insert", 1, 1, "a", 1), ev("insert", 2, 2, "a", 2),
      ev("insert", 3, 3, "b", 5)))
    run()
    append("b2.json", Seq(
      ev("insert", 5, 4, "c", 9), ev("delete", 6, 2, "a", 2)))
    run()
    append("b3.json", Seq(ev("delete", 8, 3, "b", 5)))
    run()
    val before2 = at(2)
    assert(before2 == Map("a" -> 1L, "c" -> 1L), s"pre-compact: $before2")

    // compact to batch 1: batches 0..1 fold into one snapshot at id 1
    assert(CdcStream.compactViewChanges(spark, root, 1L) == 1)
    // fold results at/after the horizon are unchanged — including the
    // group whose DEATH happened after the snapshot (batch 2's delete
    // must still beat the snapshot's insert in the per-key fold)
    assert(at(1) == Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
    assert(at(2) == before2, "fold after compaction diverged")
    assert(at(Long.MaxValue) == before2)
    // idempotent; compacting to the same horizon again is a no-op
    assert(CdcStream.compactViewChanges(spark, root, 1L) == 0)
    // behind the horizon: loud failure, not an empty or partial fold
    val e = intercept[IllegalArgumentException](at(0))
    assert(e.getMessage.contains("snapshot") ||
             e.getMessage.contains("pruned"), e.getMessage)

    // the producer continues on top of the compacted log
    append("b4.json", Seq(ev("insert", 10, 5, "a", 7)))
    run()
    assert(at(Long.MaxValue) == Map("a" -> 2L, "c" -> 1L))
    // and a SECOND compaction to a later horizon folds from the first
    // snapshot, not from batch 0
    assert(CdcStream.compactViewChanges(spark, root, 3L) == 2)
    assert(at(3) == Map("a" -> 2L, "c" -> 1L))

    // a mid-range GAP (manual damage) is refused loudly
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    append("b5.json", Seq(ev("insert", 12, 6, "d", 1)))
    run()
    append("b6.json", Seq(ev("insert", 14, 7, "e", 1)))
    run()
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$root/changes/batch=4"),
                     true))
    val g = intercept[IllegalArgumentException](at(5))
    assert(g.getMessage.contains("gap"), g.getMessage)
  }

  test("crash between side commit and dst swap self-heals; snapshot is multi-file") {
    import org.apache.spark.sql.types._
    val logDir = tmpDir("cwlog")
    val stateRoot = tmpDir("cwstate")
    // the table runner's root; the view's own changelog lives under it
    val root = s"$stateRoot/dc"
    val ckpt = tmpDir("cwckpt")
    val spec = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType),
      StructField("v", LongType))))
    def ev(op: String, ts: Long, id: Long, grp: String, v: Long) =
      s"""{"database":"d","table":"t","type":"$op","ts":$ts,"data":{"id":$id,"grp":"$grp","v":$v}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    def run(): Unit = CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logDir), spec,
      Seq(CdcStream.NamedTableView.distinctCount("dc", "grp", "v")),
      stateRoot, ckpt).awaitTermination()
    def at(b: Long): Map[String, Long] =
      CdcStream.viewAsOfBatch(spark, root, b).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)

    // enough distinct keys that a key-partitioned snapshot spans files
    append("b1.json", (1L to 12L).map(i => ev("insert", i, i, s"g$i", i)))
    run()
    append("b2.json", Seq(
      ev("delete", 20, 2, "g2", 2), ev("insert", 21, 13, "g13", 13)))
    run()
    append("b3.json", Seq(ev("insert", 30, 14, "g1", 99)))
    run()
    val face1 = at(1)
    val face2 = at(2)
    assert(face2("g1") == 2L && !face1.contains("g2"))

    // CRASH WINDOW (round-12 verdict #1): the side write committed
    // `_SUCCESS` — even its `_snapshot` marker was lost — and the
    // process died BEFORE fs.delete(dst): batch=1 still holds the
    // original delta. Reproduced through the real code path.
    val side = s"$root/changes/compact_tmp_1"
    val dst = s"$root/changes/batch=1"
    val aqe = "spark.sql.adaptive.coalescePartitions.enabled"
    val aqeWas = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try {
      CdcStream.writeSnapshotSide(spark, root, 1L)
      assert(fs.exists(p(s"$side/_SUCCESS")))
      assert(fs.delete(p(s"$side/_snapshot"), false)) // pre-marker window
      assert(!fs.exists(p(s"$dst/_snapshot")), "dst must still be the delta")
      // until the swap completes, readers still see the original prefix
      assert(at(2) == face2)

      // a re-run COMPLETES the swap instead of pruning past it
      assert(CdcStream.compactViewChanges(spark, root, 1L) == 1)
    } finally spark.conf.set(aqe, aqeWas)
    assert(fs.exists(p(s"$dst/_snapshot")), "heal must install the snapshot")
    assert(!fs.exists(p(side)), "heal must consume the side copy")
    assert(at(1) == face1, "fold at the horizon diverged after heal")
    assert(at(2) == face2, "fold after the horizon diverged after heal")
    // docstring's claim: the snapshot is a multi-task, key-partitioned
    // write — never one task serializing the whole face
    val parts = fs.listStatus(p(dst)).map(_.getPath.getName)
      .count(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(parts >= 2, s"snapshot wrote $parts part files; want multi-file")
    // and the multi-file snapshot keeps folding exactly on a re-read
    assert(CdcStream.compactViewChanges(spark, root, 1L) == 0)
    assert(at(2) == face2)

    // completed swap whose stale side copy survived: dropped, not swapped
    fs.mkdirs(p(side))
    fs.create(p(s"$side/_SUCCESS")).close()
    assert(CdcStream.compactViewChanges(spark, root, 1L) == 0)
    assert(!fs.exists(p(side)), "stale side copy must be dropped")
    assert(at(2) == face2)
  }

  test("stranded side below an advanced horizon is dropped, not installed") {
    import org.apache.spark.sql.types._
    val logDir = tmpDir("cslog")
    val stateRoot = tmpDir("csstate")
    // the table runner's root; the view's own changelog lives under it
    val root = s"$stateRoot/dc"
    val ckpt = tmpDir("csckpt")
    val spec = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType),
      StructField("v", LongType))))
    def ev(op: String, ts: Long, id: Long, grp: String, v: Long) =
      s"""{"database":"d","table":"t","type":"$op","ts":$ts,"data":{"id":$id,"grp":"$grp","v":$v}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    def run(): Unit = CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logDir), spec,
      Seq(CdcStream.NamedTableView.distinctCount("dc", "grp", "v")),
      stateRoot, ckpt).awaitTermination()
    def at(b: Long): Map[String, Long] =
      CdcStream.viewAsOfBatch(spark, root, b).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)

    (1 to 5).foreach { i =>
      append(s"b$i.json", Seq(ev("insert", i * 10L, i.toLong, s"g$i", i)))
      run()
    }
    val faceAll = at(Long.MaxValue)
    // a compaction to batch 1 died right after its side commit...
    CdcStream.writeSnapshotSide(spark, root, 1L)
    // ...and a LATER compaction to batch 3 succeeded first (an
    // operator, or the retention policy picking a fresh horizon)
    assert(CdcStream.compactViewChanges(spark, root, 3L) == 3)
    assert(at(Long.MaxValue) == faceAll)
    // healing tmp_1 now must DROP it: renaming it into batch=1 would
    // plant a batch below the retained prefix (3,4) and trip the
    // contiguity guard on every later read
    assert(CdcStream.compactViewChanges(spark, root, 1L) == 0)
    assert(!fs.exists(p(s"$root/changes/compact_tmp_1")),
      "stale below-horizon side must be deleted")
    assert(!fs.exists(p(s"$root/changes/batch=1")),
      "below-horizon batch must not be re-installed")
    assert(at(Long.MaxValue) == faceAll, "fold diverged after stale heal")
    // the policy driver's healing sweep takes the same safe path
    CdcStream.writeSnapshotSide(spark, root, 3L) // no-op horizon == head
    assert(CdcStream.compactIfNeeded(spark, root, 1, 10) == 0)
    assert(at(Long.MaxValue) == faceAll)
  }

  test("compactIfNeeded: threshold policy bounds the log, fold stays exact") {
    import org.apache.spark.sql.types._
    val logDir = tmpDir("cplog2")
    val stateRoot = tmpDir("cpstate2")
    // the table runner's root; the view's own changelog lives under it
    val root = s"$stateRoot/dc"
    val ckpt = tmpDir("cpckpt2")
    val spec = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType),
      StructField("v", LongType))))
    def ev(op: String, ts: Long, id: Long, grp: String, v: Long) =
      s"""{"database":"d","table":"t","type":"$op","ts":$ts,"data":{"id":$id,"grp":"$grp","v":$v}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    def run(): Unit = CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logDir), spec,
      Seq(CdcStream.NamedTableView.distinctCount("dc", "grp", "v")),
      stateRoot, ckpt).awaitTermination()
    def at(b: Long): Map[String, Long] =
      CdcStream.viewAsOfBatch(spark, root, b).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap

    // six batches: g1..g6 arrive one per batch; g1 dies in batch 5
    (1 to 4).foreach { i =>
      append(s"b$i.json", Seq(ev("insert", i * 10L, i.toLong, s"g$i", i)))
      run()
    }
    append("b5.json", Seq(ev("delete", 50L, 1L, "g1", 1)))
    run()
    append("b6.json", Seq(ev("insert", 60L, 6L, "g6", 6)))
    run()
    val faceAll = at(Long.MaxValue)
    val face4 = at(4)

    // under the threshold: a no-op, callable after every batch
    assert(CdcStream.compactIfNeeded(spark, root, keepBatches = 2,
                                     maxBatches = 6) == 0)
    assert(at(Long.MaxValue) == faceAll)
    // over it: folds everything older than the newest 2 batches
    // (batches 0..3 -> snapshot at 3) and the fold contract survives,
    // including the post-horizon delete of a pre-horizon key
    val removed = CdcStream.compactIfNeeded(spark, root, keepBatches = 2,
                                            maxBatches = 4)
    assert(removed == 3, s"expected 3 pruned prefix dirs, got $removed")
    assert(at(4) == face4, "fold at post-horizon batch diverged")
    assert(at(Long.MaxValue) == faceAll, "live fold diverged")
    assert(!at(Long.MaxValue).contains("g1"),
      "post-snapshot delete must still beat the snapshot insert")
    // idempotent: now at 3 retained batches (3,4,5), under threshold
    assert(CdcStream.compactIfNeeded(spark, root, 2, 4) == 0)
  }

  test("producer with retention keeps its own changelog bounded") {
    import org.apache.spark.sql.types._
    val logDir = tmpDir("crlog")
    val stateRoot = tmpDir("crstate")
    // the table runner's root; the view's own changelog lives under it
    val root = s"$stateRoot/dc"
    val ckpt = tmpDir("crckpt")
    val spec = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType),
      StructField("v", LongType))))
    def ev(op: String, ts: Long, id: Long, grp: String, v: Long) =
      s"""{"database":"d","table":"t","type":"$op","ts":$ts,"data":{"id":$id,"grp":"$grp","v":$v}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    // the PRODUCTION wiring: the producer itself runs the retention
    // policy after every swap — no operator calls compaction
    def run(): Unit = CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logDir), spec,
      Seq(CdcStream.NamedTableView.distinctCount("dc", "grp", "v")),
      stateRoot, ckpt,
      retention = Some((2, 4))).awaitTermination()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def committedDirs: Seq[String] = {
      val d = new org.apache.hadoop.fs.Path(s"$root/changes")
      if (!fs.exists(d)) Seq.empty
      else fs.listStatus(d).map(_.getPath.getName)
        .filter(_.startsWith("batch=")).toSeq.sorted
    }
    (1 to 8).foreach { i =>
      append(s"b$i.json", Seq(ev("insert", i * 10L, i.toLong, s"g$i", i)))
      run()
      assert(committedDirs.size <= 5, // max 4 + the just-emitted batch
        s"changelog grew past the policy bound: $committedDirs")
    }
    append("b9.json", Seq(ev("delete", 90L, 3L, "g3", 3)))
    run()
    // the face is exact through every fold-over-snapshot boundary
    val face = CdcStream.viewAsOfBatch(spark, root, Long.MaxValue)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(face == (1 to 8).filter(_ != 3)
             .map(i => s"g$i" -> 1L).toMap,
      s"retained-log fold diverged: $face")
    // and a snapshot actually exists (the policy did compact)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/changes/${committedDirs.min}/_snapshot")) ||
        committedDirs.exists(d => fs.exists(new org.apache.hadoop.fs.Path(
          s"$root/changes/$d/_snapshot"))),
      s"no snapshot batch found in $committedDirs")
  }

  test("JDBC incremental apply refuses a snapshot inside its unapplied range") {
    import org.apache.spark.sql.types._
    val logDir = tmpDir("cpjlog")
    val stateRoot = tmpDir("cpjstate")
    // the table runner's root; the view's own changelog lives under it
    val root = s"$stateRoot/dc"
    val ckpt = tmpDir("cpjckpt")
    val spec = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType),
      StructField("v", LongType))))
    def ev(op: String, ts: Long, id: Long, grp: String, v: Long) =
      s"""{"database":"d","table":"t","type":"$op","ts":$ts,"data":{"id":$id,"grp":"$grp","v":$v}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    def run(): Unit = CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logDir), spec,
      Seq(CdcStream.NamedTableView.distinctCount("dc", "grp", "v")),
      stateRoot, ckpt).awaitTermination()
    val url = s"jdbc:derby:${tmpDir("cpjderby")}/graftdb;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    def applyJ(): Long = CdcStream.applyViewChangesToJdbc(spark, root,
      Seq("grp"), url, "serving", props)

    append("b1.json", Seq(
      ev("insert", 1, 1, "a", 1), ev("insert", 2, 2, "b", 2)))
    run()
    applyJ() // consumer is current through batch 0 (serving has a AND b)
    append("b2.json", Seq(ev("delete", 5, 2, "b", 2)))
    run()
    // compaction to batch 1 — EXACTLY appliedUpTo+1, so the pre-existing
    // gap guard cannot catch it: the snapshot {a} stands in for batch
    // 1's delete of b; applied as inserts it would leave b alive in the
    // serving table forever. The snapshot guard must refuse.
    CdcStream.compactViewChanges(spark, root, 1L)
    val e = intercept[IllegalArgumentException](applyJ())
    assert(e.getMessage.contains("snapshot"), e.getMessage)
  }

  test("mid-log snapshot after a pruned prefix: fold accepts, compaction survives") {
    // the retrainAnnIvf shape: retention compaction already pruned the
    // prefix (head = an older snapshot > 0), then an epoch swap
    // installs ANOTHER snapshot mid-log WITHOUT pruning. The old
    // prefix guard demanded head == the covering snapshot and refused
    // this valid state — and because compactViewChanges' side write
    // folds through viewAsOfBatch, retention compaction would then be
    // permanently broken for the view. Any snapshot head ≤ upTo is a
    // complete face; contiguity from the covering snapshot is the gap
    // guard's job.
    import org.apache.spark.sql.types._
    val logDir = tmpDir("mslog")
    val stateRoot = tmpDir("msstate")
    // the table runner's root; the view's own changelog lives under it
    val root = s"$stateRoot/dc"
    val ckpt = tmpDir("msckpt")
    val spec = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType),
      StructField("v", LongType))))
    def ev(op: String, ts: Long, id: Long, grp: String, v: Long) =
      s"""{"database":"d","table":"t","type":"$op","ts":$ts,"data":{"id":$id,"grp":"$grp","v":$v}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    def run(): Unit = CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logDir), spec,
      Seq(CdcStream.NamedTableView.distinctCount("dc", "grp", "v")),
      stateRoot, ckpt).awaitTermination()
    def at(b: Long): Map[String, Long] =
      CdcStream.viewAsOfBatch(spark, root, b).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    append("b1.json", Seq(ev("insert", 1, 1, "a", 1),
                          ev("insert", 2, 2, "b", 2)))
    run()
    append("b2.json", Seq(ev("insert", 4, 3, "c", 3)))
    run()
    append("b3.json", Seq(ev("insert", 6, 4, "a", 9)))
    run()
    append("b4.json", Seq(ev("delete", 8, 2, "b", 2)))
    run()
    val live = at(Long.MaxValue)
    assert(live == Map("a" -> 2L, "c" -> 1L), s"live: $live")
    // retention compaction prunes the prefix: head becomes snapshot 1
    assert(CdcStream.compactViewChanges(spark, root, 1L) == 1)
    // a retrain-style MID-LOG snapshot at batch 2 (no pruning), built
    // and installed through the real side-write machinery
    CdcStream.writeSnapshotSide(spark, root, 2L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    assert(fs.delete(p(s"$root/changes/batch=2"), true))
    assert(fs.rename(p(s"$root/changes/compact_tmp_2"),
                     p(s"$root/changes/batch=2")))
    // head (snapshot 1) != covering snapshot (2) — the fold must accept
    assert(at(3) == live, "fold past the mid-log snapshot diverged")
    assert(at(2) == Map("a" -> 2L, "b" -> 1L, "c" -> 1L))
    // below the mid-log snapshot: still folds from the head snapshot
    assert(at(1) == Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
    // and RETENTION COMPACTION still works on this shape (its side
    // write folds through viewAsOfBatch — the loud false refusal the
    // old guard caused)
    assert(CdcStream.compactViewChanges(spark, root, 3L) >= 1)
    assert(at(3) == live)
    assert(at(Long.MaxValue) == live)
  }
}
