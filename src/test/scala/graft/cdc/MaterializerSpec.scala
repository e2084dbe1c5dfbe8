package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests (SURVEY.md §5 #2): materialized state over random
  * op-sequences equals a naive in-memory fold. (Plain scalacheck Gen —
  * the scalatestplus bridge isn't in the offline cache.) */
class MaterializerSpec extends SparkSpec {

  case class Op(key: Long, ts: Long, seq: Long, op: String, value: Double)

  val genOp: Gen[Op] = for {
    key <- Gen.choose(0L, 9L)
    ts <- Gen.choose(0L, 20L)
    seq <- Gen.choose(0L, 1000L)
    op <- Gen.oneOf("insert", "update", "delete")
    v <- Gen.choose(0, 10000).map(_ / 100.0)
  } yield Op(key, ts, seq, op, v)

  def naiveFold(ops: List[Op]): Map[Long, Op] =
    ops.sortBy(o => (o.ts, o.seq))
      .foldLeft(Map.empty[Long, Op]) { (st, o) =>
        if (o.op == "delete") st - o.key else st + (o.key -> o)
      }

  test("currentState equals naive last-writer-wins fold (scalacheck)") {
    (0 until 20).foreach { trial =>
      val ops = Gen.listOfN(60, genOp)
        .apply(Gen.Parameters.default, Seed(42L + trial)).get
      // deterministic tie-break requires unique (key, ts, seq)
      val uniq = ops.groupBy(o => (o.key, o.ts, o.seq)).values.map(_.head).toList
      val df = spark.createDataFrame(uniq)
        .select(col("op"), col("ts"), col("seq"),
          struct(col("key"), col("value")).as("after"))
      val got = Materializer.currentState(df, Seq("key"))
        .collect().map(r => r.getAs[Long]("key") -> r.getAs[Double]("value"))
        .toMap
      val want = naiveFold(uniq).map { case (k, o) => k -> o.value }
      assert(got == want, s"trial $trial diverged")
    }
  }

  test("merge(state, events) equals currentState over the full log") {
    val ops = List(
      Op(1, 1, 0, "insert", 1.0), Op(2, 1, 1, "insert", 2.0),
      Op(1, 2, 2, "update", 1.5), Op(3, 2, 3, "insert", 3.0))
    val later = List(
      Op(2, 5, 4, "delete", 0.0), Op(3, 5, 5, "update", 3.5),
      Op(4, 6, 6, "insert", 4.0))
    def toDf(l: List[Op]) = spark.createDataFrame(l)
      .select(col("op"), col("ts"), col("seq"),
        struct(col("key"), col("value")).as("after"))
    val state1 = Materializer.compact(toDf(ops), Seq("key"))
    val merged = Materializer.liveView(
        Materializer.merge(state1, toDf(later), Seq("key")))
      .collect().map(r => r.getAs[Long]("key") -> r.getAs[Double]("value")).toMap
    val full = Materializer.currentState(toDf(ops ++ later), Seq("key"))
      .collect().map(r => r.getAs[Long]("key") -> r.getAs[Double]("value")).toMap
    assert(merged == full)
    assert(merged == Map(1L -> 1.5, 3L -> 3.5, 4L -> 4.0))
  }

  test("merge: null-key rows collapse to one group, never accumulate") {
    // decode failures can yield after.pk = NULL (try_* casts); the global
    // compact grouped ALL null keys into one state row, and the
    // delta-restricted merge must preserve that via null-safe key joins —
    // a null-unsafe plan leaks one duplicate null row per batch
    def ev(rows: Seq[(String, Long, Long, Option[Long], Double)]) =
      spark.createDataFrame(rows).toDF("op", "ts", "seq", "k", "value")
        .select(col("op"), col("ts"), col("seq"),
          struct(col("k"), col("value")).as("after"))
    val state1 = Materializer.compact(ev(Seq(
      ("insert", 1L, 1L, None, 1.0), ("insert", 1L, 2L, Some(1L), 2.0))),
      Seq("k"))
    assert(state1.count() == 2)
    val m1 = Materializer.merge(state1,
      ev(Seq(("update", 2L, 3L, None, 9.0))), Seq("k"))
      .localCheckpoint()
    assert(m1.count() == 2, "null-key row duplicated instead of merged")
    assert(m1.filter(col("k").isNull).count() == 1)
    assert(m1.filter(col("k").isNull).select("value")
      .collect()(0).getDouble(0) == 9.0, "LWW must pick the newer null-key row")
    val m2 = Materializer.merge(m1,
      ev(Seq(("update", 3L, 4L, None, 11.0))), Seq("k"))
    assert(m2.count() == 2 && m2.filter(col("k").isNull).count() == 1)
  }

  test("merge plan: full state is never shuffled (delta-restricted)") {
    val ops = (1L to 1000L).map(k => Op(k, 1, k, "insert", k.toDouble)).toList
    val delta = List(Op(7, 5, 2000, "update", 7.5),
                     Op(2000, 5, 2001, "insert", 1.0))
    def toDf(l: List[Op]) = spark.createDataFrame(l)
      .select(col("op"), col("ts"), col("seq"),
        struct(col("key"), col("value")).as("after"))
    val state = Materializer.compact(toDf(ops), Seq("key")).localCheckpoint()
    // pre-collected LocalRelation keys, as SnowflakeView.chainStep passes them
    // (otherwise the key-distinct adds its own — |Δ|-bounded — exchanges)
    val ck = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(7L),
                              org.apache.spark.sql.Row(2000L)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("key",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val merged = Materializer.merge(state, toDf(delta), Seq("key"),
      changedKeys = Some(ck))
    val plan = merged.queryExecution.executedPlan.toString
    // untouched rows pass through a broadcast anti-join scan-side; the
    // ONLY hash exchange allowed is the compact over touched ∪ delta
    // (|Δ|-bounded) — a full-state exchange here would be the
    // shuffle-the-table-per-batch anti-pattern this plan exists to avoid
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(plan).length
    assert(exchanges <= 1, s"merge shuffles more than the touched set:\n$plan")
    assert(plan.contains("BroadcastHashJoin") ||
           plan.contains("BroadcastNestedLoopJoin"),
      s"untouched-state pass-through is not broadcast-pruned:\n$plan")
  }

  test("applyBatch view plan: zero exchanges (all broadcast rebuilds)") {
    val l = spark.createDataFrame(List(
        Op(1, 1, 1, "insert", 5.0), Op(2, 1, 2, "insert", 7.0)))
      .select(col("op"), col("ts"), col("seq"),
        struct(col("key").as("k"), col("key").as("fk"),
               col("value").as("price")).as("after"))
    val r = spark.createDataFrame(List(Op(1, 2, 1, "insert", 0.0)))
      .select(col("op"), col("ts"), col("seq"),
        struct(col("key").as("ck"), col("value").as("bal")).as("after"))
    val viewCols = Seq("k", "fk", "price", "ck", "bal")
    val emptyL = Materializer.compact(l.limit(0), Seq("k"))
    val emptyR = Materializer.compact(r.limit(0), Seq("ck"))
    val emptyView = emptyL.drop(Materializer.MetaCols: _*)
      .join(emptyR.drop(Materializer.MetaCols: _*), col("fk") === col("ck"))
      .select(viewCols.map(col): _*)
    // one step: the shared batch ctx plus the join view's fold
    val (_, _, ctx) = SnowflakeView.chainStep(Seq(emptyL, emptyR),
      Seq.empty, Seq(l, r), Seq(Seq("k"), Seq("ck")), Seq(Seq("fk")),
      keys = None, maxLocalKeys = JoinView.DefaultMaxLocalKeys)
    val view = JoinView.maintainer(viewCols).step(emptyView, ctx)
    val plan = view.queryExecution.executedPlan.toString
    // keep is anti-joined against broadcast key sets and both rebuild
    // joins broadcast their |Δ|-bounded side: the view maintenance path
    // must not exchange EITHER state table
    assert(!plan.contains("Exchange hashpartitioning"),
      s"view rebuild shuffles a state table:\n$plan")
  }

  test("row round-trip: typed row -> Maxwell JSON -> decode -> same row") {
    import org.apache.spark.sql.functions._
    val genRow = for {
      id <- Gen.choose(0L, 1000000L)
      name <- Gen.oneOf(Gen.alphaNumStr.map(_.take(20)),
                        Gen.const(null: String),
                        Gen.oneOf("大元金库", "emoji🙂", "\"quoted\"", "a\\b"))
      et <- Gen.choose(-100, 100)
      active <- Gen.oneOf(true, false)
      score <- Gen.choose(-1e6, 1e6).map(d => math.rint(d * 100) / 100)
    } yield (id, name, et, active, score)
    val rows = Gen.listOfN(200, genRow)
      .apply(Gen.Parameters.default, Seed(7L)).get
      .distinctBy(_._1)
    val df = spark.createDataFrame(rows)
      .toDF("id", "name", "entity_type", "active", "score")
    val spec = TableSpec.fromCaseClass[CdcSpec.Deal](
      "d", "t", Seq("id"))
    // serialize: booleans as 1/0 like Maxwell/TiCDC emits tinyint(1)
    val json = df.select(to_json(struct(
      lit("d").as("database"), lit("t").as("table"),
      lit("insert").as("type"), lit(1L).as("ts"),
      struct(col("id"), col("name"), col("entity_type"),
        when(col("active"), 1).otherwise(0).as("active"),
        col("score")).as("data"))).as("value"))
    val decoded = RowDecoder.changeEvents(
        Maxwell.parseEnvelope(json.as[String](
          org.apache.spark.sql.Encoders.STRING)), spec)
      .select("after.*")
    val back = decoded.collect().map(r =>
      (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1),
       r.getInt(2), r.getBoolean(3), r.getDouble(4))).toSet
    assert(back == rows.toSet)
  }

  test("incremental aggregate equals recompute over materialized state") {
    import org.apache.spark.sql.functions._
    val events = ChangelogGen.ordersChangeEvents(spark, sfDir)
    // decimal deltas -> order-independent sums, EXACT equality with the
    // recompute (raw double sums would differ in the last ulps)
    val incr = IncrementalAgg.sumCount(events, "o_orderstatus", "o_totalprice",
        valueCast = _.cast("decimal(25,10)"))
      .select(col("o_orderstatus"),
              col("sum_o_totalprice").as("s"), col("n_rows"))
    val recompute = ChangelogGen.ordersState(spark, sfDir)
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("o_totalprice").cast("decimal(25,10)")).as("s"),
           count(lit(1)).as("n_rows"))
    assert(incr.exceptAll(recompute).count() == 0)
    assert(recompute.exceptAll(incr).count() == 0)
  }

  test("seed: snapshot + changelog replay from an earlier offset converges") {
    import org.apache.spark.sql.types._
    // snapshot taken at ts0=10 reflects: key 1 -> 5.0, key 2 -> 7.0
    val snapshot = spark.createDataFrame(
      java.util.List.of(
        org.apache.spark.sql.Row(1L, 5.0), org.apache.spark.sql.Row(2L, 7.0)),
      StructType(Seq(StructField("key", LongType),
                     StructField("value", DoubleType))))
    val seeded = Materializer.seed(snapshot, ts0 = 10L)
    // replayed changelog OVERLAPS the snapshot (starts before ts0): the
    // pre-snapshot events must lose to the seed stamp, the post ones win
    import spark.implicits._
    val events = Seq(
        ("insert", 3L, 1L, 1L, 1.0),   // pre-snapshot: already in snapshot
        ("update", 7L, 2L, 2L, 2.0),   // pre-snapshot: stale value, must lose
        ("update", 12L, 3L, 2L, 9.0),  // post-snapshot: wins
        ("insert", 15L, 4L, 3L, 4.0),  // post-snapshot: new key
        ("delete", 18L, 5L, 1L, 5.0))  // post-snapshot: seeded key dies
      .toDF("op", "ts", "seq", "key", "value")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("key"), col("value")).as("after"))
    val merged = Materializer.merge(seeded, events, Seq("key"))
    val got = Materializer.liveView(merged).collect()
      .map(r => r.getAs[Long]("key") -> r.getAs[Double]("value")).toMap
    assert(got == Map(2L -> 9.0, 3L -> 4.0),
      s"seeded handoff must ignore pre-ts0 events and apply post ones: $got")
  }

  test("schema evolution: widened events merge over a narrower state") {
    import spark.implicits._
    // state built before the upstream ALTER TABLE (no `region` column)
    val oldEvents = Seq(("insert", 1L, 1L, 1L, 5.0), ("insert", 1L, 2L, 2L, 7.0))
      .toDF("op", "ts", "seq", "key", "value")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("key"), col("value")).as("after"))
    val state = Materializer.compact(oldEvents, Seq("key"))
    // post-ALTER batch: events now carry `region`; key 2 updates, key 3 new
    val newEvents = Seq(("update", 5L, 3L, 2L, 8.0, "EU"),
                        ("insert", 6L, 4L, 3L, 1.0, "AS"))
      .toDF("op", "ts", "seq", "key", "value", "region")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("key"), col("value"), col("region")).as("after"))
    // strict mode fails loudly (shape mismatch is an error unless opted in)
    intercept[org.apache.spark.sql.AnalysisException] {
      Materializer.merge(state, newEvents, Seq("key")).collect()
    }
    val evolved = Materializer.merge(state, newEvents, Seq("key"),
      allowEvolution = true)
    val got = Materializer.liveView(evolved).collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[Double]("value"),
                 Option(r.getAs[String]("region")))).toSet
    assert(got == Set((1L, 5.0, None), (2L, 8.0, Some("EU")),
                      (3L, 1.0, Some("AS"))),
      s"pre-ALTER rows must report NULL for the new column: $got")
  }

  test("schema evolution: narrowed events DROP the stale state column") {
    import spark.implicits._
    val oldEvents = Seq(("insert", 1L, 1L, 1L, 5.0, "x"),
                        ("insert", 1L, 2L, 2L, 7.0, "y"))
      .toDF("op", "ts", "seq", "key", "value", "legacy")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("key"), col("value"), col("legacy")).as("after"))
    val state = Materializer.compact(oldEvents, Seq("key"))
    // post-DROP batch: events no longer carry `legacy`
    val newEvents = Seq(("update", 5L, 3L, 2L, 8.0),
                        ("insert", 6L, 4L, 3L, 1.0))
      .toDF("op", "ts", "seq", "key", "value")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("key"), col("value")).as("after"))
    val evolved = Materializer.merge(state, newEvents, Seq("key"),
      allowEvolution = true)
    assert(!evolved.columns.contains("legacy"),
      s"dropped column must leave the merged schema: " +
        s"${evolved.columns.toSeq}")
    val got = Materializer.liveView(evolved).collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[Double]("value"))).toSet
    assert(got == Set((1L, 5.0), (2L, 8.0), (3L, 1.0)),
      s"untouched + touched rows must both survive narrowed: $got")
  }

  test("schema evolution: rename map re-keys history; typos fail loudly") {
    import spark.implicits._
    val oldEvents = Seq(("insert", 1L, 1L, 1L, 5.0))
      .toDF("op", "ts", "seq", "key", "amount")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("key"), col("amount")).as("after"))
    val state = Materializer.compact(oldEvents, Seq("key"))
    val newEvents = Seq(("update", 5L, 2L, 1L, 6.0))
      .toDF("op", "ts", "seq", "key", "total")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("key"), col("total")).as("after"))
    val evolved = Materializer.merge(state, newEvents, Seq("key"),
      allowEvolution = true, renamedColumns = Map("amount" -> "total"))
    val got = Materializer.liveView(evolved).collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[Double]("total"))).toSet
    assert(got == Set((1L, 6.0)), s"renamed merge must keep history: $got")
    // an entry matching neither old nor new name is a typo, not a no-op
    val e = intercept[IllegalArgumentException] {
      Materializer.merge(state, newEvents, Seq("key"),
        allowEvolution = true, renamedColumns = Map("amont" -> "total"))
    }
    assert(e.getMessage.contains("match no state column"), e.getMessage)
    // rename without the evolution opt-in is refused
    intercept[IllegalArgumentException] {
      Materializer.merge(state, newEvents, Seq("key"),
        renamedColumns = Map("amount" -> "total"))
    }
  }

  test("schema evolution: MODIFY widening casts old generations up") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // state built before the upstream ALTER MODIFY (qty INT, price
    // DECIMAL(10,2))
    val oldEvents = Seq(("insert", 1L, 1L, 1L, 5, "10.25"),
                        ("insert", 1L, 2L, 2L, 7, "20.50"))
      .toDF("op", "ts", "seq", "key", "qty", "p")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("key"), col("qty"),
                     col("p").cast("decimal(10,2)").as("price")).as("after"))
    val state = Materializer.compact(oldEvents, Seq("key"))
    // post-ALTER batch: qty is now BIGINT, price DECIMAL(14,4)
    val newEvents = Seq(("update", 5L, 3L, 2L, 8L, "99.1234"),
                        ("insert", 6L, 4L, 3L, 4L, "1.0001"))
      .toDF("op", "ts", "seq", "key", "qty", "p")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("key"), col("qty"),
                     col("p").cast("decimal(14,4)").as("price")).as("after"))
    // strict mode refuses the widening loudly (opt-in required)
    val eStrict = intercept[IllegalArgumentException] {
      Materializer.merge(state, newEvents, Seq("key"))
    }
    assert(eStrict.getMessage.contains("allowEvolution"), eStrict.getMessage)
    val evolved = Materializer.merge(state, newEvents, Seq("key"),
      allowEvolution = true)
    assert(evolved.schema("qty").dataType == LongType,
      s"state column must widen to the new type: ${evolved.schema}")
    assert(evolved.schema("price").dataType == DecimalType(14, 4),
      s"decimal must widen: ${evolved.schema}")
    val got = Materializer.liveView(evolved).collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[Long]("qty"),
                 r.getAs[java.math.BigDecimal]("price").doubleValue)).toSet
    assert(got == Set((1L, 5L, 10.25), (2L, 8L, 99.1234), (3L, 4L, 1.0001)),
      s"pre-ALTER rows must read back widened with values intact: $got")
    // a later batch already in the wide type is a plain merge (idempotent
    // across restarts — the widening happens once)
    val more = Seq(("insert", 9L, 5L, 4L, 2L, "3.5000"))
      .toDF("op", "ts", "seq", "key", "qty", "p")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("key"), col("qty"),
                     col("p").cast("decimal(14,4)").as("price")).as("after"))
    val again = Materializer.merge(evolved, more, Seq("key"),
      allowEvolution = true)
    assert(Materializer.liveView(again).count() == 4)
  }

  test("schema evolution: narrowing MODIFY fails loudly even when opted in") {
    import spark.implicits._
    val wideEvents = Seq(("insert", 1L, 1L, 1L, 5L))
      .toDF("op", "ts", "seq", "key", "qty")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("key"), col("qty")).as("after"))
    val state = Materializer.compact(wideEvents, Seq("key"))
    val narrowEvents = Seq(("update", 5L, 2L, 1L, 6))
      .toDF("op", "ts", "seq", "key", "qty")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("key"), col("qty").cast("int").as("qty")).as("after"))
    val e = intercept[IllegalArgumentException] {
      Materializer.merge(state, narrowEvents, Seq("key"),
        allowEvolution = true)
    }
    assert(e.getMessage.contains("non-widening"), e.getMessage)
    // incompatible change (numeric -> string) is equally loud
    val stringEvents = Seq(("update", 5L, 2L, 1L, "six"))
      .toDF("op", "ts", "seq", "key", "qty")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("key"), col("qty")).as("after"))
    val e2 = intercept[IllegalArgumentException] {
      Materializer.merge(state, stringEvents, Seq("key"),
        allowEvolution = true)
    }
    assert(e2.getMessage.contains("non-widening"), e2.getMessage)
  }

  test("widensTo covers the TiDB ladder and rejects lossy coercions") {
    import org.apache.spark.sql.types._
    assert(Materializer.widensTo(IntegerType, LongType))
    assert(Materializer.widensTo(ByteType, ShortType))
    assert(Materializer.widensTo(FloatType, DoubleType))
    assert(Materializer.widensTo(IntegerType, DoubleType))
    assert(Materializer.widensTo(DecimalType(10, 2), DecimalType(14, 2)))
    assert(Materializer.widensTo(DecimalType(10, 2), DecimalType(14, 4)))
    assert(Materializer.widensTo(LongType, DecimalType(20, 0)))
    assert(Materializer.widensTo(IntegerType, DecimalType(12, 2)))
    // lossy or narrowing: refused
    assert(!Materializer.widensTo(LongType, DoubleType))  // > 2^53 loses
    assert(!Materializer.widensTo(LongType, IntegerType))
    assert(!Materializer.widensTo(DecimalType(14, 4), DecimalType(10, 2)))
    assert(!Materializer.widensTo(DecimalType(10, 2), DecimalType(11, 4))) // int digits shrink
    assert(!Materializer.widensTo(LongType, DecimalType(18, 0))) // 19 digits needed
    assert(!Materializer.widensTo(DoubleType, FloatType))
    assert(!Materializer.widensTo(StringType, LongType))
    assert(!Materializer.widensTo(LongType, StringType))
  }

  test("tombstone retention horizon drops only old-enough tombstones") {
    val ops = List(
      Op(1, 1, 0, "insert", 1.0), Op(1, 2, 1, "delete", 1.0),   // old tombstone
      Op(2, 1, 2, "insert", 2.0), Op(2, 9, 3, "delete", 2.0),   // recent tombstone
      Op(3, 9, 4, "insert", 3.0))                               // live row
    def toDf(l: List[Op]) = spark.createDataFrame(l)
      .select(col("op"), col("ts"), col("seq"),
        struct(col("key"), col("value")).as("after"))
    val state = Materializer.compact(toDf(ops), Seq("key"))
    val pruned = Materializer.merge(state,
      toDf(Nil).limit(0), Seq("key"), tombstoneRetentionTs = 5L)
    val byKey = pruned.collect()
      .map(r => r.getAs[Long]("key") -> r.getAs[String]("__op")).toMap
    assert(!byKey.contains(1L))            // tombstone older than horizon: gone
    assert(byKey.get(2L).contains("delete")) // recent tombstone retained
    assert(byKey.get(3L).contains("insert")) // live rows never pruned
  }

  test("strict parity at pipeline level loses the ISO timestamps (Q1)") {
    val strict = ChangelogGen.ordersChangeEvents(spark, sfDir,
      strictParity = true)
    // to_json writes ISO-8601 ('T' separator); the reference's fixed
    // layout "2006-01-02 15:04:05" cannot parse it -> all NULL
    assert(strict.filter(col("after.o_orderdate").isNotNull).count() == 0)
    val fixed = ChangelogGen.ordersChangeEvents(spark, sfDir)
    assert(fixed.filter(col("after.o_orderdate").isNull).count() == 0)
  }

  test("changelog replay at sf0.001 matches the closed-form expected state") {
    val got = ChangelogGen.ordersState(spark, sfDir)
    val orders = graft.Tables.load(spark, sfDir, "orders")
    val want = orders.filter(col("o_orderkey") % 10 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderstatus") === "F", col("o_totalprice") * 1.1)
          .otherwise(col("o_totalprice")))
    assert(got.count() == want.count())
    assert(got.exceptAll(want.select(got.columns.map(col): _*)).count() == 0)
  }

  test("snapshot diff classifies added/removed/changed per the event plan") {
    val out = graft.ops.CdcQueries.queries("cdc_snapshot_diff")(spark, sfDir)
      .cache()
    val orders = graft.Tables.load(spark, sfDir, "orders")
      .withColumn("base", unix_timestamp(col("o_orderdate"))).cache()
    val (t1, t2) = (788918400L, 852076800L)
    // added: inserted in (t1, t2], not yet deleted by t2
    val added = orders.filter(col("base") > t1 && col("base") <= t2 &&
      !(col("o_orderkey") % 10 === 0 && col("base") + 7200 <= t2)).count()
    // removed: present at t1, delete ts in (t1, t2]
    val removed = orders.filter(col("o_orderkey") % 10 === 0 &&
      col("base") <= t1 && col("base") + 7200 > t1 &&
      col("base") + 7200 <= t2).count()
    // changed: present at both cuts, 'F' update crossing the interval
    val changed = orders.filter(col("o_orderstatus") === "F" &&
      col("base") + 3600 > t1 && col("base") + 3600 <= t2 &&
      col("base") <= t1 &&
      !(col("o_orderkey") % 10 === 0 && col("base") + 7200 <= t2)).count()
    val byClass = out.groupBy("change").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byClass.getOrElse("added", 0L) == added)
    assert(byClass.getOrElse("removed", 0L) == removed)
    assert(byClass.getOrElse("changed", 0L) == changed)
    assert(out.filter(col("change") === "changed" &&
      col("new_price") <= col("old_price")).count() == 0) // 1.1x only
  }
}
