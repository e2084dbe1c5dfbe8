package graft.dedup

import graft.SparkSpec
import graft.cdc.{ChangelogGen, Materializer, MultiView, SnowflakeView}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maintained two-sided decontamination: the contamination face must
  * equal the from-scratch gram semi-join over the live corpus × live
  * benchmark registry after every batch — including the index-probe
  * direction (a bench-only batch flags/unflags docs no corpus event
  * mentioned) and the union-set landmark (a gram stays contaminating
  * while ANY live suite still carries it). */
class DecontamViewSpec extends SparkSpec {

  private def docEvents(rows: Seq[(String, Long, Long, Long, String)])
      : DataFrame = {
    import spark.implicits._
    rows.toDF("op", "ts", "seq", "doc_id", "text")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("doc_id"), col("text")).as("after"))
  }

  private def benchEvents(rows: Seq[(String, Long, Long, Long, String)])
      : DataFrame = {
    import spark.implicits._
    rows.toDF("op", "ts", "seq", "b_id", "text")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("b_id"), col("text")).as("after"))
  }

  private val G1 = "quick brown fox jumps over"      // gram of d1
  private val G2 = "box with five dozen liquor"      // gram of d2 (and d4')

  // docs: d1..d4 inserted up front; d2 rewritten away from G2 and d4
  //   rewritten INTO G2 in batch 4; d4 deleted in batch 5
  private val docLog = Seq(
    ("insert", 1L, 1L, 1L, s"the $G1 the lazy dog"),
    ("insert", 2L, 2L, 2L, s"pack my $G2 jugs today"),
    ("insert", 3L, 3L, 3L, "sphinx of black quartz judge my vow now"),
    ("insert", 4L, 4L, 4L, "how vexingly quick daft zebras jump around"),
    ("update", 31L, 5L, 2L, "completely different words entirely unrelated content"),
    ("update", 32L, 6L, 4L, s"extra $G2 jugs appended here"),
    ("delete", 41L, 7L, 4L, s"extra $G2 jugs appended here"))

  // bench: b1 flags d1 at once; batch 2 is a BENCH-ONLY release (b2
  //   flags the untouched d2 through the index; b3 duplicates b1's gram
  //   in another suite); b1 retires in batch 3 (d1 must STAY flagged,
  //   b3 lives), b3 in batch 4 (now d1 unflags)
  private val benchLog = Seq(
    ("insert", 5L, 1L, 1L, G1),
    ("insert", 11L, 2L, 2L, G2),
    ("insert", 12L, 3L, 3L, G1),
    ("delete", 21L, 4L, 1L, G1),
    ("delete", 33L, 5L, 3L, G1))

  private val cuts = Seq(10L, 20L, 30L, 40L)

  private def grams(df: DataFrame, id: String): DataFrame =
    df.select(col(id),
      explode(array_distinct(Dedup.shingles(col("text"), 5))).as("gram"))

  private def direct(liveDocs: DataFrame, liveBench: DataFrame)
      : Set[(Long, Long)] = {
    val bg = grams(liveBench, "b_id").select(col("gram")).distinct()
    grams(liveDocs, "doc_id")
      .join(bg, "gram")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private var lastState: DecontamView.DecontamState = _

  private def replayed(dl: DataFrame, bl: DataFrame, cs: Seq[Long],
                       maxLocalKeys: Int = 100000)
      : (MultiView.Result, Set[(Long, Long)]) = {
    val m = DecontamView.maintainer("text", "text")
    val res = MultiView.replay(dl, bl, cs,
      lPk = Seq("doc_id"), rPk = Seq("b_id"), lJoinCols = Seq("doc_id"),
      maintainers = Seq(m), maxLocalKeys = maxLocalKeys)
    lastState = res(m)
    (res, DecontamView.contaminated(res(m), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("every prefix == direct recompute; release flags, retire retracts") {
    for (cut <- Seq(10L, 20L, 30L, 40L, 50L)) {
      val dl = docEvents(docLog.filter(_._2 <= cut))
      val bl = benchEvents(benchLog.filter(_._2 <= cut))
      val (res, face) = replayed(dl, bl, cuts.filter(_ < cut))
      val expect = direct(Materializer.liveView(res.left),
                          Materializer.liveView(res.right))
      assert(face == expect, s"maintained face != direct at cut $cut")
      cut match {
        case 10L => assert(face == Set((1L, 1L)), "b1 flags d1")
        case 20L =>
          // the bench-only release: d2 gains its flag with NO doc event
          // in the batch — the maintained index probe, not a rescan
          assert(face == Set((1L, 1L), (2L, 1L)), "release flags d2")
        case 30L =>
          // b1 retired but b3 still carries G1: d1 must stay flagged
          assert(face == Set((1L, 1L), (2L, 1L)), "gram live via b3")
        case 40L =>
          // b3 retired -> d1 unflags; d2 rewritten away -> unflags;
          // d4 rewritten INTO G2 -> flags
          assert(face == Set((4L, 1L)), "retire retracts, rewrite flags")
        case _ => assert(face == Set.empty, "d4 deleted")
      }
    }
  }

  test("over-cap distributed path == under-cap (salted gram joins)") {
    val dl = docEvents(docLog)
    val bl = benchEvents(benchLog)
    val (_, underCap) = replayed(dl, bl, cuts)
    val (res, overCap) = replayed(dl, bl, cuts, maxLocalKeys = 1)
    assert(overCap == underCap, "over-cap fallback diverged")
    assert(overCap == direct(Materializer.liveView(res.left),
                             Materializer.liveView(res.right)))
  }

  test("over-cap step actually plans the salted gram joins") {
    val dl = docEvents(docLog.filter(_._1 == "insert"))
    val bl = benchEvents(benchLog.filter(_._1 == "insert"))
    val m = DecontamView.maintainer("text", "text")
    val stL = Materializer.compact(dl.limit(0), Seq("doc_id"))
    val stR = Materializer.compact(bl.limit(0), Seq("b_id"))
    // keys = (None, None): both sides over-cap -> distributed fallback
    val (_, _, ctx) = SnowflakeView.chainStep(Seq(stL, stR), Seq.empty,
      Seq(dl, bl), Seq(Seq("doc_id"), Seq("b_id")), Seq(Seq("doc_id")),
      keys = Some(Seq(None, None)), maxLocalKeys = 1)
    val st1 = m.step(
      m.empty(stL.drop(Materializer.MetaCols: _*).limit(0),
              stR.drop(Materializer.MetaCols: _*).limit(0),
              Seq("doc_id"), Seq("b_id"), Seq("doc_id")),
      ctx)
    val plan = st1.contam.queryExecution.optimizedPlan.toString
    // every gram-keyed semi/anti routes through FkJoin.filterByRKeys,
    // whose over-cap branch salts both sides on one "__gsalt" column
    assert(plan.contains("__gsalt"),
      s"the gram-keyed joins are not salted over-cap:\n$plan")
    assert(plan.contains("xxhash64"),
      s"salt is not the deterministic row hash:\n$plan")
  }

  test("long bench text: gram frames over-cap while keys under-cap -> salted") {
    // 2 changed bench KEYS sit under the cap (rLocal=true), but each
    // entry's text shingles into ~30 grams, so the derived touched-gram
    // frames blow the cap. They must earn their OWN broadcast
    // eligibility (capLocal) and take the salted path — inheriting the
    // keys' locality would broadcast an arbitrarily large frame for
    // long registry text.
    val dl = docEvents(docLog)
    val bl = benchEvents(benchLog)
    val (res0, _) = replayed(dl, bl, cuts)
    val st = lastState
    val fillA = (0 until 30).map(i => s"ta$i").mkString(" ")
    val fillB = (0 until 30).map(i => s"tb$i").mkString(" ")
    val release = benchEvents(Seq(
      ("insert", 99L, 10L, 50L, s"$fillA $G1"),
      ("insert", 99L, 11L, 51L, s"$fillB $G2")))
    val (Seq(lNext, rNext), _, ctx) = SnowflakeView.chainStep(
      Seq(res0.left, res0.right), Seq.empty, Seq(dl.limit(0), release),
      Seq(Seq("doc_id"), Seq("b_id")), Seq(Seq("doc_id")),
      keys = None, maxLocalKeys = 8)
    assert(ctx.rLocal, "probe premise: bench KEYS must stay under-cap")
    val m = DecontamView.maintainer("text", "text")
    val st2 = m.step(st, ctx)
    val plan = st2.contam.queryExecution.optimizedPlan.toString
    assert(plan.contains("__gsalt"),
      s"over-cap gram frames did not take the salted path:\n$plan")
    val face = DecontamView.contaminated(st2, "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = direct(Materializer.liveView(lNext),
                        Materializer.liveView(rNext))
    assert(face == expect, "salted gram-frame step diverged from direct")
    assert(face.contains((1L, 1L)), "the release must re-flag d1 via G1")
  }

  test("batching invariance: any cut set yields the same face") {
    val dl = docEvents(docLog)
    val bl = benchEvents(benchLog)
    val (_, a) = replayed(dl, bl, cuts)
    val (_, b) = replayed(dl, bl, Seq(25L))
    val (_, c) = replayed(dl, bl, Seq.empty)
    assert(a == b && b == c, "face depends on batching")
  }

  test("hashed-gram maintainer (the 100 TB knob) == literal face at sf") {
    val dl = ChangelogGen.documentsChangeEvents(spark, sfDir)
    val bl = ChangelogGen.benchChangeEvents(spark, sfDir)
    val (_, literal) = replayed(dl, bl,
      Seq(ChangelogGen.DocT1, ChangelogGen.DocT2))
    val m = DecontamView.hashedMaintainer("text", "text")
    val res = MultiView.replay(dl, bl,
      Seq(ChangelogGen.DocT1, ChangelogGen.DocT2),
      lPk = Seq("doc_id"), rPk = Seq("b_id"), lJoinCols = Seq("doc_id"),
      maintainers = Seq(m))
    val hashed = DecontamView.contaminated(res(m), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hashed == literal,
      "hashed-gram contamination diverged from the literal-gram face")
    // the state really is fixed-width: the gram column decoded as long
    assert(res(m).docGrams.schema("gram").dataType ==
             org.apache.spark.sql.types.LongType)
  }

  test("registry key space is partitioned structurally across suites") {
    // suite_a keys are doc_id/17, suite_b keys 1e9 + (doc_id-5)/23: an
    // additive offset sized to a small sf (the old 100000) collides
    // once doc_id crosses offset*17 — two registry entries sharing a pk
    // silently merge in the replay. The 1e9 base holds to 1.7e10 donor
    // docs; every pk must map to exactly one suite at any sf.
    val bl = ChangelogGen.benchChangeEvents(spark, sfDir)
    val bySuite = bl.select(col("after.b_id").as("b_id"),
                            col("after.suite").as("suite"))
      .groupBy(col("b_id"))
      .agg(countDistinct(col("suite")).as("n_suites"),
           first(col("suite")).as("suite"))
    assert(bySuite.filter(col("n_suites") > 1).count() == 0,
      "a registry pk is shared across suites")
    val aMax = bySuite.filter(col("suite") === "suite_a")
      .agg(max(col("b_id"))).head.getLong(0)
    val bMin = bySuite.filter(col("suite") === "suite_b")
      .agg(min(col("b_id"))).head.getLong(0)
    assert(aMax < 1000000000L && bMin >= 1000000000L,
      s"suite ranges not structurally disjoint: aMax=$aMax bMin=$bMin")
  }

  test("ChangelogGen topics: maintained face == direct over live states") {
    val dl = ChangelogGen.documentsChangeEvents(spark, sfDir)
    val bl = ChangelogGen.benchChangeEvents(spark, sfDir)
    val (res, face) = replayed(dl, bl,
      Seq(ChangelogGen.DocT1, ChangelogGen.DocT2))
    val expect = direct(Materializer.liveView(res.left),
                        Materializer.liveView(res.right))
    assert(face == expect, "sf corpus: maintained != direct")
    assert(face.nonEmpty, "sf corpus: no contamination found")
    // donor docs whose text is live-unchanged are contaminated by
    // construction (their excerpt's grams are their own grams)
    val live = Materializer.liveView(res.left)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val expectedDonor = (0L to 5000L by 17L)
      .map(_ / 17).filter(b => b % 4 != 0 && b % 5 != 3).map(_ * 17)
      .filter(d => live.contains(d) && d % 7 != 0)
    assert(expectedDonor.forall(d => face.exists(_._1 == d)),
      "an unchanged live suite_a donor doc is not flagged")
    // suite-impact face == direct per-suite recompute off the same states
    val liveBench = Materializer.liveView(res.right)
    val si = DecontamView.suiteImpact(lastState, liveBench,
        "b_id", "suite", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val directSuite = grams(Materializer.liveView(res.left), "doc_id")
      .join(grams(liveBench, "b_id"), "gram")
      .join(liveBench.select(col("b_id"), col("suite")), Seq("b_id"))
      .select(col("suite"), col("doc_id")).distinct()
      .groupBy(col("suite")).agg(count(lit(1)).as("n_docs"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(si == directSuite, "suite impact != direct recompute")
    assert(si.map(_._1) == Set("suite_a", "suite_b"),
      "both suites should contaminate something at this sf")
  }
}
