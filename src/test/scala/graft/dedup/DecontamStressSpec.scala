package graft.dedup

import graft.SparkSpec
import graft.cdc.{Materializer, MultiView, SnowflakeView}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The 100 TB claim for the maintained decontamination view, measured
  * in miniature: replay a 10×-sf0.1-sized corpus (50k docs) against a
  * FIXED-size benchmark registry, then probe that one more batch's
  * maintenance work — on EITHER side — is bounded by |Δ| × |bench|,
  * never the corpus. The corpus-side gram index is only ever read
  * through pinned scans (broadcast/salted key probes, never exchanged),
  * so total shuffle records are the scale-sensitive metric: a
  * corpus-sized stage would show ≥ |corpus| records on the 10× run.
  * The bench-side probe is the production flagship — a NEW EVAL
  * RELEASE indexing against a 10× corpus must cost the same as against
  * 1×. */
class DecontamStressSpec extends SparkSpec with graft.ShuffleProbe {

  /** Corpus changelog: deterministic 8-word texts (coprime residues),
    * inserts batched by ts = 1 + id%10, early ids updated at ts=12, a
    * slice deleted at ts=13 (the DedupIndexStressSpec corpus). */
  private def docText(id: org.apache.spark.sql.Column) =
    format_string("w%d x%d y%d z%d q%d r%d k%d m%d",
      id % 97, id % 89, id % 83, id % 79, id % 73, id % 71, id % 67,
      id % 61)

  private def docLog(n: Long): DataFrame = {
    val base = spark.range(n).select(
      lit("insert").as("op"), (lit(1L) + col("id") % 10).as("ts"),
      col("id").as("seq"),
      struct(col("id").as("doc_id"), docText(col("id")).as("text"))
        .as("after"))
    val upd = spark.range(n / 25).select(
      lit("update").as("op"), lit(12L).as("ts"),
      (col("id") + 10000000L).as("seq"),
      struct(col("id").as("doc_id"),
             concat(lit("edited v2 "), docText(col("id"))).as("text"))
        .as("after"))
    val del = spark.range(n / 25, n / 20).select(
      lit("delete").as("op"), lit(13L).as("ts"),
      (col("id") + 20000000L).as("seq"),
      struct(col("id").as("doc_id"), docText(col("id")).as("text"))
        .as("after"))
    base.unionByName(upd).unionByName(del)
  }

  /** FIXED-size benchmark registry: 200 entries, each the first 5
    * words of donor doc id*20 — real contamination by construction,
    * and |bench| does NOT scale with the corpus (the premise of the
    * operator: eval registries are small; per-batch cost is
    * |Δ| × |bench|-bounded). */
  private def benchText(bid: org.apache.spark.sql.Column) = {
    val d = bid * 20
    format_string("w%d x%d y%d z%d q%d",
      d % 97, d % 89, d % 83, d % 79, d % 73)
  }

  private def benchLog(): DataFrame =
    spark.range(200).select(
      lit("insert").as("op"), (lit(1L) + col("id") % 10).as("ts"),
      col("id").as("seq"),
      struct(col("id").as("b_id"), benchText(col("id")).as("text"))
        .as("after"))

  /** Bench-side probe: a 20-entry NEW RELEASE at ts=99. */
  private def benchProbe(): DataFrame =
    spark.range(1000, 1020).select(
      lit("insert").as("op"), lit(99L).as("ts"),
      (col("id") + 30000000L).as("seq"),
      struct(col("id").as("b_id"),
             format_string("w%d x%d y%d z%d q%d",
               (col("id") * 31 + 7) % 97, (col("id") * 31 + 7) % 89,
               (col("id") * 31 + 7) % 83, (col("id") * 31 + 7) % 79,
               (col("id") * 31 + 7) % 73).as("text")).as("after"))

  /** Doc-side probe: 50 re-edits of mid-range ids at ts=99. */
  private def docProbe(): DataFrame =
    spark.range(100, 150).select(
      lit("update").as("op"), lit(99L).as("ts"),
      (col("id") + 40000000L).as("seq"),
      struct(col("id").as("doc_id"),
             concat(lit("probe v3 "), docText(col("id"))).as("text"))
        .as("after"))

  /** One corpus × the fixed registry, replayed and forced: the final
    * result, its maintainer, and the live doc count. */
  private final class Replayed(
      val res: MultiView.Result,
      val m: MultiView.Maintainer[DecontamView.DecontamState],
      val live: Long)

  private def replay(n: Long): Replayed = {
    val m = DecontamView.maintainer("text", "text")
    val res = MultiView.replay(docLog(n), benchLog(),
      cuts = (1L to 13L),
      lPk = Seq("doc_id"), rPk = Seq("b_id"), lJoinCols = Seq("doc_id"),
      maintainers = Seq(m))
    val live = Materializer.liveView(res.left).count()
    val st = res(m)
    st.docGrams.count(); st.benchGrams.count(); st.contam.count()
    new Replayed(res, m, live)
  }

  // The replay depends only on the corpus size, so each is built once
  // per suite and shared by every probe: `step` returns a NEW state and
  // `chainStep` new merged states, so the probes stay independent.
  private lazy val replayed1x = replay(5000L)
  private lazy val replayed10x = replay(50000L)

  /** Measure one more batch on the given side over a shared replay.
    * `gramOverCap` drives the release probe down the OVER-CAP gram
    * path: the doc-side key set is pinned empty-local (no doc churn —
    * the release premise) while maxLocalKeys=1 forces every derived
    * gram frame past the broadcast cap, so the probe exercises
    * bloom-prune + salted semi instead of exact broadcast. */
  private def replayAndProbe(r: Replayed, probeDocs: Boolean,
                             gramOverCap: Boolean = false)
      : (Long, (Long, Long)) = {
    import spark.implicits._
    import r.{live, m, res}
    val st = res(m)
    val (dl, bl) =
      if (probeDocs) (docProbe(), benchProbe().limit(0))
      else (docProbe().limit(0), benchProbe())
    val keys =
      if (gramOverCap) Some(Seq(Some(Seq.empty[Long].toDF("doc_id")), None))
      else None
    val shuffled = shuffleRecordsDuring {
      val (Seq(lN, rN), _, ctx) = SnowflakeView.chainStep(
        Seq(res.left, res.right), Seq.empty, Seq(dl, bl),
        Seq(Seq("doc_id"), Seq("b_id")), Seq(Seq("doc_id")), keys = keys,
        maxLocalKeys = if (gramOverCap) 1 else 100000)
      val st2 = m.step(st, ctx)
      lN.count(); rN.count()
      st2.docGrams.count(); st2.benchGrams.count(); st2.contam.count()
    }
    (live, shuffled)
  }

  test("a new eval release is |Δ|×|bench|-bounded, not corpus-sized") {
    val (live1x, (tot1x, _)) = replayAndProbe(replayed1x, probeDocs = false)
    val (live10x, (tot10x, max10x)) = replayAndProbe(replayed10x,
                                                     probeDocs = false)
    assert(live10x > 9 * live1x, "10x corpus did not materialize")
    assert(max10x < live10x,
      s"a single release-probe stage shuffled $max10x records on the " +
        s"10x corpus ($live10x live docs) — corpus-sized exchange")
    assert(tot10x < live10x,
      s"release probe shuffled $tot10x records total on the 10x corpus " +
        s"($live10x live docs) — not |Δ|-bounded")
    assert(tot10x <= 3 * math.max(tot1x, 100L),
      s"release-probe shuffle grew with corpus size: 1x=$tot1x, " +
        s"10x=$tot10x")
  }

  test("OVER-CAP release probe (bloom + salted) stays release-bounded") {
    // the salted fallback's scale contract, MEASURED: with the gram
    // frames forced past the broadcast cap, the index probe must
    // bloom-prune the corpus-sized gram index scan-side — a plain
    // salted semi would exchange the whole index, shuffle growing
    // linearly in the corpus
    val (_, (tot1x, _)) = replayAndProbe(replayed1x, probeDocs = false,
                                         gramOverCap = true)
    val (live10x, (tot10x, max10x)) = replayAndProbe(replayed10x,
      probeDocs = false, gramOverCap = true)
    assert(max10x < live10x,
      s"an over-cap release-probe stage shuffled $max10x records on " +
        s"the 10x corpus ($live10x live docs) — index-sized exchange: " +
        lastTopStages.take(3).mkString("; "))
    assert(tot10x < live10x,
      s"over-cap release probe shuffled $tot10x records total on the " +
        s"10x corpus ($live10x live docs)")
    assert(tot10x <= 3 * math.max(tot1x, 100L),
      s"over-cap release-probe shuffle grew with corpus size: " +
        s"1x=$tot1x, 10x=$tot10x")
  }

  test("a corpus re-crawl batch is |Δ|×|bench|-bounded too") {
    val (_, (tot1x, _)) = replayAndProbe(replayed1x, probeDocs = true)
    val (live10x, (tot10x, max10x)) = replayAndProbe(replayed10x,
                                                     probeDocs = true)
    assert(max10x < live10x && tot10x < live10x,
      s"doc-probe shuffle ($tot10x total, $max10x max-stage) is " +
        s"corpus-sized ($live10x live docs)")
    assert(tot10x <= 3 * math.max(tot1x, 100L),
      s"doc-probe shuffle grew with corpus size: 1x=$tot1x, 10x=$tot10x")
  }
}
