package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Row image for the micro-changelog (top-level: Spark can't encode
  * test-class inner case classes). */
case class TopKImg(id: java.lang.Long, grp: String, v: java.lang.Double)

/** IncrementalTopK: the maintained view must equal a full recompute at
  * every batching, including the two cases naive incremental top-k gets
  * wrong — promote-on-delete (a row OUTSIDE the current top-k must enter
  * when a ranked row is deleted) and group-moving updates (both groups
  * re-rank). */
class IncrementalTopKSpec extends SparkSpec {

  private type Img = TopKImg
  private def Img(id: Long, grp: String, v: Double) =
    TopKImg(id, grp, v)

  /** Micro-changelog, RowDecoder.changeEvents-shaped
    * (op, ts, seq, before, after, changed_cols). */
  private lazy val events: DataFrame = {
    import spark.implicits._
    def ins(ts: Long, id: Long, grp: String, v: Double) =
      ("insert", ts, ts, null.asInstanceOf[Img], Img(id, grp, v),
       null.asInstanceOf[Seq[String]])
    Seq(
      ins(1, 1, "a", 10.0), ins(2, 2, "a", 9.0), ins(3, 3, "a", 8.0),
      ins(4, 4, "a", 7.0), ins(5, 5, "b", 5.0), ins(6, 6, "b", 4.0),
      // batch 2 (ts > 10):
      // delete the TOP row of a (id=1) — id=4, currently OUTSIDE the
      // k=2 view, must be promoted
      ("delete", 11L, 11L, null.asInstanceOf[Img], Img(1L, "a", 10.0),
       null.asInstanceOf[Seq[String]]),
      // group-moving update: id=2 a -> b (both groups re-rank)
      ("update", 12L, 12L, Img(2L, "a", 9.0), Img(2L, "b", 9.0),
       Seq("grp")),
      // value-only update of id=6: before.grp is NULL (Q3 partial
      // image) — the maintainer must NOT consult it
      ("update", 13L, 13L, Img(6L, null, 4.0), Img(6L, "b", 6.0),
       Seq("v")))
      .toDF("op", "ts", "seq", "before", "after", "changed_cols")
  }

  private def recompute(ev: DataFrame, k: Int): DataFrame = {
    val live = Materializer.currentState(ev, Seq("id"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("v").desc, col("id").asc)
    live.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("grp"), col("rk"), col("id"), col("v"))
  }

  /** The top-k view after replaying `ev` across `cuts` — the generic
    * single-topic replay with this one maintainer. */
  private def topKReplay(ev: DataFrame, cuts: Seq[Long], pk: Seq[String],
                         groupCol: String, orderCol: String, k: Int,
                         maxLocalKeys: Int = JoinView.DefaultMaxLocalKeys)
      : DataFrame = {
    val m = IncrementalTopK.maintainer(groupCol, orderCol, k)
    TableViews.replay(ev, cuts, pk, Seq(m), maxLocalKeys = maxLocalKeys)(m)
  }

  private def replayed(cuts: Seq[Long], k: Int): DataFrame =
    topKReplay(events, cuts, pk = Seq("id"),
        groupCol = "grp", orderCol = "v", k = k)
      .select(col("grp"), col("rk"), col("id"), col("v"))

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      s"view mismatch:\nmaintained:\n${a.orderBy("grp", "rk").collect()
        .mkString("\n")}\nrecomputed:\n${b.orderBy("grp", "rk").collect()
        .mkString("\n")}")
  }

  test("single batch equals full recompute") {
    assertSame(replayed(Seq(), k = 2), recompute(events, k = 2))
  }

  test("batched replay handles promote-on-delete and group moves") {
    val view = replayed(Seq(10L), k = 2).cache()
    assertSame(view, recompute(events, k = 2))
    // the promoted row (id=4) is present even though it was never in
    // batch 1's view and batch 2 carried no event for it
    assert(view.filter(col("id") === 4 && col("rk") === 2).count() == 1)
    // group b re-ranked: moved id=2 (v=9) now leads b
    assert(view.filter(col("grp") === "b" && col("rk") === 1 &&
                       col("id") === 2).count() == 1)
    view.unpersist()
  }

  test("random insert/delete logs: batched replay equals one-shot (scalacheck)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    val genCmd = for {
      kind <- Gen.frequency(3 -> 0, 1 -> 1)
      id <- Gen.choose(1L, 15L)
      grp <- Gen.oneOf("a", "b", "c")
      v <- Gen.choose(0, 1000).map(_ / 10.0)
    } yield (kind, id, grp, v)
    (0 until 5).foreach { trial =>
      val cmds = Gen.listOfN(40, genCmd)
        .apply(Gen.Parameters.default, Seed(7L + trial)).get
      // CONTRACT-VALID log only (same discipline as the distinctCount
      // generator below): inserts for absent keys, deletes carrying the
      // key's TRUE image (Q4) — touchedGroups relies on delete images
      // naming the row's real group, so a random image would test a log
      // no CDC source produces
      var live = Map.empty[Long, TopKImg]
      val evs = cmds.zipWithIndex.flatMap { case ((kind, id, g, v), i) =>
        val ts = i.toLong
        live.get(id) match {
          case None if kind == 0 =>
            live += id -> TopKImg(id, g, v)
            Some(("insert", ts, ts, null.asInstanceOf[TopKImg],
                  TopKImg(id, g, v), null.asInstanceOf[Seq[String]]))
          case Some(cur) if kind == 1 =>
            live -= id
            Some(("delete", ts, ts, null.asInstanceOf[TopKImg], cur,
                  null.asInstanceOf[Seq[String]]))
          case _ => None
        }
      }
      val evDf = evs
        .toDF("op", "ts", "seq", "before", "after", "changed_cols")
        .localCheckpoint()
      val batched = topKReplay(evDf, cuts = Seq(13L, 27L),
          pk = Seq("id"), groupCol = "grp", orderCol = "v", k = 2)
        .select(col("grp"), col("rk"), col("id"), col("v"))
      assertSame(batched, recompute(evDf, k = 2))
    }
  }

  test("distinctCount: random valid changelogs equal recompute (scalacheck)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // generate SEMANTICALLY VALID logs: inserts only for absent keys,
    // updates/deletes only for present ones, update `before` = the key's
    // current image with changed_cols listing real differences — the
    // changelog contract distinctCount's exact retraction relies on
    val genCmd = for {
      id <- Gen.choose(1L, 12L)
      grp <- Gen.oneOf("a", "b", "c")
      v <- Gen.choose(0, 9).map(_.toDouble)
      kind <- Gen.choose(0, 2)
    } yield (kind, id, grp, v)
    (0 until 5).foreach { trial =>
      val cmds = Gen.listOfN(50, genCmd)
        .apply(Gen.Parameters.default, Seed(99L + trial)).get
      var live = Map.empty[Long, TopKImg]
      val evs = cmds.zipWithIndex.flatMap { case ((kind, id, g, v), i) =>
        val ts = i.toLong
        live.get(id) match {
          case None if kind == 0 => // insert
            live += id -> TopKImg(id, g, v)
            Some(("insert", ts, ts, null.asInstanceOf[TopKImg],
                  TopKImg(id, g, v), null.asInstanceOf[Seq[String]]))
          case Some(cur) if kind == 1 => // delete (image rides in after)
            live -= id
            Some(("delete", ts, ts, null.asInstanceOf[TopKImg], cur,
                  null.asInstanceOf[Seq[String]]))
          case Some(cur) if kind == 2 => // update with true before image
            val next = TopKImg(id, g, v)
            val changed = Seq("grp" -> (cur.grp != g), "v" -> (cur.v != v))
              .collect { case (c, true) => c }
            live += id -> next
            if (changed.isEmpty) None
            else Some(("update", ts, ts, cur, next, changed))
          case _ => None
        }
      }
      val evDf = evs.toDF("op", "ts", "seq", "before", "after",
                          "changed_cols")
      val got = IncrementalAgg.distinctCount(evDf, "grp", "v")
        .collect()
        .map(r => r.getAs[String]("grp") -> r.getAs[Long]("n_distinct_v"))
        .toMap
      val want = live.values.groupBy(_.grp)
        .map { case (g, rows) => g -> rows.map(_.v).toSet.size.toLong }
        .filter(_._2 > 0)
      assert(got == want, s"trial $trial: got $got want $want")
    }
  }

  test("replay leaves the caller session's AQE conf untouched") {
    val before = spark.conf.get("spark.sql.adaptive.enabled")
    replayed(Seq(10L), k = 2).count()
    assert(spark.conf.get("spark.sql.adaptive.enabled") == before)
  }

  test("over-cap batch runs the distributed fallback (same view)") {
    // cap = 1: every key/group collect blows the limit, so the batch
    // must take the cluster-side path (unhinted joins, no LocalRelation)
    // and still produce exactly the recomputed view — promote-on-delete
    // and the group-moving update included
    val capped = topKReplay(events, Seq(10L), pk = Seq("id"),
        groupCol = "grp", orderCol = "v", k = 2, maxLocalKeys = 1)
      .select(col("grp"), col("rk"), col("id"), col("v"))
    assertSame(capped, recompute(events, k = 2))
  }

  test("update with NULL changed_cols fails loudly (exact re-rank impossible)") {
    // mirror of IncrementalAgg's guard: a malformed/missing raw `old`
    // means the before-group is unknowable — if the update moved the
    // row's group, silently treating it as "unmoved" would leave a stale
    // row in the view under the old group
    import spark.implicits._
    val ev = Seq(
      ("insert", 1L, 1L, null.asInstanceOf[Img], Img(1L, "a", 1.0),
       null.asInstanceOf[Seq[String]]),
      ("update", 2L, 2L, null.asInstanceOf[Img], Img(1L, "a", 2.0),
       null.asInstanceOf[Seq[String]]))
      .toDF("op", "ts", "seq", "before", "after", "changed_cols")
    // the update lands in the SECOND window: a from-empty first window
    // re-ranks the whole merged state (no prior view row can go stale),
    // so the before-group is consulted only once a view exists
    val e = intercept[Exception] {
      topKReplay(ev, Seq(1L), pk = Seq("id"),
        groupCol = "grp", orderCol = "v", k = 2).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("NULL changed_cols")),
      s"expected the NULL-changed_cols guard to fire, got: ${messages(e)}")
  }

  test("row image with a pre-existing rk column is rejected loudly") {
    import spark.implicits._
    val img = Seq((1L, "a", 1.0, 7)).toDF("id", "grp", "v", "rk")
    intercept[IllegalArgumentException] {
      IncrementalTopK.topK(img, Seq("id"), "grp", "v", 2)
    }
  }

  test("ordersChangelog view equals closed-form top-3 per status") {
    val ev = ChangelogGen.ordersChangeEvents(spark, sfDir)
    val view = topKReplay(ev, cuts = Seq(788918400L),
        pk = Seq("o_orderkey"), groupCol = "o_orderstatus",
        orderCol = "o_totalprice", k = 3)
      .select(col("o_orderstatus"), col("rk"), col("o_orderkey"))
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val expect = ChangelogGen.ordersState(spark, sfDir)
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select(col("o_orderstatus"), col("rk"), col("o_orderkey"))
    assert(view.exceptAll(expect).count() == 0 &&
           expect.exceptAll(view).count() == 0)
  }
}
