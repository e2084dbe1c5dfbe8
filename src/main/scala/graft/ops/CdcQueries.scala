package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.ChangelogGen

/** CDC-core queries with closed-form SQL oracles over `orders` (the
  * changelog is deterministically synthesized FROM orders, so the
  * materialized state is expressible directly — see ChangelogGen's event
  * plan). These validate the entire reference-parity path: Maxwell JSON ->
  * envelope parse -> typed decode -> op routing -> materialization. */
object CdcQueries {

  /** The expected-state expression shared by oracle SQL strings. */
  private val expectedStateSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 1.1
      |       ELSE o_totalprice END AS o_totalprice,
      |  o_orderdate, o_orderpriority
      |FROM orders WHERE o_orderkey % 10 <> 0""".stripMargin

  /** ONE shared multi-view replay over orders⋈customer serving EVERY
    * `cdc_join_*` query — the reference's fan-out shape (one decoded
    * stream feeds all registered handlers, `cdc_manager.go:277-298`)
    * as shared IVM: per batch the changed-key collect and the two state
    * merges happen once, and the inner view + ranked top-k, the
    * left-outer view, a three-measure aggregate (revenue, account-balance
    * sum, and the price square that makes AVG/VARIANCE maintainable), and
    * two pair states (distinct customers; the price distribution behind
    * min/max and percentiles) all fold the same [[graft.cdc.MultiView
    * .BatchCtx]]. Memoized per (session, sfDir); the cache is cleared on
    * application end and bounded in size, so the pinned localCheckpoint
    * RDDs cannot accumulate across unbounded sessions. */
  private object SharedJoin {
    import org.apache.spark.sql.Column
    import graft.cdc._
    val innerCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
                        "o_totalprice", "c_name", "c_acctbal")
    // the maintained inner view carries the UNION of every consumer's
    // columns; cdc_join_view projects its slice back out
    val unionCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
                        "o_totalprice", "c_nationkey", "c_name", "c_acctbal")
    private val dec = (c: Column) => c.cast("decimal(25,10)")
    private val sq = (c: Column) => { val d = c.cast("decimal(12,3)"); d * d }
    val topk = JoinTopKView.maintainer(unionCols, "c_nationkey",
                                       "o_totalprice", k = 3)
    val leftJoin = LeftJoinView.maintainer(innerCols)
    val agg = JoinAggView.maintainerNamed(Seq("c_nationkey"),
      Seq(("o_totalprice", "o_totalprice", dec),
          ("c_acctbal", "c_acctbal", dec),
          ("price_sq", "o_totalprice", sq)))
    val distinctCust = JoinDistinctView.maintainer("c_nationkey", "o_custkey")
    val distinctPrice = JoinDistinctView.maintainer("c_nationkey",
                                                    "o_totalprice")

    private val cache =
      new BoundedPinnedCache[MultiView.Result]()(_.release())
    // shared SINGLE-TOPIC fan-out (TableViews): one replay of the orders
    // changelog — one decode, one state merge per batch — maintains the
    // per-status top-k, both pair states (distinct customers; the price
    // distribution behind min/max + percentiles), and the moments state
    // behind avg/variance. The literal reference shape: N handlers
    // registered on ONE table topic (cdc_manager.go:277-298).
    val topkStatus =
      IncrementalTopK.maintainer("o_orderstatus", "o_totalprice", k = 3)
    val distCust =
      IncrementalAgg.distinctMaintainer("o_orderstatus", "o_custkey")
    val distPrice =
      IncrementalAgg.distinctMaintainer("o_orderstatus", "o_totalprice")
    val momentsPrice = IncrementalAgg.momentsMaintainer(
      "o_orderstatus", "o_totalprice", _.cast("decimal(18,8)"))
    val OrdersProfileCols = Seq("o_orderkey", "o_custkey",
      "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
    val profiler = ProfileView.maintainer(OrdersProfileCols)
    private val tableCache =
      new BoundedPinnedCache[TableViews.Result]()(_.release())
    // N-TOPIC (snowflake) shared replay: lineitem⋈orders⋈customer in ONE
    // replay of the three changelogs (SnowflakeView — the dim-side chain
    // orders⋈customer is maintained inside the loop; no changelog
    // cascade). The revenue measure exercises a cross-column expression
    // measure (extendedprice × (1 − discount)) through the shared ctx.
    val snowAgg = JoinAggView.maintainerNamed(Seq("c_nationkey"),
      Seq(("revenue", "l_extendedprice",
           (c: Column) => (c * (lit(1.0) - col("l_discount")))
             .cast("decimal(25,10)"))))
    private val snowCache =
      new BoundedPinnedCache[SnowflakeView.Result]()(_.release())
    // shared DOCUMENTS-TOPIC fan-out: one replay of the corpus changelog
    // maintains the exact-duplicate fingerprint groups AND the
    // incremental MinHash-LSH near-dup index (graft.dedup.DedupIndexView)
    // — the CDC machinery applied to the training-data dedup operators.
    val fpGroups = TableViews.mapDelta(
      IncrementalAgg.distinctMaintainer("fp", "doc_id"))(
      graft.dedup.DedupIndexView.withFingerprint("text"))
    // ONE maintained state serves the text near-dup pair face
    // (.index.scores, cdc_dedup_index) AND the text cluster face
    // (cdc_text_clusters) — the TEXT modality of the embedding-side
    // semanticMaintainer: ClusterView's component algebra over the
    // maintained MinHash band index, edges = patch-time-verified
    // Jaccard scores >= 0.5
    val dedupIdx = graft.dedup.ClusterView.overIndex(
      "doc_id",
      graft.dedup.DedupIndexView.maintainer(
        "doc_id", "text", b = 16, r = 2, nGram = 5),
      minEdgeScore = 0.5)
    // corpus-health views riding the SAME documents replay: per-language
    // size moments directly off the carried n_chars column, and
    // per-source TOKEN-BUDGET moments off a DERIVED token count
    // (TableViews.withDerived plants it into the images with exact
    // partial-old resolution, so the existing moments maintainer tracks
    // a column the upstream table never carried)
    val langMoments = IncrementalAgg.momentsMaintainer(
      "lang", "n_chars", _.cast("decimal(18,4)"))
    val tokMoments = TableViews.mapDelta(
      IncrementalAgg.momentsMaintainer("source", "n_tokens"))(
      TableViews.withDerived("text", "n_tokens")(
        graft.text.TextAnalysis.tokenCount))
    // the UDTF-shaped maintained view: per-token live occurrence counts
    // from exploded ±1 deltas (TokenFreqView)
    val tokenFreq = TokenFreqView.maintainer("text")
    // the BIGRAM modality of the token-frequency maintainer — the
    // vocabulary-bounded count table behind the maintained language
    // model (cdc_bigram_freq / cdc_lm_score)
    val bigramFreq = TokenFreqView.maintainer("text",
      t => graft.text.TextAnalysis.bigrams(graft.text.TextAnalysis.tokens(t)))
    // the DOCUMENT-FREQUENCY modality: distinct tokens per doc fold to
    // (token, number of live docs containing it) — the retrieval-side
    // sufficient statistic behind the maintained BM25 scorer
    // (cdc_bm25); an update retracts the before-text's distinct tokens
    // and applies the after-text's, so df stays exact under rewrites
    val docFreq = TokenFreqView.maintainer("text",
      t => array_distinct(graft.text.TextAnalysis.tokens(t)))
    // maintained QUALITY FUNNEL: the filter cascade's deepest-stage-
    // passed is a scan-side derived column (TextAnalysis.qualityStage),
    // so per-stage live doc counts ride the existing moments maintainer
    // — the funnel stays exact under deletes
    val qualityStages = TableViews.mapDelta(
      IncrementalAgg.momentsMaintainer("q_stage", "n_chars",
                                       _.cast("decimal(18,4)")))(
      TableViews.withDerived("text", "q_stage")(
        graft.text.TextAnalysis.qualityStage))
    private val docsCache =
      new BoundedPinnedCache[TableViews.Result]()(_.release())
    // TWO-TOPIC decontamination replay: the corpus changelog × the
    // benchmark-registry changelog (graft.dedup.DecontamView — the
    // contamination set maintained from both sides' deltas; lJoinCols
    // is MultiView's unused fk surface here, the view joins by gram)
    val decontam = graft.dedup.DecontamView.maintainer("text", "text")
    // the 100 TB swap registered NEXT TO the literal face on the same
    // two-topic replay (one decode + merge, two gram modalities):
    // 64-bit hashed grams — fixed-width join keys, ~10x smaller index;
    // benched and oracle-gated like any other face (the literal-gram
    // oracle is exact for it under the spec-measured zero-collision
    // property of the corpus)
    val decontamHashed =
      graft.dedup.DecontamView.hashedMaintainer("text", "text")
    private val decontamCache =
      new BoundedPinnedCache[MultiView.Result]()(_.release())
    // BOOTSTRAP ONE-SHOT (round 17): every shared replay below builds
    // FROM EMPTY, and a from-empty replay is semantically a one-shot
    // build — stepwise == from-scratch == one-batch is spec'd for every
    // maintainer (the dedicated view specs keep exercising the stepwise
    // cuts) — so the session-serving states fold the whole changelog as
    // ONE window at SESSION shuffle width (batchShufflePartitions = 0
    // inherits it) instead of three micro-batches at width 8. The
    // micro-batch replay pays per-batch driver round-trips (capped
    // collects, lazy-pin materializations, anti-join patches) that
    // scale with batch COUNT, not corpus size — the r16 attribution's
    // latency chain. Measured at sf0.1 (StateBuildProbe, solo): the
    // documents family 32.5s -> one-shot (recorded in SURVEY §2.3);
    // identical faces, oracle gate unchanged. Incremental maintenance
    // itself — the steady-state path — is unchanged and still spec'd
    // stepwise; this is only the from-empty bootstrap shape, the same
    // fast path maintainTableViewsToParquet takes on its first batch.
    def decontamResult(s: SparkSession, dir: String): MultiView.Result =
      decontamCache.get(s, dir) {
        MultiView.replay(
          ChangelogGen.documentsChangeEvents(s, dir),
          ChangelogGen.benchChangeEvents(s, dir),
          cuts = Seq.empty, batchShufflePartitions = 0,
          lPk = Seq("doc_id"), rPk = Seq("b_id"),
          lJoinCols = Seq("doc_id"),
          maintainers = Seq(decontam, decontamHashed))
      }
    // shared EMBEDDINGS-TOPIC fan-out: one replay of the vector-corpus
    // changelog maintains the live embedding state and the incremental
    // IVF assignment index (graft.similarity.AnnIndexView). The coarse
    // quantizer depends on (session, sfDir), so the maintainer instance
    // is memoized WITH its replay result.
    private val embCache = new BoundedPinnedCache[
      (TableViews.Result,
       TableViews.Maintainer[org.apache.spark.sql.DataFrame],
       TableViews.Maintainer[graft.dedup.ClusterView.IndexedClusterState],
       TableViews.Maintainer[graft.dedup.ClusterView.ClusterState],
       TableViews.Maintainer[org.apache.spark.sql.DataFrame])]()(
      _._1.release())
    // shared EVENTS-TOPIC fan-out: one replay of the behavioral-event
    // changelog maintains the SEQUENTIAL-PATTERN views no per-row
    // algebra can (GroupViews delta-restricted per-group recompute):
    // per-user sessions, the ordered funnel (per-user stage times +
    // additive stage counts), global transition-pair totals — plus a
    // delete-tolerant per-type UNIFORM SAMPLE as top-k over a planted
    // md5 priority (bottom-k-by-hash sampling: mergeable, and a deleted
    // sample member promotes its replacement deterministically).
    val sessions = SequentialViews.sessionMaintainer()
    val FunnelSteps = Seq("view", "click", "purchase")
    val funnel = SequentialViews.funnelMaintainer(FunnelSteps)
    val transitions = SequentialViews.transitionMaintainer()
    val retention = SequentialViews.retentionMaintainer(maxWeeks = 3)
    val anomaly = SequentialViews.anomalyMaintainer()
    val sampler = TableViews.mapCtx(
      IncrementalTopK.maintainer("event_type", "__h", k = 5))(
      TableViews.withDerived("event_id", "__h")(c => md5(c.cast("string"))))(
      _.withColumn("__h", md5(col("event_id").cast("string"))))
    private val eventsCache =
      new BoundedPinnedCache[TableViews.Result]()(_.release())
    // shared SCD2 HISTORY state: cdc_history, the as-of read, and the
    // temporal join all serve off ONE pinned history build — the history
    // table is a maintained artifact (like every other shared state
    // here), not per-query work; its one-time build lands in the bench's
    // state_build phase.
    private val histCache =
      new BoundedPinnedCache[org.apache.spark.sql.DataFrame]()(
        org.apache.spark.sql.graft.bridge.unpersistPinned)
    // pinned probe term-frequencies for the maintained LM
    // (cdc_lm_score): the probe docs are FIXED — the cdc_ann_topk
    // discipline — so their tokenize/explode/count is one-time work;
    // serving the churning model must not re-scan the documents
    // parquet to re-derive an unchanging probe frame
    private val lmProbeCache =
      new BoundedPinnedCache[org.apache.spark.sql.DataFrame]()(
        org.apache.spark.sql.graft.bridge.unpersistPinned)
    def lmProbes(s: SparkSession, dir: String)
        : org.apache.spark.sql.DataFrame =
      lmProbeCache.get(s, dir) {
        val t = graft.text.TextAnalysis.tokens(col("text"))
        graft.Tables.load(s, dir, "documents")
          .filter(col("doc_id") < 10)
          .select(col("doc_id"),
                  explode(graft.text.TextAnalysis.bigrams(t)).as("bg"))
          .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("tf"))
          .localCheckpoint(false)
      }
    // pinned probe unigram term-frequencies + doc lengths for the
    // maintained BM25 scorer (cdc_bm25) — same fixed-probe discipline
    // as lmProbes: the probes never change, only the corpus statistics
    // under them do, so their tokenize/explode/count is one-time work
    private val bm25ProbeCache =
      new BoundedPinnedCache[org.apache.spark.sql.DataFrame]()(
        org.apache.spark.sql.graft.bridge.unpersistPinned)
    def bm25Probes(s: SparkSession, dir: String)
        : org.apache.spark.sql.DataFrame =
      bm25ProbeCache.get(s, dir) {
        graft.Tables.load(s, dir, "documents")
          .filter(col("doc_id") < 10)
          .select(col("doc_id"),
                  graft.text.TextAnalysis.tokenCount(col("text")).as("dl"),
                  explode(graft.text.TextAnalysis.tokens(col("text")))
                    .as("token"))
          .groupBy(col("doc_id"), col("dl"), col("token"))
          .agg(count(lit(1)).as("tf"))
          .localCheckpoint(false)
      }
    def tableResult(s: SparkSession, dir: String): TableViews.Result =
      tableCache.get(s, dir) {
        TableViews.replay(ChangelogGen.ordersChangeEvents(s, dir),
          cuts = Seq.empty, batchShufflePartitions = 0,
          pk = Seq("o_orderkey"),
          maintainers = Seq(topkStatus, distCust, distPrice, momentsPrice,
                            profiler))
      }
    def docsResult(s: SparkSession, dir: String): TableViews.Result =
      docsCache.get(s, dir) {
        TableViews.replay(ChangelogGen.documentsChangeEvents(s, dir),
          cuts = Seq.empty, batchShufflePartitions = 0,
          pk = Seq("doc_id"),
          maintainers = Seq(fpGroups, dedupIdx, langMoments, tokMoments,
                            tokenFreq, qualityStages, bigramFreq, docFreq))
      }
    def eventsResult(s: SparkSession, dir: String): TableViews.Result =
      eventsCache.get(s, dir) {
        TableViews.replay(ChangelogGen.eventsChangeEvents(s, dir),
          cuts = Seq.empty, batchShufflePartitions = 0,
          pk = Seq("event_id"),
          maintainers = Seq(sessions, funnel, transitions, retention,
                            anomaly, sampler))
      }
    def ordersHistory(s: SparkSession, dir: String)
        : org.apache.spark.sql.DataFrame =
      histCache.get(s, dir) {
        graft.cdc.Materializer.history(
            ChangelogGen.ordersChangeEvents(s, dir),
            ChangelogGen.ordersSpec.primaryKey)
          .localCheckpoint(false)
      }
    def embResult(s: SparkSession, dir: String)
        : (TableViews.Result,
           TableViews.Maintainer[org.apache.spark.sql.DataFrame],
           TableViews.Maintainer[graft.dedup.ClusterView.IndexedClusterState],
           TableViews.Maintainer[graft.dedup.ClusterView.ClusterState],
           TableViews.Maintainer[org.apache.spark.sql.DataFrame]) =
      embCache.get(s, dir) {
        val codebook =
          graft.similarity.AnnIndexView.localCentroids(annCentroids(s, dir))
        val ann = graft.similarity.AnnIndexView.maintainer(
          "vec_id", "embedding", codebook)
        // QUANTIZER-DRIFT monitor riding the same fan-out: per-centroid
        // moments of assignment distance (cdc_ann_drift) — the staleness
        // signal for the frozen codebook above; AnnIndexView.retrain is
        // the refresh path when it trips
        val drift = graft.similarity.AnnIndexView.driftMaintainer(
          "vec_id", "embedding", codebook)
        // ONE maintained state serves the semantic near-dup pair face
        // (.index.pairs, cdc_semantic_index) AND the LSH cluster face
        // (cdc_semantic_clusters): ClusterView's component algebra
        // layered over the maintained random-hyperplane band index
        val sem = graft.dedup.ClusterView.semanticMaintainer(
          "vec_id", "embedding", dim = 64, minCosine = 0.9)
        // maintained near-dup clusters: exact-cosine edges (the oracle-
        // expressible modality; the LSH face above is the corpus-scale
        // path) at the NEAR-DUP threshold the semantic faces share.
        // 0.9 matters for more than semantics: at loose thresholds this
        // corpus collapses into one giant component (409 of 450 at 0.3)
        // and component-local relabeling degenerates to full relabels —
        // dedup-grade thresholds keep affected components small, which
        // is what makes the incremental path pay
        val clusters = graft.dedup.ClusterView.cosineMaintainer(
          "vec_id", "embedding", minCosine = 0.9)
        (TableViews.replay(ChangelogGen.embeddingsChangeEvents(s, dir),
           cuts = Seq.empty, batchShufflePartitions = 0,
           pk = Seq("vec_id"),
           maintainers = Seq(ann, sem, clusters, drift)),
         ann, sem, clusters, drift)
      }
    /** The fixed coarse quantizer: a deterministic subset of the BASE
      * corpus (trained once at index build; vectors churn, the codebook
      * does not — q_sim_ivf's stand-in discipline). */
    def annCentroids(s: SparkSession, dir: String)
        : org.apache.spark.sql.DataFrame =
      graft.Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") % 50 === 0)
        .select(col("vec_id"), col("embedding"))
    def snowResult(s: SparkSession, dir: String): SnowflakeView.Result =
      snowCache.get(s, dir) {
        SnowflakeView.replay(
          Seq(ChangelogGen.lineitemChangeEvents(s, dir),
              ChangelogGen.ordersChangeEvents(s, dir),
              ChangelogGen.customerChangeEvents(s, dir)),
          pks = Seq(Seq("l_orderkey", "l_linenumber"),
                    Seq("o_orderkey"), Seq("c_custkey")),
          fks = Seq(Seq("l_orderkey"), Seq("o_custkey")),
          cuts = Seq.empty, batchShufflePartitions = 0,
          maintainers = Seq(snowAgg))
      }
    def result(s: SparkSession, dir: String): MultiView.Result =
      cache.get(s, dir) {
        MultiView.replay(
          ChangelogGen.ordersChangeEvents(s, dir),
          ChangelogGen.customerChangeEvents(s, dir),
          cuts = Seq.empty, batchShufflePartitions = 0,
          lPk = Seq("o_orderkey"), rPk = Seq("c_custkey"),
          lJoinCols = Seq("o_custkey"),
          maintainers = Seq(topk, leftJoin, agg, distinctCust,
                            distinctPrice))
      }
    def aggState(s: SparkSession, dir: String): JoinAggView.State = {
      val r = result(s, dir)
      JoinAggView.State(r.left, r.right, r(agg))
    }
    def pairState(s: SparkSession, dir: String,
                  m: MultiView.Maintainer[(DataFrame, DataFrame)])
        : JoinDistinctView.State = {
      val r = result(s, dir)
      val (pairs, groups) = r(m)
      JoinDistinctView.State(r.left, r.right, pairs, groups)
    }
  }

  /** SQL CATALOG surface over the SESSION's maintained faces: register
    * every named `cdc_*` face (or the `names` subset) as a temp view, so
    * a SQL-first consumer reads the whole maintained surface through
    * plain `spark.sql("SELECT … FROM cdc_token_freq")` — the view's plan
    * is the served face (pinned state frames after the shared replay
    * memo builds), never a per-query rebuild. Constructing a face forces
    * its family's one-time shared replay build, exactly like serving the
    * named query does; registration itself is lazy. Returns the
    * registered names. The persisted-root sibling is
    * [[graft.streaming.CdcStream.registerFaceViews]].
    *
    * STALENESS HAZARD (the registerFaceViews note's session-side twin):
    * the registered plans read pinned state frames owned by the shared
    * replay memo's [[BoundedPinnedCache]]. If cache pressure EVICTS a
    * registered family (release() unpersists its frames), a SQL read
    * through the still-registered view recomputes from a released
    * checkpoint — failing or silently repaying the replay cost.
    * Re-register after any eviction (re-serving the named query
    * re-pins and re-binds the view), or size the cache bound so
    * registered families stay resident ([[PinnedBoundProbe]] measures
    * the estate). */
  def registerSqlFaces(s: SparkSession, dir: String,
                       names: Seq[String] = Seq.empty): Seq[String] = {
    val picked =
      if (names.nonEmpty) names
      else queries.keys.toSeq.filter(_.startsWith("cdc_")).sorted
    // validate EVERY name before registering ANY — a typo mid-list must
    // not leave the session partially registered (with the earlier
    // names' replay families already force-built)
    val unknown = picked.filterNot(queries.contains)
    require(unknown.isEmpty,
      s"registerSqlFaces: unknown face(s) ${unknown.mkString(", ")}")
    picked.foreach(n => queries(n)(s, dir).createOrReplaceTempView(n))
    picked
  }

  /** Serve a maintained face through the SQL CATALOG path: register the
    * face frame under a PRIVATE internal view name, build the served
    * frame with plain `spark.sql`, and drop the view — so the default
    * serve shape for simple maintained faces is the same road a
    * SQL-first consumer takes ([[registerSqlFaces]] binds the public
    * names), the served plan is still a read of the maintained state
    * (the registered frame IS the pinned face; SQL adds only the final
    * projection/aggregation), and serving leaves no catalog footprint
    * (a consumer's own temp view of the query's name is never
    * clobbered). */
  private def serveSql(s: SparkSession, face: DataFrame, name: String)
                      (sqlFor: String => String): DataFrame = {
    val internal = s"graft_internal_${name}_serve"
    face.createOrReplaceTempView(internal)
    try s.sql(sqlFor(internal))
    finally s.catalog.dropTempView(internal)
  }

  /** `round(c, 2)` of a DOUBLE as DuckDB computes it: round(c·100)/100
    * over the binary value. Spark's `round(c, 2)` rounds the shortest
    * decimal form instead, so a half-way-looking product such as
    * 262579.35 × 1.1 (binary 288837.28499999997…) reads 288837.285 and
    * rounds up to .29 where DuckDB gives .28. */
  private def round2(c: Column): Column = round(c * 100, 0) / 100

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Full replay -> current state (one row per surviving key).
    "cdc_materialize" -> ((s, dir) =>
      ChangelogGen.ordersState(s, dir).orderBy(col("o_orderkey"))),

    // Op-type routing counts straight off the parsed envelope (R6).
    "cdc_op_counts" -> ((s, dir) =>
      ChangelogGen.ordersChangeEvents(s, dir)
        .groupBy(col("op")).agg(count(lit(1)).as("n"))
        .orderBy(col("op"))),

    // Aggregate over materialized state: the flagship shape at sf scale.
    // r19 §2.3: the aggregate reads two fields of the state, so the fold
    // prunes the row image to (pk, status, price) — max_by_row buffers
    // are opaque to Catalyst's nested pruning, and the unpruned fold
    // shuffled every order's full image (12.7 MB vs ~2 MB at sf0.1).
    "cdc_state_agg" -> ((s, dir) =>
      graft.cdc.Materializer.currentState(
          ChangelogGen.ordersChangeEvents(s, dir),
          ChangelogGen.ordersSpec.primaryKey,
          valueCols = Some(Seq("o_orderkey", "o_orderstatus",
                               "o_totalprice")))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
             round(sum(col("o_totalprice")), 2).as("total_price"))
        .orderBy(col("o_orderstatus"))),

    // Incremental aggregate maintenance: revenue per status maintained
    // from changelog deltas alone — the base table is never re-read.
    // Deltas cast to decimal so the incremental sum is order-independent
    // and EXACTLY equals a recompute (no float-rounding boundary risk).
    // Served through the SQL catalog path (serveSql): the maintained
    // sums register as a view, the final projection is plain SQL.
    "cdc_incr_agg" -> ((s, dir) =>
      serveSql(s, graft.cdc.IncrementalAgg.sumCount(
          ChangelogGen.ordersChangeEvents(s, dir),
          groupCol = "o_orderstatus", valueCol = "o_totalprice",
          valueCast = _.cast("decimal(25,10)")), "cdc_incr_agg")(v =>
        s"""SELECT o_orderstatus,
           |  CAST(round(sum_o_totalprice, 2) AS DOUBLE) AS total_price,
           |  n_rows
           |FROM $v ORDER BY o_orderstatus""".stripMargin)),

    // Update events expose partial `before` (quirk Q3): the only non-null
    // column of `before` is the changed one. Verify its value relation.
    "cdc_update_before" -> ((s, dir) =>
      ChangelogGen.ordersChangeEvents(s, dir)
        .filter(col("op") === "update")
        .select(col("after.o_orderkey").as("o_orderkey"),
                col("before.o_totalprice").as("old_price"),
                col("after.o_totalprice").as("new_price"))
        .orderBy(col("o_orderkey"))),

    // Incremental JOIN-view maintenance: orders ⋈ customer kept current
    // from the two changelogs' deltas alone (JoinView delta-join formula),
    // replayed in three time windows. The customer inserts are staggered
    // across the windows, so dimension rows arrive LATE relative to facts
    // referencing them — the view must converge anyway. Oracle: closed-form
    // final states of both tables, joined.
    "cdc_join_view" -> ((s, dir) =>
      SharedJoin.result(s, dir)(SharedJoin.topk)._1
        .select(SharedJoin.innerCols.map(col): _*)
        .orderBy(col("o_orderkey"))),

    // LEFT OUTER join view, maintained incrementally: ALL live orders,
    // with the customer columns when the customer is live and NULL
    // otherwise (LeftJoinView). The inner view hides orders of deleted
    // customers (%25 == 0 here); the outer view keeps them NULL-padded —
    // and the pad/retract dance (dim arrives -> pad retracted and row
    // joined; dim dies -> re-padded) is the classic outer-join IVM case.
    "cdc_left_join_view" -> ((s, dir) =>
      SharedJoin.result(s, dir)(SharedJoin.leftJoin)
        .orderBy(col("o_orderkey"))),

    // Incremental AGGREGATE-OVER-JOIN maintenance (the classic IVM
    // composition): revenue + order count per customer NATION, maintained
    // from the two changelogs' deltas alone — the join result is NEVER
    // materialized; the maintained state is O(|groups|) per-nation sums
    // plus the two table states (JoinAggView retract/insert formula over
    // pre/post-merge states, decimal-cast sums for order-independent
    // exactness). Late-arriving customers credit their orders' revenue in
    // the batch where the dimension row lands; deletes retract it.
    "cdc_join_agg_view" -> ((s, dir) =>
      graft.cdc.JoinAggView.viewMulti(
          SharedJoin.aggState(s, dir), Seq("o_totalprice"))
        .select(col("c_nationkey"), col("n_rows").as("n_orders"),
                round(col("sum_o_totalprice"), 2).cast("double")
                  .as("revenue"))
        .orderBy(col("c_nationkey"))),

    // SCD2 history: every version of every key with its validity interval
    // (deletes close the last version). The full audit-table shape the
    // reference's handler callbacks would need to build by hand.
    "cdc_history" -> ((s, dir) =>
      SharedJoin.ordersHistory(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"),
                col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy(col("o_orderkey"), col("valid_from"))),

    // Point-in-time read over the SCD2 history (time travel AS OF SnapT2):
    // must equal the snapshot the replayed changelog produces at that cut.
    "cdc_history_asof" -> ((s, dir) =>
      graft.cdc.Materializer.asOf(SharedJoin.ordersHistory(s, dir), SnapT2)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))),

    // Time-travel snapshot diff: replay the changelog to two cut times and
    // diff the states (added / removed / changed keys). Scale shape: each
    // snapshot is ONE ts-filtered max_by aggregation (the filter prunes
    // events before the shuffle), then a single full-outer join on the key
    // — both snapshots share the key partitioning, so the join is
    // co-partitioned after the aggregates.
    "cdc_snapshot_diff" -> ((s, dir) => {
      // NOT pinned: the two cut branches each scan the decode subtree,
      // but they run concurrently inside one job — measured faster than
      // a pin, which serializes decode+persist ahead of the diff
      val ev = ChangelogGen.ordersChangeEvents(s, dir)
      // r19 §2.3: each cut's fold keeps only (pk, price) — the diff
      // reads nothing else, and the unpruned max_by_row buffers carried
      // every order's full row image through both exchanges
      def stateAt(t: Long) = graft.cdc.Materializer.currentState(
        ev.filter(col("ts") <= t), ChangelogGen.ordersSpec.primaryKey,
        valueCols = Some(Seq("o_orderkey", "o_totalprice")))
      val s1 = stateAt(SnapT1)
        .select(col("o_orderkey"), col("o_totalprice").as("old_price"))
      val s2 = stateAt(SnapT2)
        .select(col("o_orderkey"), col("o_totalprice").as("new_price"))
      s1.join(s2, Seq("o_orderkey"), "full_outer")
        .withColumn("change",
          when(col("old_price").isNull, "added")
            .when(col("new_price").isNull, "removed")
            .otherwise("changed"))
        .filter(col("old_price").isNull || col("new_price").isNull ||
                col("old_price") =!= col("new_price"))
        .select(col("o_orderkey"), col("change"),
                col("old_price"), col("new_price"))
        .orderBy(col("o_orderkey"))
    }),

    // Schema-drift report: inventory the keys actually present in the
    // envelope `data` payloads and flag the ones the registered TableSpec
    // doesn't know (upstream ALTER TABLE shows up here first — the
    // monitoring primitive a production CDC consumer wants before a
    // decode starts silently dropping a new column). The drifted key is
    // planted (every 7th event by seq grows an `o_shard`), since the
    // synthetic topic is schema-stable by construction. Scale shape:
    // json_object_keys is scan-side; the only shuffle is the per-key
    // count with map-side partials — |distinct keys| rows, regardless of
    // topic size.
    "cdc_schema_drift" -> ((s, dir) => {
      val raw = ChangelogGen.ordersChangelog(s, dir)
      val dataJson = get_json_object(col("value"), "$.data")
      val drifted = when(col("seq") % 7 === 0,
          concat(lit("{\"o_shard\":"), (col("seq") % 4).cast("string"),
                 lit(","), substring(dataJson, 2, Int.MaxValue)))
        .otherwise(dataJson)
      // known = key the spec's JSON-payload schema declares (renames are
      // keyed by payload name, so compare in payload-key space)
      val specCols = ChangelogGen.ordersSpec.jsonSchema.fieldNames.toSeq
      raw.select(explode(json_object_keys(drifted)).as("key"))
        .groupBy(col("key")).agg(count(lit(1)).as("n_events"))
        .withColumn("known", col("key").isin(specCols: _*))
        .orderBy(col("key"))
    }),

    // Incremental COUNT(DISTINCT) maintenance: distinct customers per
    // status from changelog deltas alone — the aggregate sketches cannot
    // maintain under deletes (HLL is not subtractable); exact via net
    // per-(group, value) multiplicities (see IncrementalAgg.distinctCount).
    // SQL catalog serve path (serveSql) — the face view is the
    // maintained pair-state read; SQL is only the rename + order.
    "cdc_distinct_view" -> ((s, dir) =>
      serveSql(s, graft.cdc.IncrementalAgg.distinctCountView(
          SharedJoin.tableResult(s, dir)(SharedJoin.distCust),
          groupCol = "o_orderstatus", valueCol = "o_custkey"),
        "cdc_distinct_view")(v =>
        s"""SELECT o_orderstatus, n_distinct_o_custkey AS n_cust
           |FROM $v ORDER BY o_orderstatus""".stripMargin)),

    // Incremental AVG/VARIANCE maintenance: moments (sum, sum of
    // squares, count) are SUBTRACTABLE, so mean and population variance
    // per status maintain from deltas with no pair state (see
    // IncrementalAgg.moments). Decimal-cast sums are exact and
    // order-independent; the decimal -> double conversion and the final
    // double arithmetic are IEEE-identical across engines, so the oracle
    // mirrors the same formula term by term. (The oracle squares via
    // DECIMAL(28,8) x DECIMAL(18,8): DuckDB multiplies two 18-digit
    // decimals in int64 storage and overflows, so one operand must be
    // wide enough to force int128; the product then clamps to
    // DECIMAL(38,16) — the same exact rational as Spark's scale-16
    // square of the scale-8 cast.)
    // SQL catalog serve path (serveSql): the term-by-term formula moves
    // to SQL VERBATIM (same Catalyst expressions, IEEE-identical).
    "cdc_avg_view" -> ((s, dir) =>
      serveSql(s, graft.cdc.IncrementalAgg.momentsView(
          SharedJoin.tableResult(s, dir)(SharedJoin.momentsPrice)),
        "cdc_avg_view")(v =>
        s"""SELECT o_orderstatus,
           |  round(CAST(sum_o_totalprice AS DOUBLE) / n_rows, 4)
           |    AS avg_price,
           |  round(CAST(sumsq_o_totalprice AS DOUBLE) / n_rows
           |        - (CAST(sum_o_totalprice AS DOUBLE) / n_rows)
           |          * (CAST(sum_o_totalprice AS DOUBLE) / n_rows), 4)
           |    AS var_price,
           |  n_rows
           |FROM $v ORDER BY o_orderstatus""".stripMargin)),

    // Incremental MIN/MAX maintenance: price bounds per status from
    // changelog deltas alone. Min/max are non-subtractable (deleting the
    // current max cannot be undone from the aggregate value); maintained
    // over the same per-(group, value) net-multiplicity state as
    // count-distinct — a delete drops its pair and the runner-up value is
    // simply the new bound (see IncrementalAgg.minMax). Completes the
    // non-subtractable family: sum/count, distinct, top-k, min/max.
    // SQL catalog serve path (serveSql).
    "cdc_minmax_view" -> ((s, dir) =>
      serveSql(s, graft.cdc.IncrementalAgg.minMaxView(
          SharedJoin.tableResult(s, dir)(SharedJoin.distPrice),
          groupCol = "o_orderstatus", valueCol = "o_totalprice"),
        "cdc_minmax_view")(v =>
        s"""SELECT o_orderstatus,
           |  round(min_o_totalprice, 2) AS min_price,
           |  round(max_o_totalprice, 2) AS max_price
           |FROM $v ORDER BY o_orderstatus""".stripMargin)),

    // Incremental PERCENTILE maintenance: exact price quartiles + p95 per
    // status from changelog deltas alone. Percentiles are the textbook
    // non-subtractable aggregate (deleting the current median shifts it
    // to a neighbor no insertion-only sketch can recover) — maintained
    // over the same per-(group, value) net-multiplicity state as
    // count-distinct/min-max: one g-partitioned window pass over the
    // live pairs, multiplicities summed, never exploded (see
    // IncrementalAgg.percentileView).
    "cdc_percentile_view" -> ((s, dir) => {
      val ps = Seq(0.25, 0.5, 0.75, 0.95)
      graft.cdc.IncrementalAgg.percentileView(
          SharedJoin.tableResult(s, dir)(SharedJoin.distPrice),
          groupCol = "o_orderstatus", valueCol = "o_totalprice", ps)
        .select(col("o_orderstatus") +: ps.map { p =>
          val n = s"p${(p * 100).toInt}"
          round(col(s"${n}_o_totalprice"), 2).as(s"${n}_price")
        }: _*)
        .orderBy(col("o_orderstatus"))
    }),

    // COUNT(DISTINCT) over a join, maintained incrementally: distinct
    // customers WITH A LIVE ORDER per nation — the non-subtractable
    // composition (JoinDistinctView): delta-join rows fold into net
    // (nation, customer) pair multiplicities, so deleting a customer's
    // LAST live order drops them from the count (no sketch over the join
    // can answer that) while their other orders keep the pair alive.
    "cdc_join_distinct_view" -> ((s, dir) =>
      graft.cdc.JoinDistinctView.view(
          SharedJoin.pairState(s, dir, SharedJoin.distinctCust),
          "c_nationkey", "o_custkey")
        .orderBy(col("c_nationkey"))),

    // AVG/VARIANCE over the join via NAMED measures: one source column
    // carries TWO measures (the decimal value and its exact decimal
    // square) through the same delta pass, so second moments — and hence
    // mean and population variance per nation — maintain incrementally
    // over L⋈R with no extra machinery. decimal(12,3) before squaring
    // keeps the scaled integers inside int64 products on BOTH engines
    // (DuckDB multiplies <=18-digit decimals in int64) and the exact
    // product width (25,6) inside decimal128.
    "cdc_join_avg_view" -> ((s, dir) => {
      val mean = col("sum_o_totalprice").cast("double") / col("n_rows")
      graft.cdc.JoinAggView.viewMulti(
          SharedJoin.aggState(s, dir), Seq("o_totalprice", "price_sq"))
        .select(col("c_nationkey"), col("n_rows").as("n_orders"),
                round(mean, 4).as("avg_price"),
                round(col("sum_price_sq").cast("double") / col("n_rows") -
                      mean * mean, 4).as("var_price"))
        .orderBy(col("c_nationkey"))
    }),

    // Exact MIN/MAX + PERCENTILES over the join, from the SAME maintained
    // pair state as cdc_join_distinct_view (one replay, two views): the
    // non-subtractable family over L⋈R — "cheapest / median / p95 live
    // order price per nation" stays exact when the extreme or the median
    // row is deleted. State is (nation, price) net multiplicities —
    // bounded by live pair cardinality, never |join rows|.
    "cdc_join_minmax_view" -> ((s, dir) => {
      val st = SharedJoin.pairState(s, dir, SharedJoin.distinctPrice)
      graft.cdc.JoinDistinctView.minMaxView(st, "c_nationkey",
                                            "o_totalprice")
        .select(col("c_nationkey"),
                round2(col("min_o_totalprice")).as("min_price"),
                round2(col("max_o_totalprice")).as("max_price"))
        .orderBy(col("c_nationkey"))
    }),

    "cdc_join_percentile_view" -> ((s, dir) => {
      val st = SharedJoin.pairState(s, dir, SharedJoin.distinctPrice)
      graft.cdc.JoinDistinctView.percentileView(st, "c_nationkey",
          "o_totalprice", Seq(0.5, 0.95))
        .select(col("c_nationkey"),
                round2(col("p50_o_totalprice")).as("p50_price"),
                round2(col("p95_o_totalprice")).as("p95_price"))
        .orderBy(col("c_nationkey"))
    }),

    // Multi-measure aggregate-over-join: revenue (fact-side) AND summed
    // account balance (dim-side) per nation, both maintained in the SAME
    // single delta pass over the same O(|groups|) state — measures from
    // either join side ride the identical retract/insert rows.
    "cdc_join_agg_multi" -> ((s, dir) => {
      graft.cdc.JoinAggView.viewMulti(
          SharedJoin.aggState(s, dir), Seq("o_totalprice", "c_acctbal"))
        .select(col("c_nationkey"), col("n_rows").as("n_orders"),
                round(col("sum_o_totalprice"), 2).cast("double")
                  .as("revenue"),
                round(col("sum_c_acctbal"), 2).cast("double")
                  .as("acct_sum"))
        .orderBy(col("c_nationkey"))
    }),

    // TEMPORAL (interval) join against the SCD2 history: each lineitem
    // joins the VERSION of its order that was valid when the lineitem
    // shipped — "what did the order look like then", the standard
    // bitemporal enrichment query over a CDC-built history table. Scale
    // shape: the equi key (orderkey) drives an ordinary hash join — the
    // validity interval rides along as a residual predicate, so there is
    // no range-join blowup; the history side is bounded by |versions|,
    // not |events|, and at 100 TB the join shuffles on the same key the
    // history is already keyed by.
    "cdc_temporal_join" -> ((s, dir) => {
      val hist = SharedJoin.ordersHistory(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"),
                col("valid_from"), col("valid_to"))
      val li = graft.Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
                // l_shipdate is parquet TIMESTAMP_NTZ; the UTC session
                // (Verify/SparkSpec) makes the LTZ cast the identity
                // instant, matching DuckDB's epoch() on the same column
                expr("unix_micros(cast(l_shipdate as timestamp_ltz)) " +
                     "div 1000000").as("t"))
      li.join(hist,
          col("l_orderkey") === col("o_orderkey") &&
            col("t") >= col("valid_from") &&
            (col("valid_to").isNull || col("t") < col("valid_to")))
        .select(col("l_orderkey"), col("l_linenumber"), col("t"),
                col("o_totalprice").as("price_then"), col("valid_from"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("t"))
    }),

    // TOP-K OVER A JOIN, maintained incrementally: the 3 most expensive
    // live orders per customer NATION, with the customer's name — the
    // last cell of the IVM matrix (JoinTopKView = JoinView's delta-join
    // materialization + delta-restricted re-ranking of only the groups
    // the batch's delta-adjacent join rows touched, pre- AND post-merge,
    // so group-moving dimension updates re-rank both nations). Deleting
    // a nation's top order, or the customer holding it, promotes the
    // runner-up — which no insert-only structure over the join can do.
    "cdc_join_topk_view" -> ((s, dir) =>
      SharedJoin.result(s, dir)(SharedJoin.topk)._2
        .select(col("c_nationkey"), col("rk"), col("o_orderkey"),
                col("o_totalprice"), col("c_name"))
        .orderBy(col("c_nationkey"), col("rk"))),

    // SNOWFLAKE (3-table chain) aggregate view in ONE shared replay:
    // net revenue per customer nation over lineitem⋈orders⋈customer,
    // maintained from the THREE changelogs' deltas alone (SnowflakeView:
    // the dim-side chain orders⋈customer is itself incrementally
    // maintained inside the replay; changed keys propagate upward as
    // effective key sets, so a customer delete retracts every one of its
    // orders' lineitems from the rollup). Composite fact pk, deletes at
    // every level, and facts arriving before AND after their dimensions.
    "cdc_snowflake_view" -> ((s, dir) =>
      graft.cdc.JoinAggView.viewOfAgg(
          SharedJoin.snowResult(s, dir)(SharedJoin.snowAgg), Seq("revenue"))
        .select(col("c_nationkey"), col("n_rows").as("n_items"),
                round(col("sum_revenue"), 2).cast("double").as("revenue"))
        .orderBy(col("c_nationkey"))),

    // Incremental TOP-K view maintenance: 3 most expensive live orders
    // per status, kept current across three replay windows by
    // delta-restricted re-ranking (only statuses the batch touched are
    // recomputed; see IncrementalTopK). The delete events exercise the
    // promote-on-delete case plain incremental top-k cannot handle.
    "cdc_topk_view" -> ((s, dir) =>
      serveSql(s, SharedJoin.tableResult(s, dir)(SharedJoin.topkStatus),
               "cdc_topk_view")(v =>
        s"""SELECT o_orderstatus, rk, o_orderkey, o_totalprice
           |FROM $v ORDER BY o_orderstatus, rk""".stripMargin)),

    // INCREMENTAL EXACT-DEDUP groups: the duplicate groups of the LIVE
    // corpus, maintained from the documents changelog's deltas alone —
    // the update phase plants exact-duplicate pairs (a doc's text is
    // replaced with its successor's), the delete phase retracts members,
    // and the min-id representative promotes when a group's
    // representative dies (the pair-multiplicity state the aggregate
    // fingerprint-count could not maintain under deletes).
    "cdc_dedup_groups" -> ((s, dir) =>
      graft.dedup.DedupIndexView.dupGroups(
          SharedJoin.docsResult(s, dir)(SharedJoin.fpGroups))
        .orderBy(col("fp"))),

    // MAINTAINED LEAKAGE-SAFE SPLIT: per-split live (group, doc) counts
    // of q_split_leakage_safe's assignment, kept current as the corpus
    // churns — with ZERO new state: the split is a pure function of
    // the group fingerprint (md5 threshold on fp), so the face is a
    // serve-side derivation off the SAME maintained fpGroups pair
    // state cdc_dedup_groups rides. Stability falls out of the scheme:
    // a group's fp never changes, so no member insert/delete/rewrite
    // can move an existing group across splits — the property a
    // rep-based scheme would lose when the representative dies.
    "cdc_split_view" -> ((s, dir) => {
      val st = SharedJoin.docsResult(s, dir)(SharedJoin.fpGroups)
      val h = substring(md5(concat(col("g"), lit(":split"))), 1, 8)
      st.pairs.filter(col("net") > 0)
        .groupBy(col("g")).agg(count(lit(1)).as("n"))
        .withColumn("split",
          when(h < "e6666666", "train")
            .when(h < "f3333333", "val").otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_groups"), sum(col("n")).as("n_docs"))
        .orderBy(col("split"))
    }),

    // INCREMENTAL NEAR-DUP INDEX: the MinHash-LSH candidate-pair view of
    // the live corpus, maintained per batch from changed docs' signatures
    // alone (DedupIndexView — |Δ| signature scans, index patched never
    // rebuilt), with each candidate Jaccard-VERIFIED AT PATCH TIME (a
    // pair's score is a pure function of its two texts, so only pairs in
    // changed buckets rescore per batch). Serving the verified index is
    // therefore a READ of the maintained scores frame — filter + sort,
    // no corpus scan, no per-serve Jaccard (plan-asserted in
    // DedupIndexViewSpec). Oracle-exact: the verified pair set equals
    // the exact >= 0.5 pair set of the live corpus (planted exact dups
    // share every band bucket structurally; the verify filter kills
    // false candidates), which DuckDB recomputes the heavy all-pairs
    // way. Stepwise == from-scratch equality stays spec'd.
    "cdc_dedup_index" -> ((s, dir) =>
      SharedJoin.docsResult(s, dir)(SharedJoin.dedupIdx).index.scores
        .select(col("id_a"), col("id_b"),
                round(col("score"), 4).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy(col("id_a"), col("id_b"))),

    // MAINTAINED TEXT NEAR-DUP CLUSTERS: connected components over the
    // MinHash index's patch-time-verified pair scores (edges = Jaccard
    // >= 0.5), relabeled component-locally per batch — the TEXT sibling
    // of cdc_semantic_clusters, served off the SAME maintained state as
    // cdc_dedup_index (one replay, two faces). Oracle-exact by
    // composition: the verified edge set equals the exact >= 0.5 pair
    // set of the live corpus (cdc_dedup_index's own oracle argument),
    // so the maintained components equal DuckDB's recursive min-label
    // reach over the exact edges.
    "cdc_text_clusters" -> ((s, dir) =>
      graft.dedup.ClusterView.view(
          SharedJoin.docsResult(s, dir)(SharedJoin.dedupIdx))
        .select(col("id").as("doc_id"), col("cluster"), col("is_rep"))
        .orderBy(col("doc_id"))),

    // MAINTAINED DECONTAMINATION over TWO topics: which live corpus docs
    // share a 5-gram with the live benchmark registry, kept current from
    // both changelogs' deltas alone (DecontamView). The replay's middle
    // batch is the flagship production scenario — a NEW EVAL RELEASE
    // (suite_b inserts) flags docs no corpus event touched, through the
    // maintained inverted gram index; the final batch retires evals
    // (b_id % 4 == 0 deletes), which must RETRACT flags exactly — a gram
    // stays contaminating while any live suite still carries it.
    "cdc_decontam" -> ((s, dir) =>
      graft.dedup.DecontamView.contaminated(
          SharedJoin.decontamResult(s, dir)(SharedJoin.decontam), "doc_id")
        .orderBy(col("doc_id"))),

    // the HASHED-GRAM modality of the same two-topic replay: identical
    // face served off DecontamView.hashedMaintainer's state — the
    // fixed-width xxhash64 index that replaces literal gram strings at
    // 100 TB. Counts equal the literal face absent a doc-gram x
    // bench-gram hash collision (spec-measured zero on this corpus),
    // which is what lets the literal-gram oracle gate it exactly.
    "cdc_decontam_hashed" -> ((s, dir) =>
      graft.dedup.DecontamView.contaminated(
          SharedJoin.decontamResult(s, dir)(SharedJoin.decontamHashed),
          "doc_id")
        .orderBy(col("doc_id"))),

    // SUITE-IMPACT off the same maintained state: per live eval suite,
    // how many live docs it contaminates — the report a release manager
    // reads when a new suite lands. Pure serve-side derivation (contam
    // re-joins the bench gram index by gram for provenance); both join
    // inputs are contamination-/bench-sized, never the corpus.
    "cdc_decontam_suite" -> ((s, dir) => {
      val r = SharedJoin.decontamResult(s, dir)
      graft.dedup.DecontamView.suiteImpact(r(SharedJoin.decontam),
          graft.cdc.Materializer.liveView(r.right), "b_id", "suite",
          "doc_id")
        .orderBy(col("suite"))
    }),

    // CORPUS-HEALTH DASHBOARD over CDC: per-language live doc counts and
    // size moments (count/sum/avg of n_chars) maintained from the
    // documents changelog's deltas alone — the curation dashboard a
    // churning corpus needs, riding the same shared replay as the dedup
    // index.
    "cdc_corpus_stats" -> ((s, dir) =>
      serveSql(s, graft.cdc.IncrementalAgg.momentsView(
          SharedJoin.docsResult(s, dir)(SharedJoin.langMoments)),
        "cdc_corpus_stats")(v =>
        s"""SELECT lang, n_rows AS n_docs,
           |  CAST(sum_n_chars AS BIGINT) AS sum_chars,
           |  round(CAST(sum_n_chars AS DOUBLE) / n_rows, 4) AS avg_chars
           |FROM $v ORDER BY lang""".stripMargin)),

    // TOKEN-BUDGET view over CDC: per-source live token totals from a
    // DERIVED token-count column the upstream table never carried
    // (TableViews.withDerived + the moments maintainer) — data-mixture
    // budgets stay current as the corpus churns.
    "cdc_token_budget" -> ((s, dir) =>
      serveSql(s, graft.cdc.IncrementalAgg.momentsView(
          SharedJoin.docsResult(s, dir)(SharedJoin.tokMoments)),
        "cdc_token_budget")(v =>
        s"""SELECT source, n_rows AS n_docs,
           |  CAST(sum_n_tokens AS BIGINT) AS sum_tokens,
           |  round(CAST(sum_n_tokens AS DOUBLE) / n_rows, 4) AS avg_tokens
           |FROM $v ORDER BY source""".stripMargin)),

    // MAINTAINED MIXTURE WEIGHTS: temperature-weighted (α = 0.5) source
    // sampling weights served off the SAME maintained token-budget
    // moments — the data-mixture recipe stays current as the corpus
    // churns, with no new state: weight_s = √tokens_s / Σ√tokens. The
    // serve aggregates a |sources|-row frame; the broadcast total is the
    // only cross-row step.
    // SQL catalog serve path (serveSql): the |sources|-row cross join
    // against the 1-row total moves to a SQL scalar subquery — same
    // broadcast-scalar shape, same arithmetic term by term.
    "cdc_mix_weights" -> ((s, dir) =>
      serveSql(s, graft.cdc.IncrementalAgg.momentsView(
            SharedJoin.docsResult(s, dir)(SharedJoin.tokMoments))
          .select(col("source"), col("n_rows").as("n_docs"),
                  col("sum_n_tokens").cast("double").as("toks")),
        "cdc_mix_weights")(v =>
        s"""SELECT source, n_docs,
           |  CAST(toks AS BIGINT) AS sum_tokens,
           |  round(toks / t.__tot, 6) AS share,
           |  round(sqrt(toks) / t.__zsum, 6) AS weight
           |FROM $v CROSS JOIN (
           |  SELECT sum(toks) AS __tot, sum(sqrt(toks)) AS __zsum
           |  FROM $v) t
           |ORDER BY source""".stripMargin)),

    // MAINTAINED QUALITY FUNNEL: q_filter_funnel's per-stage attrition
    // over the LIVE corpus, served off maintained per-stage counts — the
    // cascade's deepest-stage-passed is a scan-side derived column, so
    // the funnel is a 5-row aggregate at serve and stays exact as docs
    // arrive, are rewritten across stages, and die.
    // SQL catalog serve path (serveSql): the 5-row aggregate + stack
    // pivot move to SQL over the registered per-stage moments face.
    "cdc_quality_funnel" -> ((s, dir) =>
      serveSql(s, graft.cdc.IncrementalAgg.momentsView(
          SharedJoin.docsResult(s, dir)(SharedJoin.qualityStages)),
        "cdc_quality_funnel")(v =>
        s"""SELECT stage, rule, n_in, n_in - n_out AS n_dropped, n_out
           |FROM (
           |  SELECT stack(4,
           |    1, 'min_tokens',    n0, n1,
           |    2, 'avg_tok_len',   n1, n2,
           |    3, 'max_tok_ratio', n2, n3,
           |    4, 'stopword',      n3, n4) AS (stage, rule, n_in, n_out)
           |  FROM (
           |    SELECT sum(n_rows) AS n0,
           |      sum(CASE WHEN q_stage >= 1 THEN n_rows ELSE 0L END) AS n1,
           |      sum(CASE WHEN q_stage >= 2 THEN n_rows ELSE 0L END) AS n2,
           |      sum(CASE WHEN q_stage >= 3 THEN n_rows ELSE 0L END) AS n3,
           |      sum(CASE WHEN q_stage >= 4 THEN n_rows ELSE 0L END) AS n4
           |    FROM $v))
           |ORDER BY stage""".stripMargin)),

    // MAINTAINED TOKEN FREQUENCIES: the UDTF-shaped view — each change
    // event explodes into per-token-occurrence deltas, map-side collapsed
    // before the shuffle; the vocabulary-bounded (token, n) state is
    // q_token_freq's aggregate kept current as the corpus churns, exact
    // under deletes (a dead doc's tokens retract).
    // SQL catalog serve path (serveSql).
    "cdc_token_freq" -> ((s, dir) =>
      serveSql(s, graft.cdc.TokenFreqView.view(
          SharedJoin.docsResult(s, dir)(SharedJoin.tokenFreq)),
        "cdc_token_freq")(v =>
        s"SELECT token, n FROM $v ORDER BY n DESC, token LIMIT 50")),

    // MAINTAINED BIGRAM FREQUENCIES: the bigram modality of the
    // UDTF-shaped token view — per-bigram live occurrence counts from
    // exploded ±1 deltas, exact under deletes. The count table IS the
    // corpus language model's sufficient statistic (see cdc_lm_score).
    "cdc_bigram_freq" -> ((s, dir) =>
      graft.cdc.TokenFreqView.view(
          SharedJoin.docsResult(s, dir)(SharedJoin.bigramFreq))
        .orderBy(col("n").desc, col("token"))
        .limit(50)
        .select(col("token").as("bigram"), col("n"))),

    // MAINTAINED LANGUAGE-MODEL SCORING: fixed probe docs scored
    // against the add-one-smoothed bigram LM of the LIVE corpus — the
    // cdc_ann_topk shape for text quality: the probes are pinned, the
    // model churns underneath them (quality-drift monitoring as crawls
    // rewrite the corpus). The LM's sufficient statistics are the two
    // maintained count tables (bigrams + unigrams); serve joins the
    // tiny fixed probe term-frequencies against the vocabulary-bounded
    // states — the corpus is never re-tokenized. Unlike the batch
    // q_text_bigram_lm (probes ⊂ corpus by construction), probe
    // bigrams can be ABSENT from the live corpus (their doc was
    // rewritten or deleted), so the smoothing handles cnt=0/ctx=0.
    "cdc_lm_score" -> ((s, dir) => {
      val r = SharedJoin.docsResult(s, dir)
      graft.cdc.LmView.score(SharedJoin.lmProbes(s, dir), "doc_id",
          graft.cdc.TokenFreqView.view(r(SharedJoin.bigramFreq)),
          graft.cdc.TokenFreqView.view(r(SharedJoin.tokenFreq)))
        .orderBy(col("doc_id"))
    }),

    // MAINTAINED BM25 TERM WEIGHTING: each fixed probe doc's top-5
    // retrieval terms (Okapi BM25, k1=1.2, b=0.75) scored against the
    // LIVE corpus — the cdc_lm_score shape for lexical retrieval. The
    // scorer's sufficient statistics are all maintained: per-token
    // document frequency (the distinct-token modality of TokenFreqView,
    // exact under rewrites/deletes) and the corpus size / average doc
    // length (a |sources|-row aggregate of the token-budget moments).
    // Serve joins the pinned probe term-frequencies against the
    // vocabulary-bounded df state — no corpus scan; probe tokens ABSENT
    // from the live corpus (their docs were rewritten away) take the
    // max-idf branch via coalesce(df, 0). Ordering is on the ROUNDED
    // score (token tie-break), so the oracle's ranking is engine-stable.
    "cdc_bm25" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val r = SharedJoin.docsResult(s, dir)
      val dfTbl = graft.cdc.TokenFreqView.view(r(SharedJoin.docFreq))
        .select(col("token"), col("n").as("df"))
      val stats = graft.cdc.IncrementalAgg
        .momentsView(r(SharedJoin.tokMoments))
        .agg(sum(col("n_rows")).cast("double").as("n_docs"),
             sum(col("sum_n_tokens")).cast("double").as("sum_toks"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("bm25").desc, col("token"))
      SharedJoin.bm25Probes(s, dir)
        .join(dfTbl, Seq("token"), "left")
        .crossJoin(broadcast(stats))
        .withColumn("idf",
          log(lit(1.0) +
            (col("n_docs") - coalesce(col("df"), lit(0L)) + lit(0.5)) /
              (coalesce(col("df"), lit(0L)) + lit(0.5))))
        .withColumn("bm25",
          round(col("idf") * col("tf").cast("double") * (lit(1.2) + lit(1.0)) /
            (col("tf").cast("double") +
              lit(1.2) * (lit(1.0) - lit(0.75) +
                lit(0.75) * col("dl").cast("double") /
                  (col("sum_toks") / col("n_docs")))), 4))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("doc_id"), col("rk"), col("token"), col("bm25"))
        .orderBy(col("doc_id"), col("rk"))
    }),

    // ANN over CDC: exact top-k cosine neighbors served off the LIVE
    // vector corpus maintained from the embeddings changelog — probes
    // are fixed original vectors, the corpus churns underneath them
    // (re-embedded vectors swap in, deleted ones drop out). The decode
    // path carries float arrays through the Maxwell JSON envelope
    // bit-exact, so this is oracle-checkable against DuckDB.
    "cdc_ann_topk" -> ((s, dir) => {
      val live = graft.cdc.Materializer.liveView(
          SharedJoin.embResult(s, dir)._1.state)
        .select(col("vec_id"), col("embedding"))
      val probes = graft.Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      graft.similarity.Similarity.bruteForceTopK(live, probes, k = 3)
        .select(col("q_id"), col("rk"), col("neighbor_id"),
                round(col("cos"), 6).as("cos"))
        .orderBy(col("q_id"), col("rk"))
    }),

    // INCREMENTAL IVF INDEX: probes served off the maintained inverted
    // lists (AnnIndexView — only changed vectors re-assign per batch;
    // the coarse quantizer is fixed at index build). Oracle-exact via
    // the PLANTED probe discipline (PipelineQueries.plantedProbes):
    // probe sources are live vectors the changelog neither deleted
    // (% 10) nor re-embedded (% 7), so each probe's true top-1 in the
    // LIVE corpus is its known source and DuckDB's brute-force top-1
    // over the folded state hash-matches the index's actual retrieval.
    // Maintained == from-scratch ivfAssign stays spec'd in
    // AnnIndexViewSpec.
    "cdc_ann_ivf" -> ((s, dir) => {
      val (r, m, _, _, _) = SharedJoin.embResult(s, dir)
      val probes = PipelineQueries.plantedProbes(
        graft.Tables.load(s, dir, "embeddings"),
        col("vec_id").between(1, 5))
      graft.similarity.Similarity.ivfTopK(
          r(m), SharedJoin.annCentroids(s, dir), probes,
          k = 3, nprobe = 3)
        .filter(col("rk") === 1)
        .select(col("q_id"), col("neighbor_id"),
                round(col("cos"), 6).as("cos"))
        .orderBy(col("q_id"))
    }),

    // QUANTIZER-DRIFT MONITOR for the maintained IVF index: per
    // centroid, live vector count and mean/variance of the distance to
    // the assigned (= nearest) centroid, maintained from the
    // changelog's deltas alone (AnnIndexView.driftMaintainer — the
    // derived assignment columns are pure functions of the vector, so
    // the stat rides the ordinary moments algebra and retracts exactly
    // under re-embeds/deletes). This is the staleness signal for the
    // frozen coarse quantizer: recall degrades SILENTLY as the corpus
    // walks away from the codebook, and rising assignment distance is
    // the observable symptom; AnnIndexView.retrain is the refresh path
    // (spec'd: planted drift trips a threshold, retrain-swap restores
    // planted-probe recall). Oracle-exact: DuckDB recomputes each live
    // vector's nearest base-codebook centroid and the same
    // decimal-summed moments.
    // Served through the SQL CATALOG path end-to-end (verdict #4's
    // "one oracle query flipped"): the maintained face registers as a
    // temp view and the served frame is plain spark.sql over it — same
    // plan (a read of the maintained moments, no rebuild), now
    // reachable the way a SQL-first consumer would reach it.
    "cdc_ann_drift" -> ((s, dir) => {
      val (r, _, _, _, drift) = SharedJoin.embResult(s, dir)
      serveSql(s, graft.similarity.AnnIndexView.driftView(r(drift)),
               "cdc_ann_drift")(v =>
        s"SELECT * FROM $v ORDER BY centroid_id")
    }),

    // SEMANTIC-DEDUP INDEX over CDC: the embedding near-dup pair view
    // (random-hyperplane LSH buckets + exact-cosine verification)
    // maintained incrementally — only changed vectors re-hash per
    // batch, and only changed buckets' pairs re-verify (the same
    // band-index algebra as cdc_dedup_index with the table slot as the
    // band; cosine scores maintained AT PATCH TIME, so the serve is a
    // read of the scores frame — no corpus scan). Oracle-exact: the
    // cosine-verified pair set equals the exact >= 0.9 pair set of the
    // live corpus (planted identical vectors share every bucket
    // structurally; verification kills false candidates). Maintained ==
    // from-scratch embeddingLshCandidates stays spec'd.
    "cdc_semantic_index" -> ((s, dir) => {
      val (r, _, sem, _, _) = SharedJoin.embResult(s, dir)
      r(sem).index.scores
        .select(col("id_a"), col("id_b"),
                round(col("score"), 6).as("cos"))
        .filter(col("cos") >= 0.9)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // MAINTAINED NEAR-DUP CLUSTERS over CDC (ClusterView): connected
    // components over a maintained exact-cosine edge set, relabeled
    // COMPONENT-LOCALLY per batch — a deleted bridge vector splits its
    // cluster, a re-embedded vector migrates, untouched components
    // carry over without relabeling. Oracle-exact: DuckDB recomputes
    // the same clusters from the closed-form live state via recursive
    // min-label reach (q_dedup_semantic's CC, now as a LIVING view).
    "cdc_cluster_view" -> ((s, dir) => {
      val (r, _, _, cl, _) = SharedJoin.embResult(s, dir)
      graft.dedup.ClusterView.view(r(cl))
        .select(col("id").as("vec_id"), col("cluster"), col("is_rep"))
        .orderBy(col("vec_id"))
    }),

    // Cluster-size distribution off the maintained cluster view — the
    // dup-rate dashboard a curation pass watches (how many singletons,
    // how many k-way near-dup groups). Oracle-exact through the same
    // recursive-reach recompute.
    // SQL catalog serve path (serveSql): both aggregation levels in SQL
    // over the registered maintained cluster face.
    "cdc_cluster_stats" -> ((s, dir) => {
      val (r, _, _, cl, _) = SharedJoin.embResult(s, dir)
      serveSql(s, graft.dedup.ClusterView.view(r(cl)),
               "cdc_cluster_stats")(v =>
        s"""SELECT cluster_size, count(1) AS n_clusters
           |FROM (SELECT cluster, count(1) AS cluster_size
           |      FROM $v GROUP BY cluster)
           |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin)
    }),

    // The LSH-bucketed sibling (ClusterView.overIndex): the SAME
    // component algebra layered over the maintained random-hyperplane
    // band index — no per-batch corpus probe at all (the index's
    // |Δ|-bounded bucket patch + patch-time verification ARE the edge
    // upkeep; relabel edges are the maintained scores >= threshold,
    // no vector re-join). Oracle-exact — and by the SAME
    // recursive-CTE oracle as cdc_cluster_view: every >= 0.9 edge in
    // this corpus is a planted identical pair the LSH index finds
    // structurally, so the two modalities coincide (see
    // clusterOracleSql). Maintained == from-scratch LSH-edge CC stays
    // spec'd in ClusterViewSpec.
    "cdc_semantic_clusters" -> ((s, dir) => {
      val (r, _, sem, _, _) = SharedJoin.embResult(s, dir)
      graft.dedup.ClusterView.view(r(sem))
        .select(col("id").as("vec_id"), col("cluster"), col("is_rep"))
        .orderBy(col("vec_id"))
    }),

    // MAINTAINED DATA PROFILE: the exact profiler's stacked
    // (column, value, n) multiplicity state kept current from the orders
    // changelog's deltas alone — row/null/distinct counts and numeric
    // ranges stay true as the table churns (an update touches ONLY its
    // changed columns' value pairs; deletes retract), where the one-shot
    // HLL profile cannot retract anything.
    "cdc_profile_view" -> ((s, dir) =>
      graft.cdc.ProfileView.view(
          SharedJoin.tableResult(s, dir)(SharedJoin.profiler))
        .orderBy(col("col_name"))),

    // MAINTAINED SESSIONIZATION: the per-user 30-min-gap session table
    // kept current from the events changelog's deltas alone — the
    // sequential operator no per-row algebra maintains (deleting one
    // bridging event merges or splits its user's sessions), handled by
    // GroupViews' delta-restricted per-group recompute: only users the
    // batch touched re-sessionize, against the maintained live state.
    "cdc_session_view" -> ((s, dir) =>
      SharedJoin.eventsResult(s, dir)(SharedJoin.sessions)
        .orderBy(col("user_id"), col("sess_id"))),

    // MAINTAINED FUNNEL: strictly-ordered view->click->purchase stage
    // counts as an ADDITIVELY-maintained 3-row rollup — per batch only
    // the touched users' stage times recompute, and the counts fold
    // their before/after contributions (serving is O(1), never a scan
    // of the per-user stage table). The update phase flips event types
    // across funnel steps; deletes retract stages.
    "cdc_funnel_view" -> ((s, dir) => {
      val t = SharedJoin.eventsResult(s, dir)(SharedJoin.funnel).totals
      val base = s.createDataFrame(
          SharedJoin.FunnelSteps.zipWithIndex.map { case (n, i) =>
            (i + 1, n) })
        .toDF("stage", "step")
      base.join(t, Seq("stage", "step"), "left")
        .select(col("stage"), col("step"),
                coalesce(col("n_users"), lit(0L)).as("n_users"))
        .orderBy(col("stage"))
    }),

    // MAINTAINED TRANSITION MATRIX: global consecutive-event (from, to)
    // totals additively maintained from per-user pair deltas; the
    // conditional probability is derived at serve time over the
    // |types|²-bounded totals (a window over a tiny frame, never the
    // event log).
    "cdc_transitions_view" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = SharedJoin.eventsResult(s, dir)(SharedJoin.transitions)
        .totals
      t.select(col("from_type"), col("to_type"), col("n"),
          round(col("n") / sum(col("n"))
            .over(Window.partitionBy(col("from_type"))), 4).as("p"))
        .orderBy(col("from_type"), col("to_type"))
    }),

    // MAINTAINED COHORT RETENTION: (cohort week, weeks-later k) active-
    // user counts additively maintained from per-user cell deltas — a
    // user's cohort is group-local (it MOVES when their earliest event
    // is deleted), and the distinct per-user cells make each user's
    // contribution to a cell exactly 0/1, so counts stay exact under
    // churn.
    "cdc_retention_view" -> ((s, dir) =>
      SharedJoin.eventsResult(s, dir)(SharedJoin.retention).totals
        .select(col("cohort"), col("k"), col("n_active"))
        .orderBy(col("cohort"), col("k"))),

    // MAINTAINED ANOMALY SCORES: per-type daily z against the trailing
    // 7-day window, kept current by per-TYPE recompute (a changed event
    // re-derives only its type's daily series — the update phase moves
    // events between types, shifting both types' baselines).
    "cdc_anomaly_view" -> ((s, dir) =>
      SharedJoin.eventsResult(s, dir)(SharedJoin.anomaly)
        .orderBy(col("day"), col("event_type"))),

    // MAINTAINED UNIFORM SAMPLE: 5 events per type sampled by md5
    // priority (top-k over a hash planted via TableViews.withDerived) —
    // the delete-tolerant reservoir: membership is a pure function of
    // the live key set, so a deleted member's replacement promotes
    // deterministically and the oracle can reproduce the exact sample.
    "cdc_sample_view" -> ((s, dir) =>
      SharedJoin.eventsResult(s, dir)(SharedJoin.sampler)
        .select(col("event_type"), col("rk"), col("event_id"),
                col("user_id"))
        .orderBy(col("event_type"), col("rk"))))

  /** Snapshot cut times (epoch seconds, UTC): 1995-01-01 and 1997-01-01 —
    * inside the orders date range at every sf, so all three diff classes
    * (added / removed / changed) are populated. */
  // shared DuckDB fragments for the token/shingle oracles (the
  // PipelineQueries fragments, mirrored for the CDC oracle map)
  private val toksSql =
    "string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')"
  private def shingleSql(toksExpr: String): String =
    s"""CASE WHEN len($toksExpr) < 5 THEN [array_to_string($toksExpr, ' ')]
       |     ELSE list_transform(generate_series(1, len($toksExpr) - 4),
       |            i -> array_to_string(($toksExpr)[i:i+4], ' ')) END"""
      .stripMargin

  private val SnapT1 = 788918400L
  private val SnapT2 = 852076800L

  /** The live embeddings state after the changelog (shared estate CTE:
    * vec_id % 7 == 0 re-embedded to its successor's vector, % 10 == 0
    * deleted). */
  private val estateSql =
    """SELECT e.vec_id,
      |    CASE WHEN e.vec_id % 7 = 0 THEN coalesce(e2.embedding, e.embedding)
      |         ELSE e.embedding END AS embedding
      |  FROM embeddings e
      |  LEFT JOIN embeddings e2 ON e2.vec_id = e.vec_id + 1
      |  WHERE e.vec_id % 10 <> 0""".stripMargin

  /** Exact-cosine near-dup clusters of the live vector corpus via
    * recursive min-label reach — the oracle for BOTH maintained cluster
    * faces: the exact-edge modality (cdc_cluster_view) by definition,
    * and the LSH-index modality (cdc_semantic_clusters) because every
    * >= 0.9 pair in this corpus is a planted IDENTICAL vector (the
    * % 7 re-embed copies the successor's array bit-for-bit), identical
    * vectors share every LSH bucket structurally, and the exact-cosine
    * rerank removes all false candidates — so the two modalities'
    * outputs coincide exactly. */
  private val clusterOracleSql =
    s"""WITH RECURSIVE
      |estate AS (
      |  $estateSql),
      |v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM estate),
      |edges AS (
      |  SELECT a.vec_id AS src, b.vec_id AS dst
      |  FROM v a JOIN v b ON a.vec_id < b.vec_id
      |  WHERE list_cosine_similarity(a.v, b.v) >= 0.9),
      |sym AS (
      |  SELECT src, dst FROM edges
      |  UNION SELECT dst AS src, src AS dst FROM edges),
      |reach(id, r) AS (
      |  SELECT vec_id, vec_id FROM v
      |  UNION
      |  SELECT s.dst, reach.r FROM sym s JOIN reach ON s.src = reach.id)
      |SELECT id AS vec_id, min(r) AS cluster, (min(r) = id) AS is_rep
      |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin

  private val oracle0: Map[String, String] = Map(
    // the maintained MinHash-LSH index's Jaccard-verified pairs equal
    // the EXACT >= 0.5 pair set of the live corpus: the only such pairs
    // are the planted exact duplicates (the % 7 re-crawl copies the
    // successor's text verbatim), identical texts share every band
    // bucket structurally, and the verify filter removes all false
    // candidates — recomputed here the heavy all-pairs way
    "cdc_dedup_index" -> s"""
      |WITH dstate AS (
      |  SELECT d.doc_id,
      |    CASE WHEN d.doc_id % 7 = 0 THEN coalesce(d2.text, d.text)
      |         ELSE d.text END AS text
      |  FROM documents d LEFT JOIN documents d2 ON d2.doc_id = d.doc_id + 1
      |  WHERE d.doc_id % 10 <> 0),
      |sh AS (SELECT doc_id,
      |         list_distinct(${shingleSql(toksSql)}) AS s FROM dstate),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |          / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      |SELECT id_a, id_b, jaccard FROM p
      |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    // text clusters by composition: the maintained components over the
    // verified edge set equal recursive min-label reach over the EXACT
    // >= 0.5 edges of the live corpus (the edge sets coincide — the
    // cdc_dedup_index argument above)
    "cdc_text_clusters" -> s"""
      |WITH RECURSIVE
      |dstate AS (
      |  SELECT d.doc_id,
      |    CASE WHEN d.doc_id % 7 = 0 THEN coalesce(d2.text, d.text)
      |         ELSE d.text END AS text
      |  FROM documents d LEFT JOIN documents d2 ON d2.doc_id = d.doc_id + 1
      |  WHERE d.doc_id % 10 <> 0),
      |sh AS (SELECT doc_id,
      |         list_distinct(${shingleSql(toksSql)}) AS s FROM dstate),
      |edges AS (
      |  SELECT a.doc_id AS src, b.doc_id AS dst
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |          / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
      |sym AS (
      |  SELECT src, dst FROM edges
      |  UNION SELECT dst AS src, src AS dst FROM edges),
      |reach(id, r) AS (
      |  SELECT doc_id, doc_id FROM dstate
      |  UNION
      |  SELECT s.dst, reach.r FROM sym s JOIN reach ON s.src = reach.id)
      |SELECT id AS doc_id, min(r) AS cluster, (min(r) = id) AS is_rep
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // same argument, embedding modality: the maintained random-
    // hyperplane index's cosine-verified pairs equal the exact >= 0.9
    // pair set of the live vector corpus
    "cdc_semantic_index" -> s"""
      |WITH estate AS (
      |  $estateSql),
      |v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM estate)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_cosine_similarity(a.v, b.v), 6) AS cos
      |FROM v a JOIN v b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.v, b.v) >= 0.9
      |ORDER BY id_a, id_b""".stripMargin,
    "cdc_semantic_clusters" -> clusterOracleSql,
    // planted-probe ANN (PipelineQueries.plantedProbes discipline) over
    // the LIVE corpus: brute-force exact top-1 — probe sources are live
    // vectors the changelog left untouched, so their live embedding is
    // the original and the probe arithmetic mirrors bit-for-bit
    "cdc_ann_ivf" -> s"""
      |WITH estate AS (
      |  $estateSql),
      |q AS (SELECT vec_id + 1000000 AS q_id,
      |        list_transform(embedding::DOUBLE[],
      |          (x, i) -> x * (1 + 0.005 * (((i - 1) % 7) - 3))) AS qv
      |      FROM embeddings WHERE vec_id BETWEEN 1 AND 5),
      |c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM estate),
      |s AS (SELECT q_id, vec_id AS neighbor_id,
      |        list_cosine_similarity(qv, v) AS cos,
      |        row_number() OVER (PARTITION BY q_id
      |          ORDER BY list_cosine_similarity(qv, v) DESC, vec_id)
      |          AS rk
      |      FROM q, c)
      |SELECT q_id, neighbor_id, round(cos, 6) AS cos
      |FROM s WHERE rk = 1 ORDER BY q_id""".stripMargin,
    // live state x frozen base codebook (vec_id % 50 = 0 of the BASE
    // embeddings table — the quantizer is trained once at index build,
    // the state churns): nearest centroid by (l2, centroid_id), per-row
    // distance rounded to 6 and summed as DECIMAL(18,6) to mirror the
    // maintained moments' exact decimal arithmetic
    "cdc_ann_drift" -> s"""
      |WITH estate AS (
      |  $estateSql),
      |c AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
      |      FROM embeddings WHERE vec_id % 50 = 0),
      |d AS (SELECT e.vec_id, c.centroid_id,
      |        list_distance(e.embedding::DOUBLE[], c.cv) AS dist,
      |        row_number() OVER (PARTITION BY e.vec_id
      |          ORDER BY list_distance(e.embedding::DOUBLE[], c.cv),
      |                   c.centroid_id) AS rk
      |      FROM estate e CROSS JOIN c),
      |b AS (SELECT centroid_id,
      |        CAST(round(dist, 6) AS DECIMAL(18,6)) AS d6
      |      FROM d WHERE rk = 1)
      |SELECT centroid_id, count(*) AS n_vecs,
      |  round(CAST(sum(d6) AS DOUBLE) / count(*), 6) AS avg_dist,
      |  round(CAST(sum(d6 * d6) AS DOUBLE) / count(*)
      |        - (CAST(sum(d6) AS DOUBLE) / count(*))
      |          * (CAST(sum(d6) AS DOUBLE) / count(*)), 6) AS var_dist
      |FROM b GROUP BY centroid_id ORDER BY centroid_id""".stripMargin,
    "cdc_materialize" ->
      s"""SELECT * FROM ($expectedStateSql) ORDER BY o_orderkey""",
    // live corpus after the documents changelog (insert all / swap
    // doc_id%7==0's text to its successor's / delete doc_id%10==0),
    // grouped by content hash — Spark md5 == DuckDB md5 (lowercase hex)
    "cdc_split_view" ->
      """WITH dstate AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 7 = 0 THEN coalesce(d2.text, d.text)
        |         ELSE d.text END AS text
        |  FROM documents d
        |  LEFT JOIN documents d2 ON d2.doc_id = d.doc_id + 1
        |  WHERE d.doc_id % 10 <> 0),
        |g AS (
        |  SELECT md5(text) AS fp, count(*) AS n
        |  FROM dstate GROUP BY 1),
        |a AS (
        |  SELECT n,
        |    CASE WHEN substr(md5(fp || ':split'), 1, 8)
        |              < 'e6666666' THEN 'train'
        |         WHEN substr(md5(fp || ':split'), 1, 8)
        |              < 'f3333333' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM g)
        |SELECT split, count(*) AS n_groups,
        |  CAST(sum(n) AS BIGINT) AS n_docs
        |FROM a GROUP BY 1 ORDER BY split""".stripMargin,
    "cdc_dedup_groups" ->
      """WITH dstate AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 7 = 0 THEN coalesce(d2.text, d.text)
        |         ELSE d.text END AS text
        |  FROM documents d
        |  LEFT JOIN documents d2 ON d2.doc_id = d.doc_id + 1
        |  WHERE d.doc_id % 10 <> 0)
        |SELECT md5(text) AS fp, count(*) AS n_docs,
        |  min(doc_id) AS rep_id
        |FROM dstate GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY fp""".stripMargin,
    // live corpus (docs changelog closed form) × live benchmark registry
    // (bench changelog closed form: suite_a = first-12-token excerpts of
    // doc_id%17==0 donors with b_id%5==3 revised to the successor's,
    // suite_b = tokens 5..16 of doc_id=23j+5 donors, b_id%4==0 retired);
    // contamination = distinct 5-gram overlap per doc, union-set
    // semantics — the q_decontaminate oracle shape over both live states
    "cdc_decontam" ->
      s"""WITH dstate AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 7 = 0 THEN coalesce(d2.text, d.text)
        |         ELSE d.text END AS text
        |  FROM documents d
        |  LEFT JOIN documents d2 ON d2.doc_id = d.doc_id + 1
        |  WHERE d.doc_id % 10 <> 0),
        |base AS (SELECT doc_id, $toksSql AS toks FROM documents),
        |b1 AS (
        |  SELECT d.doc_id // 17 AS b_id,
        |    CASE WHEN (d.doc_id // 17) % 5 = 3
        |         THEN coalesce(n.toks, d.toks) ELSE d.toks END AS toks
        |  FROM base d LEFT JOIN base n ON n.doc_id = d.doc_id + 1
        |  WHERE d.doc_id % 17 = 0),
        |bstate AS (
        |  SELECT b_id, array_to_string(toks[1:12], ' ') AS text FROM b1
        |  WHERE b_id % 4 <> 0
        |  UNION ALL
        |  SELECT 1000000000 + ((doc_id - 5) // 23) AS b_id,
        |         array_to_string(toks[5:16], ' ') AS text
        |  FROM base
        |  WHERE doc_id >= 5 AND (doc_id - 5) % 23 = 0
        |    AND (1000000000 + ((doc_id - 5) // 23)) % 4 <> 0),
        |bgrams AS (
        |  SELECT DISTINCT unnest(${shingleSql(toksSql)}) AS gram
        |  FROM bstate),
        |cg AS (
        |  SELECT doc_id, unnest(list_distinct(${shingleSql(toksSql)}))
        |    AS gram
        |  FROM dstate)
        |SELECT doc_id, count(*) AS n_hits
        |FROM cg JOIN bgrams USING (gram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // same two live states, grams kept with (b_id, suite) provenance;
    // a doc counts once per suite however many grams/entries it shares
    "cdc_decontam_suite" ->
      s"""WITH dstate AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 7 = 0 THEN coalesce(d2.text, d.text)
        |         ELSE d.text END AS text
        |  FROM documents d
        |  LEFT JOIN documents d2 ON d2.doc_id = d.doc_id + 1
        |  WHERE d.doc_id % 10 <> 0),
        |base AS (SELECT doc_id, $toksSql AS toks FROM documents),
        |b1 AS (
        |  SELECT d.doc_id // 17 AS b_id,
        |    CASE WHEN (d.doc_id // 17) % 5 = 3
        |         THEN coalesce(n.toks, d.toks) ELSE d.toks END AS toks
        |  FROM base d LEFT JOIN base n ON n.doc_id = d.doc_id + 1
        |  WHERE d.doc_id % 17 = 0),
        |bstate AS (
        |  SELECT b_id, 'suite_a' AS suite,
        |         array_to_string(toks[1:12], ' ') AS text
        |  FROM b1 WHERE b_id % 4 <> 0
        |  UNION ALL
        |  SELECT 1000000000 + ((doc_id - 5) // 23) AS b_id,
        |         'suite_b' AS suite,
        |         array_to_string(toks[5:16], ' ') AS text
        |  FROM base
        |  WHERE doc_id >= 5 AND (doc_id - 5) % 23 = 0
        |    AND (1000000000 + ((doc_id - 5) // 23)) % 4 <> 0),
        |bg AS (
        |  SELECT suite, unnest(list_distinct(${shingleSql(toksSql)}))
        |    AS gram
        |  FROM bstate),
        |cg AS (
        |  SELECT doc_id, unnest(list_distinct(${shingleSql(toksSql)}))
        |    AS gram
        |  FROM dstate),
        |hits AS (
        |  SELECT DISTINCT b.suite, c.doc_id
        |  FROM cg c JOIN bg b USING (gram))
        |SELECT suite, count(*) AS n_docs
        |FROM hits GROUP BY suite ORDER BY suite""".stripMargin,
    "cdc_corpus_stats" ->
      """WITH dstate AS (
        |  SELECT d.doc_id, d.lang,
        |    CASE WHEN d.doc_id % 7 = 0 THEN coalesce(d2.n_chars, d.n_chars)
        |         ELSE d.n_chars END AS n_chars
        |  FROM documents d
        |  LEFT JOIN documents d2 ON d2.doc_id = d.doc_id + 1
        |  WHERE d.doc_id % 10 <> 0)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4) AS avg_chars
        |FROM dstate GROUP BY lang ORDER BY lang""".stripMargin,
    "cdc_token_budget" ->
      """WITH dstate AS (
        |  SELECT d.doc_id, d.source,
        |    CASE WHEN d.doc_id % 7 = 0 THEN coalesce(d2.text, d.text)
        |         ELSE d.text END AS text
        |  FROM documents d
        |  LEFT JOIN documents d2 ON d2.doc_id = d.doc_id + 1
        |  WHERE d.doc_id % 10 <> 0),
        |toks AS (
        |  SELECT source,
        |    len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')),
        |        ' ')) AS n_tokens
        |  FROM dstate)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |  round(CAST(sum(n_tokens) AS DOUBLE) / count(*), 4) AS avg_tokens
        |FROM toks GROUP BY source ORDER BY source""".stripMargin,
    "cdc_bigram_freq" ->
      s"""WITH dstate AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 7 = 0 THEN coalesce(d2.text, d.text)
        |         ELSE d.text END AS text
        |  FROM documents d
        |  LEFT JOIN documents d2 ON d2.doc_id = d.doc_id + 1
        |  WHERE d.doc_id % 10 <> 0),
        |toks AS (SELECT doc_id, $toksSql AS t FROM dstate),
        |bg AS (
        |  SELECT t[i] || ' ' || t[i+1] AS bigram
        |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks))
        |SELECT bigram, CAST(count(*) AS BIGINT) AS n
        |FROM bg GROUP BY bigram
        |ORDER BY n DESC, bigram LIMIT 50""".stripMargin,
    "cdc_lm_score" ->
      s"""WITH dstate AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 7 = 0 THEN coalesce(d2.text, d.text)
        |         ELSE d.text END AS text
        |  FROM documents d
        |  LEFT JOIN documents d2 ON d2.doc_id = d.doc_id + 1
        |  WHERE d.doc_id % 10 <> 0),
        |ltoks AS (SELECT doc_id, $toksSql AS t FROM dstate),
        |lbg AS (
        |  SELECT t[i] || ' ' || t[i+1] AS bg
        |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM ltoks)),
        |cbg AS (SELECT bg, count(*) AS cnt FROM lbg GROUP BY bg),
        |ctx AS (SELECT split_part(bg, ' ', 1) AS w1, sum(cnt) AS ctx_n
        |        FROM cbg GROUP BY 1),
        |vocab AS (
        |  SELECT count(DISTINCT tok) AS v
        |  FROM (SELECT unnest(t) AS tok FROM ltoks)),
        |ptoks AS (SELECT doc_id, $toksSql AS t FROM documents
        |          WHERE doc_id < 10),
        |pbg AS (
        |  SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
        |        FROM ptoks)),
        |tf AS (SELECT doc_id, bg, count(*) AS tf FROM pbg
        |       GROUP BY doc_id, bg)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bg,
        |  round(-sum(CAST(tf AS DOUBLE) *
        |             ln(CAST(coalesce(cnt, 0) + 1 AS DOUBLE) /
        |                (coalesce(ctx_n, 0) + v))) / sum(tf),
        |        4) AS nll
        |FROM tf
        |LEFT JOIN cbg USING (bg)
        |LEFT JOIN ctx ON split_part(bg, ' ', 1) = ctx.w1
        |CROSS JOIN vocab
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // BM25 recomputed the heavy way: df/n_docs/avgdl from the folded
    // live corpus, probe tf/dl from the fixed base docs — the engine
    // serves the same numbers off maintained statistics alone
    "cdc_bm25" ->
      s"""WITH dstate AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 7 = 0 THEN coalesce(d2.text, d.text)
        |         ELSE d.text END AS text
        |  FROM documents d
        |  LEFT JOIN documents d2 ON d2.doc_id = d.doc_id + 1
        |  WHERE d.doc_id % 10 <> 0),
        |ltoks AS (SELECT doc_id, $toksSql AS t FROM dstate),
        |df AS (
        |  SELECT token, count(*) AS df
        |  FROM (SELECT DISTINCT doc_id, unnest(t) AS token FROM ltoks)
        |  GROUP BY token),
        |stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |         CAST(sum(len(t)) AS DOUBLE) AS sum_toks
        |  FROM ltoks),
        |ptoks AS (SELECT doc_id, $toksSql AS t FROM documents
        |          WHERE doc_id < 10),
        |tf AS (
        |  SELECT doc_id, dl, token, count(*) AS tf
        |  FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS token
        |        FROM ptoks)
        |  GROUP BY doc_id, dl, token),
        |scored AS (
        |  SELECT doc_id, token,
        |    round(ln(1.0 + (n_docs - coalesce(df, 0) + 0.5) /
        |                   (coalesce(df, 0) + 0.5))
        |      * CAST(tf AS DOUBLE) * (1.2 + 1.0) /
        |        (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 +
        |           0.75 * CAST(dl AS DOUBLE) / (sum_toks / n_docs))),
        |      4) AS bm25
        |  FROM tf LEFT JOIN df USING (token) CROSS JOIN stats),
        |ranked AS (
        |  SELECT doc_id, token, bm25,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY bm25 DESC, token) AS rk
        |  FROM scored)
        |SELECT doc_id, rk, token, bm25
        |FROM ranked WHERE rk <= 5 ORDER BY doc_id, rk""".stripMargin,
    "cdc_mix_weights" ->
      """WITH dstate AS (
        |  SELECT d.doc_id, d.source,
        |    CASE WHEN d.doc_id % 7 = 0 THEN coalesce(d2.text, d.text)
        |         ELSE d.text END AS text
        |  FROM documents d
        |  LEFT JOIN documents d2 ON d2.doc_id = d.doc_id + 1
        |  WHERE d.doc_id % 10 <> 0),
        |toks AS (
        |  SELECT source,
        |    len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')),
        |        ' ')) AS n_tokens
        |  FROM dstate),
        |agg AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_tokens) AS DOUBLE) AS t
        |  FROM toks GROUP BY source),
        |tot AS (SELECT sum(t) AS tt, sum(sqrt(t)) AS zz FROM agg)
        |SELECT source, n_docs, CAST(t AS BIGINT) AS sum_tokens,
        |  round(t / tt, 6) AS share, round(sqrt(t) / zz, 6) AS weight
        |FROM agg, tot ORDER BY source""".stripMargin,
    "cdc_quality_funnel" ->
      s"""WITH dstate AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 7 = 0 THEN coalesce(d2.text, d.text)
        |         ELSE d.text END AS text
        |  FROM documents d
        |  LEFT JOIN documents d2 ON d2.doc_id = d.doc_id + 1
        |  WHERE d.doc_id % 10 <> 0),
        |tokc AS (
        |  SELECT doc_id, tok, count(*) AS c
        |  FROM (SELECT doc_id, unnest($toksSql) AS tok FROM dstate)
        |  GROUP BY doc_id, tok),
        |top AS (
        |  SELECT doc_id, max(c) AS top_c, sum(c) AS n_tok
        |  FROM tokc GROUP BY doc_id),
        |flags AS (
        |  SELECT
        |    (n_tok >= 30) AS b1,
        |    (CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
        |       / n_tok BETWEEN 2.0 AND 10.0) AS b2,
        |    (top_c * 5 <= n_tok) AS b3,
        |    (list_contains($toksSql, 'the')
        |       OR list_contains($toksSql, 'a')) AS b4
        |  FROM dstate JOIN top USING (doc_id)),
        |agg AS (
        |  SELECT count(*) AS n0,
        |    count(*) FILTER (WHERE b1) AS n1,
        |    count(*) FILTER (WHERE b1 AND b2) AS n2,
        |    count(*) FILTER (WHERE b1 AND b2 AND b3) AS n3,
        |    count(*) FILTER (WHERE b1 AND b2 AND b3 AND b4) AS n4
        |  FROM flags)
        |SELECT stage, rule, n_in, n_in - n_out AS n_dropped, n_out
        |FROM (
        |  SELECT 1 AS stage, 'min_tokens' AS rule, n0 AS n_in, n1 AS n_out
        |  FROM agg
        |  UNION ALL SELECT 2, 'avg_tok_len', n1, n2 FROM agg
        |  UNION ALL SELECT 3, 'max_tok_ratio', n2, n3 FROM agg
        |  UNION ALL SELECT 4, 'stopword', n3, n4 FROM agg)
        |ORDER BY stage""".stripMargin,
    "cdc_token_freq" ->
      """WITH dstate AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 7 = 0 THEN coalesce(d2.text, d.text)
        |         ELSE d.text END AS text
        |  FROM documents d
        |  LEFT JOIN documents d2 ON d2.doc_id = d.doc_id + 1
        |  WHERE d.doc_id % 10 <> 0),
        |tok AS (
        |  SELECT unnest(string_split(trim(regexp_replace(text, '\s+', ' ',
        |    'g')), ' ')) AS token
        |  FROM dstate)
        |SELECT token, CAST(count(*) AS BIGINT) AS n
        |FROM tok GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin,
    // live events state after the events changelog (insert all / flip
    // event_id%7==0's type click<->view->click / delete event_id%10==0)
    "cdc_session_view" ->
      """WITH estate AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us, user_id
        |  FROM events WHERE event_id % 10 <> 0),
        |e AS (
        |  SELECT user_id, ts_us, event_id,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |           OR ts_us - lag(ts_us) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM estate
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s AS (
        |  SELECT user_id, ts_us,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us,
        |      event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS sess_id
        |  FROM e)
        |SELECT user_id, CAST(sess_id AS INT) AS sess_id,
        |  count(*) AS n_events, make_timestamp(min(ts_us)) AS sess_start,
        |  round((max(ts_us) - min(ts_us)) / 1000000.0, 3) AS dur_sec
        |FROM s GROUP BY user_id, sess_id
        |ORDER BY user_id, sess_id""".stripMargin,
    "cdc_funnel_view" ->
      """WITH estate AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us, user_id,
        |    CASE WHEN event_id % 7 = 0 THEN
        |      CASE WHEN event_type = 'click' THEN 'view' ELSE 'click' END
        |    ELSE event_type END AS event_type
        |  FROM events WHERE event_id % 10 <> 0),
        |t1 AS (SELECT user_id, min(ts_us) AS t1 FROM estate
        |       WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (SELECT e.user_id, min(ts_us) AS t2
        |       FROM estate e JOIN t1 USING (user_id)
        |       WHERE event_type = 'click' AND ts_us > t1
        |       GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, min(ts_us) AS t3
        |       FROM estate e JOIN t2 USING (user_id)
        |       WHERE event_type = 'purchase' AND ts_us > t2
        |       GROUP BY e.user_id)
        |SELECT stage, step, n_users FROM (
        |  SELECT 1 AS stage, 'view' AS step, count(*) AS n_users FROM t1
        |  UNION ALL SELECT 2, 'click', count(*) FROM t2
        |  UNION ALL SELECT 3, 'purchase', count(*) FROM t3)
        |ORDER BY stage""".stripMargin,
    "cdc_transitions_view" ->
      """WITH estate AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us, user_id,
        |    CASE WHEN event_id % 7 = 0 THEN
        |      CASE WHEN event_type = 'click' THEN 'view' ELSE 'click' END
        |    ELSE event_type END AS event_type
        |  FROM events WHERE event_id % 10 <> 0),
        |seq AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY ts_us, event_id) AS to_type
        |  FROM estate),
        |pairs AS (
        |  SELECT from_type, to_type, count(*) AS n
        |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(n / sum(n) OVER (PARTITION BY from_type), 4) AS p
        |FROM pairs ORDER BY from_type, to_type""".stripMargin,
    "cdc_profile_view" -> Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority").map(c =>
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
        |  count(*) - count($c) AS n_nulls,
        |  count(DISTINCT $c) AS n_distinct,
        |  round(min(TRY_CAST(CAST($c AS VARCHAR) AS DOUBLE)), 4)
        |    AS min_num,
        |  round(max(TRY_CAST(CAST($c AS VARCHAR) AS DOUBLE)), 4)
        |    AS max_num
        |FROM ($expectedStateSql)""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),
    "cdc_anomaly_view" ->
      """WITH estate AS (
        |  SELECT event_id, ts,
        |    CASE WHEN event_id % 7 = 0 THEN
        |      CASE WHEN event_type = 'click' THEN 'view' ELSE 'click' END
        |    ELSE event_type END AS event_type
        |  FROM events WHERE event_id % 10 <> 0),
        |daily AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
        |  FROM estate GROUP BY 1, 2),
        |scored AS (
        |  SELECT day, event_type, n,
        |    avg(n) OVER w AS mu, stddev_samp(n) OVER w AS sd
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT day, event_type, n, round(mu, 4) AS mu, round(sd, 4) AS sd,
        |  round(CASE WHEN sd > 0 THEN (n - mu) / sd END, 4) AS z,
        |  abs(CASE WHEN sd > 0 THEN (n - mu) / sd END) > 2 AS is_anomaly
        |FROM scored ORDER BY day, event_type""".stripMargin,
    "cdc_retention_view" ->
      """WITH e AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS wk
        |  FROM events WHERE event_id % 10 <> 0),
        |first AS (
        |  SELECT user_id, min(wk) AS cohort FROM e GROUP BY user_id),
        |cells AS (
        |  SELECT DISTINCT e.user_id, cohort,
        |    CAST(floor(datediff('day', cohort, wk) / 7) AS INT) AS k
        |  FROM e JOIN first USING (user_id)
        |  WHERE floor(datediff('day', cohort, wk) / 7) <= 3)
        |SELECT cohort, k, count(*) AS n_active
        |FROM cells GROUP BY cohort, k ORDER BY cohort, k""".stripMargin,
    "cdc_sample_view" ->
      """WITH estate AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN event_id % 7 = 0 THEN
        |      CASE WHEN event_type = 'click' THEN 'view' ELSE 'click' END
        |    ELSE event_type END AS event_type
        |  FROM events WHERE event_id % 10 <> 0),
        |r AS (
        |  SELECT event_type, event_id, user_id,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY md5(CAST(event_id AS VARCHAR)) DESC, event_id)
        |      AS rk
        |  FROM estate)
        |SELECT event_type, CAST(rk AS INT) AS rk, event_id, user_id
        |FROM r WHERE rk <= 5 ORDER BY event_type, rk""".stripMargin,
    // live vector corpus after the embeddings changelog (same phase plan
    // as documents: swap vec_id%7==0's vector to its successor's, delete
    // vec_id%10==0), probed by the fixed original vectors vec_id < 5
    "cdc_ann_topk" ->
      """WITH estate AS (
        |  SELECT e.vec_id,
        |    CASE WHEN e.vec_id % 7 = 0 THEN coalesce(e2.embedding, e.embedding)
        |         ELSE e.embedding END AS embedding
        |  FROM embeddings e
        |  LEFT JOIN embeddings e2 ON e2.vec_id = e.vec_id + 1
        |  WHERE e.vec_id % 10 <> 0),
        |q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
        |      FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM estate),
        |s AS (SELECT q_id, vec_id AS neighbor_id,
        |        list_cosine_similarity(qv, v) AS cos,
        |        row_number() OVER (PARTITION BY q_id
        |          ORDER BY list_cosine_similarity(qv, v) DESC, vec_id)
        |          AS rk
        |      FROM q, c WHERE vec_id <> q_id)
        |SELECT q_id, CAST(rk AS INT) AS rk, neighbor_id,
        |  round(cos, 6) AS cos
        |FROM s WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin,
    // the exact-edge modality shares clusterOracleSql with
    // cdc_semantic_clusters — see its scaladoc for why the two
    // maintained modalities' outputs coincide on this corpus
    "cdc_cluster_view" -> clusterOracleSql,
    "cdc_cluster_stats" ->
      """WITH RECURSIVE
        |estate AS (
        |  SELECT e.vec_id,
        |    CASE WHEN e.vec_id % 7 = 0 THEN coalesce(e2.embedding, e.embedding)
        |         ELSE e.embedding END AS embedding
        |  FROM embeddings e
        |  LEFT JOIN embeddings e2 ON e2.vec_id = e.vec_id + 1
        |  WHERE e.vec_id % 10 <> 0),
        |v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM estate),
        |edges AS (
        |  SELECT a.vec_id AS src, b.vec_id AS dst
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.9),
        |sym AS (
        |  SELECT src, dst FROM edges
        |  UNION SELECT dst AS src, src AS dst FROM edges),
        |reach(id, r) AS (
        |  SELECT vec_id, vec_id FROM v
        |  UNION
        |  SELECT s.dst, reach.r FROM sym s JOIN reach ON s.src = reach.id),
        |cl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
        |sizes AS (SELECT cluster, count(*) AS cluster_size
        |          FROM cl GROUP BY cluster)
        |SELECT cluster_size, count(*) AS n_clusters
        |FROM sizes GROUP BY 1 ORDER BY 1""".stripMargin,
    "cdc_op_counts" ->
      """SELECT op, n FROM (
        |  SELECT 'insert' AS op, count(*) AS n FROM orders
        |  UNION ALL
        |  SELECT 'update', count(*) FROM orders WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT 'delete', count(*) FROM orders WHERE o_orderkey % 10 = 0
        |) ORDER BY op""".stripMargin,
    "cdc_state_agg" ->
      s"""SELECT o_orderstatus, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM ($expectedStateSql)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "cdc_incr_agg" ->
      s"""SELECT o_orderstatus,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,10))), 2)
        |       AS DOUBLE) AS total_price,
        |  count(*) AS n_rows
        |FROM ($expectedStateSql)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "cdc_join_view" ->
      s"""WITH ostate AS ($expectedStateSql),
        |cstate AS (
        |  SELECT c_custkey, c_name,
        |    c_acctbal + CASE WHEN c_custkey % 4 = 0 THEN 100.0
        |                     ELSE 0.0 END AS c_acctbal
        |  FROM customer WHERE c_custkey % 25 <> 0)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  c_name, c_acctbal
        |FROM ostate JOIN cstate ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "cdc_left_join_view" ->
      s"""WITH ostate AS ($expectedStateSql),
        |cstate AS (
        |  SELECT c_custkey, c_name,
        |    c_acctbal + CASE WHEN c_custkey % 4 = 0 THEN 100.0
        |                     ELSE 0.0 END AS c_acctbal
        |  FROM customer WHERE c_custkey % 25 <> 0)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  c_name, c_acctbal
        |FROM ostate LEFT JOIN cstate ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "cdc_join_avg_view" ->
      s"""WITH ostate AS ($expectedStateSql),
        |cstate AS (
        |  SELECT c_custkey, c_nationkey
        |  FROM customer WHERE c_custkey % 25 <> 0),
        |j AS (
        |  SELECT c_nationkey, count(*) AS n,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(25,10))) AS DOUBLE) AS s,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,3)) *
        |             CAST(o_totalprice AS DECIMAL(12,3))) AS DOUBLE) AS sq
        |  FROM ostate JOIN cstate ON o_custkey = c_custkey
        |  GROUP BY c_nationkey)
        |SELECT c_nationkey, n AS n_orders,
        |  round(s / n, 4) AS avg_price,
        |  round(sq / n - (s / n) * (s / n), 4) AS var_price
        |FROM j ORDER BY c_nationkey""".stripMargin,
    "cdc_join_minmax_view" ->
      s"""WITH ostate AS ($expectedStateSql),
        |cstate AS (
        |  SELECT c_custkey, c_nationkey
        |  FROM customer WHERE c_custkey % 25 <> 0)
        |SELECT c_nationkey,
        |  round(min(o_totalprice), 2) AS min_price,
        |  round(max(o_totalprice), 2) AS max_price
        |FROM ostate JOIN cstate ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "cdc_join_percentile_view" ->
      s"""WITH ostate AS ($expectedStateSql),
        |cstate AS (
        |  SELECT c_custkey, c_nationkey
        |  FROM customer WHERE c_custkey % 25 <> 0)
        |SELECT c_nationkey,
        |  round(quantile_disc(o_totalprice, 0.5), 2) AS p50_price,
        |  round(quantile_disc(o_totalprice, 0.95), 2) AS p95_price
        |FROM ostate JOIN cstate ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "cdc_join_distinct_view" ->
      s"""WITH ostate AS ($expectedStateSql),
        |cstate AS (
        |  SELECT c_custkey, c_nationkey
        |  FROM customer WHERE c_custkey % 25 <> 0)
        |SELECT c_nationkey,
        |  count(DISTINCT o_custkey) AS n_distinct_o_custkey
        |FROM ostate JOIN cstate ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "cdc_join_agg_multi" ->
      s"""WITH ostate AS ($expectedStateSql),
        |cstate AS (
        |  SELECT c_custkey, c_nationkey,
        |    c_acctbal + CASE WHEN c_custkey % 4 = 0 THEN 100.0
        |                     ELSE 0.0 END AS c_acctbal
        |  FROM customer WHERE c_custkey % 25 <> 0)
        |SELECT c_nationkey, count(*) AS n_orders,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,10))), 2)
        |       AS DOUBLE) AS revenue,
        |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(25,10))), 2)
        |       AS DOUBLE) AS acct_sum
        |FROM ostate JOIN cstate ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "cdc_temporal_join" ->
      """WITH v1 AS (
        |  SELECT o_orderkey, o_totalprice,
        |    CAST(epoch(o_orderdate) AS BIGINT) AS valid_from,
        |    CAST(CASE WHEN o_orderstatus = 'F' THEN epoch(o_orderdate) + 3600
        |              WHEN o_orderkey % 10 = 0 THEN epoch(o_orderdate) + 7200
        |              ELSE NULL END AS BIGINT) AS valid_to
        |  FROM orders),
        |v2 AS (
        |  SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice,
        |    CAST(epoch(o_orderdate) + 3600 AS BIGINT) AS valid_from,
        |    CAST(CASE WHEN o_orderkey % 10 = 0 THEN epoch(o_orderdate) + 7200
        |              ELSE NULL END AS BIGINT) AS valid_to
        |  FROM orders WHERE o_orderstatus = 'F'),
        |v AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2),
        |li AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(epoch(l_shipdate) AS BIGINT) AS t
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber, t,
        |  o_totalprice AS price_then, valid_from
        |FROM li JOIN v ON l_orderkey = o_orderkey
        |  AND t >= valid_from AND (valid_to IS NULL OR t < valid_to)
        |ORDER BY l_orderkey, l_linenumber, t""".stripMargin,
    "cdc_join_agg_view" ->
      s"""WITH ostate AS ($expectedStateSql),
        |cstate AS (
        |  SELECT c_custkey, c_nationkey
        |  FROM customer WHERE c_custkey % 25 <> 0)
        |SELECT c_nationkey, count(*) AS n_orders,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,10))), 2)
        |       AS DOUBLE) AS revenue
        |FROM ostate JOIN cstate ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "cdc_update_before" ->
      """SELECT o_orderkey, o_totalprice AS old_price,
        |  o_totalprice * 1.1 AS new_price
        |FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_orderkey""".stripMargin,
    "cdc_history" ->
      // closed-form versions from the event plan: v1 = the insert image,
      // closed by the 'F' update (+3600) or the %10 delete (+7200);
      // v2 = the updated image ('F' rows only), closed by the delete
      """WITH v1 AS (
        |  SELECT o_orderkey, o_totalprice,
        |    CAST(epoch(o_orderdate) AS BIGINT) AS valid_from,
        |    CAST(CASE WHEN o_orderstatus = 'F' THEN epoch(o_orderdate) + 3600
        |              WHEN o_orderkey % 10 = 0 THEN epoch(o_orderdate) + 7200
        |              ELSE NULL END AS BIGINT) AS valid_to
        |  FROM orders),
        |v2 AS (
        |  SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice,
        |    CAST(epoch(o_orderdate) + 3600 AS BIGINT) AS valid_from,
        |    CAST(CASE WHEN o_orderkey % 10 = 0 THEN epoch(o_orderdate) + 7200
        |              ELSE NULL END AS BIGINT) AS valid_to
        |  FROM orders WHERE o_orderstatus = 'F')
        |SELECT o_orderkey, o_totalprice, valid_from, valid_to,
        |  (valid_to IS NULL) AS is_current
        |FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
        |ORDER BY o_orderkey, valid_from""".stripMargin,
    "cdc_history_asof" ->
      s"""SELECT o_orderkey,
        |  CASE WHEN o_orderstatus = 'F'
        |        AND epoch(o_orderdate) + 3600 <= $SnapT2
        |       THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE epoch(o_orderdate) <= $SnapT2
        |  AND NOT (o_orderkey % 10 = 0
        |           AND epoch(o_orderdate) + 7200 <= $SnapT2)
        |ORDER BY o_orderkey""".stripMargin,
    "cdc_snapshot_diff" -> {
      // closed-form snapshot at cut time T, straight from the event plan:
      // present iff insert(ts=base) <= T and no delete(ts=base+7200) <= T;
      // price updated iff the 'F' update (ts=base+3600) <= T
      def stateSql(t: Long, priceAlias: String) =
        s"""SELECT o_orderkey,
           |  CASE WHEN o_orderstatus = 'F' AND epoch(o_orderdate) + 3600 <= $t
           |       THEN o_totalprice * 1.1 ELSE o_totalprice END AS $priceAlias
           |FROM orders
           |WHERE epoch(o_orderdate) <= $t
           |  AND NOT (o_orderkey % 10 = 0 AND epoch(o_orderdate) + 7200 <= $t)"""
          .stripMargin
      s"""WITH s1 AS (${stateSql(788918400L, "old_price")}),
        |s2 AS (${stateSql(852076800L, "new_price")})
        |SELECT coalesce(s1.o_orderkey, s2.o_orderkey) AS o_orderkey,
        |  CASE WHEN s1.o_orderkey IS NULL THEN 'added'
        |       WHEN s2.o_orderkey IS NULL THEN 'removed'
        |       ELSE 'changed' END AS change,
        |  old_price, new_price
        |FROM s1 FULL JOIN s2 ON s1.o_orderkey = s2.o_orderkey
        |WHERE s1.o_orderkey IS NULL OR s2.o_orderkey IS NULL
        |   OR old_price <> new_price
        |ORDER BY o_orderkey""".stripMargin
    },
    "cdc_schema_drift" ->
      // closed form from the event plan: every event's data carries the 6
      // spec keys; the planted o_shard appears on events whose seq
      // (insert = 3k, update = 3k+1 for 'F', delete = 3k+2 for %10 = 0)
      // is divisible by 7
      """WITH ev AS (
        |  SELECT o_orderkey * 3 AS seq FROM orders
        |  UNION ALL
        |  SELECT o_orderkey * 3 + 1 FROM orders WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT o_orderkey * 3 + 2 FROM orders WHERE o_orderkey % 10 = 0),
        |n AS (
        |  SELECT count(*) AS n_all,
        |    count(*) FILTER (WHERE seq % 7 = 0) AS n_drift
        |  FROM ev)
        |SELECT key, n_events, known FROM (
        |  SELECT unnest(['o_orderkey', 'o_custkey', 'o_orderstatus',
        |                 'o_totalprice', 'o_orderdate', 'o_orderpriority'])
        |    AS key, n_all AS n_events, true AS known FROM n
        |  UNION ALL
        |  SELECT 'o_shard', n_drift, false FROM n)
        |ORDER BY key""".stripMargin,
    "cdc_distinct_view" ->
      s"""SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust
        |FROM ($expectedStateSql)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "cdc_avg_view" ->
      s"""WITH m AS (
        |  SELECT o_orderstatus,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,8))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(28,8)) *
        |             CAST(o_totalprice AS DECIMAL(18,8))) AS DOUBLE) AS s2,
        |    count(*) AS n_rows
        |  FROM ($expectedStateSql) GROUP BY o_orderstatus)
        |SELECT o_orderstatus,
        |  round(s1 / n_rows, 4) AS avg_price,
        |  round(s2 / n_rows - (s1 / n_rows) * (s1 / n_rows), 4) AS var_price,
        |  n_rows
        |FROM m ORDER BY o_orderstatus""".stripMargin,
    "cdc_minmax_view" ->
      s"""SELECT o_orderstatus, round(min(o_totalprice), 2) AS min_price,
        |  round(max(o_totalprice), 2) AS max_price
        |FROM ($expectedStateSql)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "cdc_percentile_view" ->
      s"""SELECT o_orderstatus,
        |  round(quantile_disc(o_totalprice, 0.25), 2) AS p25_price,
        |  round(quantile_disc(o_totalprice, 0.5), 2) AS p50_price,
        |  round(quantile_disc(o_totalprice, 0.75), 2) AS p75_price,
        |  round(quantile_disc(o_totalprice, 0.95), 2) AS p95_price
        |FROM ($expectedStateSql)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "cdc_snowflake_view" ->
      s"""WITH lbase AS (
        |  SELECT * FROM (
        |    SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount,
        |      row_number() OVER (PARTITION BY l_orderkey, l_linenumber
        |        ORDER BY l_extendedprice, l_discount, l_returnflag,
        |                 l_shipdate) AS rn
        |    FROM lineitem) WHERE rn = 1),
        |lstate AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CASE WHEN l_linenumber % 2 = 0 THEN l_extendedprice * 0.95
        |         ELSE l_extendedprice END AS l_extendedprice,
        |    l_discount
        |  FROM lbase WHERE l_orderkey % 7 <> 0),
        |ostate AS ($expectedStateSql),
        |cstate AS (
        |  SELECT c_custkey, c_nationkey
        |  FROM customer WHERE c_custkey % 25 <> 0)
        |SELECT c_nationkey, count(*) AS n_items,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
        |                      AS DECIMAL(25,10))), 2) AS DOUBLE) AS revenue
        |FROM lstate
        |JOIN ostate ON l_orderkey = o_orderkey
        |JOIN cstate ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "cdc_join_topk_view" ->
      s"""WITH ostate AS ($expectedStateSql),
        |cstate AS (
        |  SELECT c_custkey, c_nationkey, c_name
        |  FROM customer WHERE c_custkey % 25 <> 0)
        |SELECT c_nationkey, CAST(rk AS INT) AS rk, o_orderkey,
        |  o_totalprice, c_name
        |FROM (
        |  SELECT c_nationkey, c_name, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM ostate JOIN cstate ON o_custkey = c_custkey)
        |WHERE rk <= 3
        |ORDER BY c_nationkey, rk""".stripMargin,
    "cdc_topk_view" ->
      s"""SELECT o_orderstatus, CAST(rk AS INT) AS rk, o_orderkey,
        |  o_totalprice
        |FROM (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM ($expectedStateSql))
        |WHERE rk <= 3
        |ORDER BY o_orderstatus, rk""".stripMargin)

  /** `cdc_decontam_hashed` serves off the 64-bit HASHED-gram state
    * (DecontamView.hashedMaintainer — the stated 100 TB swap): its
    * per-doc counts equal the literal-gram face on any corpus without
    * an xxhash64 doc-gram x bench-gram collision (DecontamViewSpec
    * measures ZERO collisions over the test corpus' full gram sets),
    * so the literal-gram DuckDB oracle gates it exactly. */
  val oracle: Map[String, String] =
    oracle0 + ("cdc_decontam_hashed" -> oracle0("cdc_decontam"))
}
