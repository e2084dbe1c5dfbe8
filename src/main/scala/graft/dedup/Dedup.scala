package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis

/** Deduplication operators for LLM training-data pipelines, each designed
  * around its shuffle profile at 100 TB:
  *
  *  - exact / fingerprint dedup: one hash-partitioned `groupBy` on a
  *    16-byte digest — shuffle carries (digest, id), never the text.
  *  - MinHash+LSH near-dup: one codegen'd hash per shingle, k family
  *    members derived arithmetically, k map-side-partial min aggregates —
  *    the shuffle carries k longs per (partition, doc), never shingle
  *    text. Candidate pairs come from same-bucket grouping on band
  *    hashes, i.e. the classic band-join, avoiding the O(n²) cross join
  *    entirely.
  *  - SimHash: 64-bit signature per doc via the same explode+partial-agg
  *    shape; near-dup = low Hamming distance within buckets of 16-bit
  *    signature chunks (pigeonhole).
  *  - n-gram Jaccard: exact verification on CANDIDATE pairs only.
  */
object Dedup {

  // ---------- exact ----------

  /** Exact dedup on a normalized-content fingerprint: one row per distinct
    * content, keeping the lowest id deterministically (min/count are
    * map-side partial aggs — same scale shape as Materializer). */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    docs.withColumn("__fp", fp)
      .groupBy(col("__fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
  }

  // ---------- MinHash + LSH ----------

  /** Word n-gram shingles as an array column (scan-side, no explode). */
  def shingles(text: Column, n: Int): Column =
    shinglesFromTokens(TextAnalysis.tokens(text), n)

  /** [[shingles]] over a PRE-TOKENIZED array column — the shared-corpus
    * path: when several dedup queries run over one corpus, tokenization
    * is computed once and pinned (see ops.SharedCorpus) instead of
    * re-split per query. Tokens contain no whitespace, so re-tokenizing
    * their space-join is the identity — both forms yield the same
    * shingles. */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))

  /** Per-token xxhash64 array — THE shared hashing primitive: MinHash
    * shingle identities and SimHash lane sums both derive from it, so a
    * corpus pass that feeds several signature families hashes each token
    * string exactly once (ops.SharedCorpus pins this array alongside the
    * tokens). */
  def tokenHashes(toks: Column): Column = transform(toks, t => xxhash64(t))

  /** Shingle identities as xxhash64 over n-length WINDOWS of the
    * token-hash array — the hash-domain mirror of [[shinglesFromTokens]]
    * (short docs collapse to one whole-array hash the way short docs
    * collapse to one whole-doc shingle). Hashing 8-byte lanes instead of
    * materializing each n-gram's concatenated string drops the dominant
    * allocation from the signature scan; two token sequences collide only
    * if their per-token hashes collide, so candidate quality is the same
    * LSH contract as the string form. */
  def shingleHashesFromTokenHashes(th: Column, n: Int): Column =
    when(size(th) < n, array(xxhash64(th)))
      .otherwise(transform(
        sequence(lit(0), size(th) - n),
        i => xxhash64(slice(th, i + lit(1), lit(n)))))

  /** Mersenne prime 2^31-1 for the universal hash family
    * h_i(x) = (a_i·x + b_i) mod p — products stay < 2^62, safe under
    * ANSI overflow checking. */
  private val P = 2147483647L
  private def hashFamily(k: Int, seed: Long): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(seed)
    (Array.fill(k)(1L + rnd.nextInt(Int.MaxValue - 2)),
     Array.fill(k)(rnd.nextInt(Int.MaxValue).toLong))
  }

  /** k-wide MinHash signatures per document: `(id, sig: array<bigint>)`.
    *
    * Shape chosen for codegen + scale: explode shingles once, hash each
    * shingle string ONCE (xxhash64), derive the k family members
    * arithmetically (2 mul-add-mods each), take k `min` aggregates. The
    * whole pipeline is whole-stage-codegen'd; the shuffle carries only the
    * map-side partially-aggregated k longs per (partition, doc) — never
    * the shingle strings. (A per-row HOF formulation avoids the shuffle
    * entirely but runs interpreted: measured 60x slower at sf0.1.) */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, nGram: Int, seed: Long = 42L): DataFrame =
    minhashFromShingleHashes(docs, idCol,
      shingleHashesFromTokenHashes(
        tokenHashes(TextAnalysis.tokens(col(textCol))), nGram), k, seed)

  /** [[minhashSignatures]] over a pre-tokenized array column (shared-
    * corpus path — same value, tokenization not re-run). */
  def minhashSignaturesFromTokens(docs: DataFrame, idCol: String,
                                  toksCol: String, k: Int, nGram: Int,
                                  seed: Long = 42L): DataFrame =
    minhashFromShingleHashes(docs, idCol,
      shingleHashesFromTokenHashes(tokenHashes(col(toksCol)), nGram),
      k, seed)

  /** [[minhashSignatures]] over a PRE-HASHED token array (the
    * [[tokenHashes]] column SharedCorpus pins once and feeds every
    * signature family — neither tokenization nor per-token hashing is
    * re-run). Same value as the token/text forms: the shingle identity
    * is a window hash of per-token hashes in all three. */
  def minhashSignaturesFromTokenHashes(docs: DataFrame, idCol: String,
                                       thCol: String, k: Int, nGram: Int,
                                       seed: Long = 42L): DataFrame =
    minhashFromShingleHashes(docs, idCol,
      shingleHashesFromTokenHashes(col(thCol), nGram), k, seed)

  private def minhashFromShingleHashes(docs: DataFrame, idCol: String,
                                       sh: Column, k: Int,
                                       seed: Long): DataFrame = {
    val (as, bs) = hashFamily(k, seed)
    val spread = graft.Tables.ensureParallelism(docs)
    val exploded = spread.select(col(idCol).as("id"), explode(sh).as("h0"))
      .select(col("id"), pmod(col("h0"), lit(P)).as("h"))
    val minCols = (0 until k).map(i =>
      min(pmod(col("h") * as(i) + bs(i), lit(P))).as(s"m$i"))
    exploded.groupBy(col("id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("id"),
              array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** (bandId, bandHash) pairs for LSH banding: b bands of r rows each
    * (k = b*r). Docs sharing any band hash are near-dup candidates. */
  def bands(signature: Column, b: Int, r: Int): Column =
    transform(sequence(lit(0), lit(b - 1)),
      i => struct(i.as("band"),
                  // xxhash64 hashes the bigint array slice directly
                  xxhash64(slice(signature, i * lit(r) + lit(1), lit(r)), i)
                    .as("bandHash")))

  /** Candidate near-dup pairs via LSH bucketing. Returns distinct
    * (id_a, id_b) with id_a < id_b. Bucket explosion guard: buckets larger
    * than `maxBucket` (degenerate content) are dropped — at scale a single
    * hot bucket would otherwise produce a quadratic pair blowup. */
  def lshCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                        b: Int = 16, r: Int = 2, nGram: Int = 5,
                        maxBucket: Int = 1000): DataFrame =
    lshCandidatePairsFromSigs(minhashSignatures(docs, idCol, textCol, b * r, nGram),
                     b, r, maxBucket)

  /** [[lshCandidatePairs]] over a pre-tokenized array column (shared-
    * corpus path — same pairs, tokenization not re-run). */
  def lshCandidatePairsFromTokens(docs: DataFrame, idCol: String,
                                  toksCol: String, b: Int = 16, r: Int = 2,
                                  nGram: Int = 5,
                                  maxBucket: Int = 1000): DataFrame =
    lshCandidatePairsFromSigs(
      minhashSignaturesFromTokens(docs, idCol, toksCol, b * r, nGram),
      b, r, maxBucket)

  /** Widen a byte-small PINNED signature frame to the session's
    * parallelism before a row-dense expansion. Candidate generation
    * multiplies each signature row (band / chunk-variant explode) and
    * feeds a bucket join whose cost grows with bucket occupancy², so an
    * input that arrives AQE-coalesced to one partition — typical for a
    * pinned memo whose builder ended in a tiny aggregate — serializes
    * the whole candidate pass on one core while the rest of the session
    * idles (guide §2.5/§2.6 straggler class: row-dense, byte-small).
    * Hash-repartition on `id` to defaultParallelism when narrower: a
    * few-KB exchange in place of a single-task join. Applied ONLY to
    * already-materialized pinned inputs (LogicalRDD with a storage
    * level), where the partition count is known without running any
    * stage; arbitrary lazy plans pass through unchanged — checking
    * their width would force AQE stage materialization and recompute.
    * At corpus scale the pinned frame is already at least this wide and
    * the widening is a no-op.
    *
    * Used by the SimHash generator only: its serialized pass (×m(w+1)
    * probe-variant explode + hamming-ball bucket join) measured 0.84 s
    * on one core at sf0.1 and 0.34 s wall after widening (steady-state
    * BenchOne 1.09–1.16 s → 0.80–0.86 s). The SAME widening applied to
    * [[lshCandidatePairsFromSigs]] measured a WASH-to-loss (0.66–0.90 s
    * → 0.89–1.04 s): its band explode is ~17× fewer rows per doc, so
    * the per-task constants of the widened stage exceed the serial work
    * it removes — left unwidened. */
  private def widenPinned(df: DataFrame, idCol: String): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    df.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD
          if r.rdd.getStorageLevel !=
               org.apache.spark.storage.StorageLevel.NONE &&
             r.rdd.getNumPartitions < par =>
        df.repartition(par, col(idCol))
      case _ => df
    }
  }

  /** Candidate-pair generation from precomputed `(id, sig)` MinHash
    * signatures — the stage after a memoized shared signature frame
    * (ops.SharedCorpus): signatures are computed once per corpus and
    * every dedup stage (banding here, clustering, verification) reads
    * them. */
  def lshCandidatePairsFromSigs(sig: DataFrame, b: Int, r: Int,
                                maxBucket: Int = 1000): DataFrame = {
    val bucketed = sig
      .select(col("id"), explode(bands(col("sig"), b, r)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bandHash"))
    val buckets = bucketed.groupBy(col("band"), col("bandHash"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
    // pairs within bucket: flatten the small sorted id list (bucket sizes
    // are bounded, so this nested transform is cheap and local)
    buckets.select(explode(flatten(
        transform(col("ids"), (a, i) =>
          transform(slice(col("ids"), i + lit(2), size(col("ids"))),
            bVal => struct(a.as("id_a"), bVal.as("id_b")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
  }

  /** Exact token-set Jaccard similarity for verifying candidate pairs. */
  def jaccard(a: Column, b: Column): Column = {
    val sa = array_distinct(TextAnalysis.tokens(a))
    val sb = array_distinct(TextAnalysis.tokens(b))
    size(array_intersect(sa, sb)).cast("double") /
      size(array_union(sa, sb)).cast("double")
  }

  /** n-gram (shingle) set Jaccard — stricter than token Jaccard. */
  def ngramJaccard(a: Column, b: Column, n: Int): Column =
    ngramJaccardFromTokens(TextAnalysis.tokens(a), TextAnalysis.tokens(b), n)

  /** [[ngramJaccard]] over pre-tokenized array columns (shared-corpus
    * path; identical value — see [[shinglesFromTokens]]). */
  def ngramJaccardFromTokens(ta: Column, tb: Column, n: Int): Column = {
    val sa = array_distinct(shinglesFromTokens(ta, n))
    val sb = array_distinct(shinglesFromTokens(tb, n))
    size(array_intersect(sa, sb)).cast("double") /
      size(array_union(sa, sb)).cast("double")
  }

  // ---------- SimHash ----------

  /** 64-bit SimHash per row (interpreted HOF form — fine for ad-hoc column
    * use on small inputs; [[simhashSignatures]] is the codegen'd bulk
    * path). One aggregate over tokens keeps a 64-slot counter array
    * (+1/-1 per bit of each token hash); the sign pattern packs into a
    * long. */
  def simhash64(text: Column): Column = {
    val counters = aggregate(
      TextAnalysis.tokens(text),
      transform(sequence(lit(0), lit(63)), _ => lit(0L)),
      (acc, t) => {
        val h = xxhash64(t)
        zip_with(acc, sequence(lit(0), lit(63)),
          (c, i) => c + when(call_function("shiftright", h, i).bitwiseAND(lit(1L)) === 1L, 1L)
                          .otherwise(-1L))
      })
    aggregate(
      zip_with(counters, sequence(lit(0), lit(63)),
        (c, i) => when(c > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, bit) => acc.bitwiseOR(bit))
  }

  /** Bulk SimHash signatures `(id, sig)` via explode + LANE-PACKED bit
    * counting (map-side partial agg; the shuffle carries 32 longs + a
    * count per doc, not tokens). Same value as [[simhash64]].
    *
    * Bit-slicing: lane-sum k aggregates `(h >> k) & 0x0000000100000001`,
    * so ONE long sum accumulates the set-bit counts of bits {k, k+32} in
    * two independent 32-bit lanes — 32 sums instead of 64 conditional
    * aggregates (~2x less per-row aggregate work). Bit i of the signature
    * is set iff its set-bit count exceeds half the token count (identical
    * sign rule to the ±1 counter form: 2·cnt − n > 0).
    *
    * Lane width is 32 bits (not 16): the RUNNING long sum must stay below
    * 2^63 under Spark's default ANSI arithmetic. Each row contributes at
    * most 2^32+1, so partial sums are exact for any n < 2^31 tokens —
    * i.e. every physically possible document — and the 32-bit lane counts
    * themselves cannot carry into each other below n = 2^32. (A 16-bit
    * 4-lane packing overflows the running sum at n = 32768 via the 2^48
    * lane weight and would throw ArithmeticException under ANSI for valid
    * docs.) The n >= 2^31 bound is still guarded with raise_error rather
    * than silently mis-signed. */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashFromHashCol(docs, idCol,
      tokenHashes(TextAnalysis.tokens(col(textCol))))

  /** [[simhashSignatures]] over a pre-tokenized array column (shared-
    * corpus path — same signatures, tokenization not re-run). */
  def simhashSignaturesFromTokens(docs: DataFrame, idCol: String,
                                  toksCol: String): DataFrame =
    simhashFromHashCol(docs, idCol, tokenHashes(col(toksCol)))

  /** [[simhashSignatures]] over the PRE-HASHED token array (see
    * [[minhashSignaturesFromTokenHashes]] — one per-token hash pass
    * feeds both signature families). */
  def simhashSignaturesFromTokenHashes(docs: DataFrame, idCol: String,
                                       thCol: String): DataFrame =
    simhashFromHashCol(docs, idCol, col(thCol))

  private def simhashFromHashCol(docs: DataFrame, idCol: String,
                                 th: Column): DataFrame = {
    val spread = graft.Tables.ensureParallelism(docs)
    val exploded = spread.select(col(idCol).as("id"),
        explode(th).as("h"))
    val laneMask = lit(0x0000000100000001L)
    val sums = (0 until 32).map(k =>
      sum(call_function("shiftright", col("h"), lit(k))
            .bitwiseAND(laneMask)).as(s"s$k")) :+
      count(lit(1)).as("n")
    val guarded = when(col("n") >= (1L << 31), raise_error(concat(
        lit("simhashSignatures: doc with >= 2^31 tokens overflows the " +
            "32-bit count lanes; doc id="), col("id").cast("string"))))
    val packed = (0 until 64).map { i =>
      val k = i % 32; val j = i / 32
      val cnt = call_function("shiftright", col(s"s$k"), lit(32 * j))
        .bitwiseAND(lit(0xFFFFFFFFL))
      when(cnt * 2 > col("n"), lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    exploded.groupBy(col("id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("id"), coalesce(guarded, packed).as("sig"))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidates with FULL recall for the requested
    * radius, bucketed (never all-pairs) — see
    * [[simhashCandidatesFromSigs]] for the chunk/variant plan. */
  def simhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int = 3): DataFrame =
    simhashCandidatesFromSigs(
      simhashSignatures(docs, idCol, textCol), maxHamming)

  /** Candidate-pair generation from precomputed `(id, sig)` signatures —
    * factored out so recall can be spec-tested on signatures with planted
    * exact Hamming distances.
    *
    * Chunk plan (the Manku/HmSearch multi-index shape): split the 64-bit
    * signature into `m` chunks with a per-chunk error budget `e`, chosen
    * so `m * (e + 1) > maxHamming` — then by pigeonhole every pair within
    * the radius has SOME chunk where the two values differ by at most `e`
    * bits, and bucketing misses nothing. For small radii (width ≥ 16 bits
    * at m = r+1 chunks, i.e. r ≤ 3) exact chunk match (e = 0) suffices.
    * For larger radii, m = ⌈(r+1)/2⌉ wide chunks with e = 1: the probe
    * side emits each chunk value plus its single-bit flips, and a chunk
    * pair within 1 bit collides on some probe row. This keeps the bucket
    * key space at 2^16 for r = 6 — an e = 0 split into r+1 chunks would
    * leave ~9-bit chunks (512 buckets), whose occupancy grows as N²/2^9
    * per chunk: near-quadratic candidate blowup at corpus scale. The
    * variant expansion costs m·(width+1) probe rows per doc (68 at r = 6)
    * but each carries only (id, sig, chunk, v); candidates are verified
    * with the exact Hamming distance, so false positives cost compute,
    * never recall.
    *
    * `maxBucket` is the hot-bucket blowup guard (same contract as
    * [[lshCandidatePairs]]): bucket keys whose EXACT-side occupancy
    * exceeds it — degenerate near-identical content at corpus scale —
    * are dropped from both sides before the join, trading bounded recall
    * loss on pathological keys for a hard cap on the quadratic pair
    * explosion. A pair can still surface through any of its other
    * chunks. */
  def simhashCandidatesFromSigs(sig: DataFrame, maxHamming: Int,
                                maxBucket: Int = 1000): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 64), got $maxHamming")
    // e = 0 while chunks stay ≥ 16 bits wide; else e = 1, m = ⌈(r+1)/2⌉
    // (if every chunk had ≥ 2 errors the total would be ≥ 2m ≥ r+1 > r)
    val (m, e) =
      if (64 / (maxHamming + 1) >= 16) (maxHamming + 1, 0)
      else ((maxHamming + 2) / 2, 1)
    // chunk i covers bits [bounds(i), bounds(i+1)) — an even split of 64
    val bounds = (0 to m).map(i => i * 64 / m)
    def chunkVal(i: Int): Column = {
      val lo = bounds(i); val width = bounds(i + 1) - bounds(i)
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      call_function("shiftright", col("sig"), lit(lo))
        .bitwiseAND(lit(mask))
    }
    // pin the signatures: the explode+32-lane-agg subtree that computes
    // them is consumed THREE times (hot-bucket census, exact side, probe
    // side) — lazy localCheckpoint computes it once and auto-releases.
    // r19: an input that is ALREADY a pinned checkpoint scan (the shared
    // SharedCorpus.simhashSigs memo) is reused as-is — re-pinning copied
    // every signature block once per serve invocation for nothing
    // (Materializer.pinnedEvents discipline).
    val sigPinned = widenPinned(sig.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD
          if r.rdd.getStorageLevel !=
               org.apache.spark.storage.StorageLevel.NONE => sig
      case _ => sig.localCheckpoint(false)
    }, "id")
    def emit(structs: Seq[Column]): DataFrame =
      sigPinned.select(col("id"), col("sig"),
          explode(array(structs: _*)).as("c"))
        .select(col("id"), col("sig"), col("c.chunk"), col("c.v"))
    val exactAll = emit((0 until m).map(i =>
      struct(lit(i).as("chunk"), chunkVal(i).as("v"))))
    val hot = exactAll.groupBy(col("chunk"), col("v"))
      .agg(count(lit(1)).as("n")).filter(col("n") > maxBucket)
      .select(col("chunk"), col("v"))
    val exact = exactAll.join(broadcast(hot), Seq("chunk", "v"), "left_anti")
    val probeAll = if (e == 0) exact else emit((0 until m).flatMap { i =>
      val width = bounds(i + 1) - bounds(i)
      struct(lit(i).as("chunk"), chunkVal(i).as("v")) +:
        (0 until width).map(j =>
          struct(lit(i).as("chunk"),
                 chunkVal(i).bitwiseXOR(lit(1L << j)).as("v")))
    })
    val probe = if (e == 0) exact
                else probeAll.join(broadcast(hot), Seq("chunk", "v"), "left_anti")
    val a = exact.as("a"); val b = probe.as("b")
    a.join(b,
        col("a.chunk") === col("b.chunk") &&
        col("a.v") === col("b.v") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
              hamming64(col("a.sig"), col("b.sig")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // ---------- near-dup clustering (connected components) ----------

  /** Connected components over an undirected edge list — the step AFTER
    * candidate-pair generation in a corpus dedup pipeline: near-dup PAIRS
    * become near-dup CLUSTERS (keep one doc per component, drop the rest).
    *
    * Algorithm: iterative min-label propagation. Each node starts labeled
    * with its own id; every round each node takes the min of its own label
    * and its neighbors' labels, until no label changes. Per round: ONE
    * shuffle to join labels onto edges + ONE map-side-partial min
    * aggregate — both hash-partitioned on node id, so AQE coalesces and
    * co-partitions them. `localCheckpoint` truncates the lineage each
    * round (a driver loop would otherwise stack N joins deep and blow the
    * optimizer); at 100 TB on a real cluster use reliable `checkpoint`
    * instead so a lost executor doesn't recompute the whole chain.
    *
    * Rounds needed = graph diameter. Dedup clusters are shallow (near-dup
    * similarity is nearly transitive), so diameter is small; for
    * adversarial long-chain graphs the large-star/small-star variant
    * (Kiveris et al., "Connected Components in MapReduce") converges in
    * O(log n) rounds — same per-round shuffle shape, so it can be swapped
    * in without changing callers. `maxIter` bounds the loop; hitting it
    * raises rather than returning a silently-unconverged labeling.
    *
    * Returns `(id, component)` where `component` is the min node id in the
    * component, for every node that appears in `edges`. Isolated nodes
    * (no edges) are the caller's to add — `coalesce(component, id)` after
    * a left join, as `q_dedup_clusters` does.
    *
    * `shufflePartitions` sizes the per-round exchanges; 0 (default)
    * inherits the session width. The per-round frames are |nodes|-bounded
    * — a caller whose edge set is far smaller than the session's
    * corpus-sized shuffle width (e.g. dedup over pre-filtered candidate
    * families) should pass a small value, since AQE coalescing is off in
    * the loop by design.
    *
    * NOTE: graphs at or under `localEdgeCap` are labeled EXACTLY on the
    * driver (union-find) and never enter the propagation loop, so
    * `maxIter` — and the "not converged after N rounds" raise callers
    * may use as a long-diameter signal to switch to
    * [[connectedComponentsLogStar]] — only applies ABOVE the cap. */
  /** Nodes per CC-loop reducer: the loop's per-round frames are
    * |nodes|-bounded, so one reducer per ~1k nodes keeps tiny graphs on
    * few tasks (per-task constants dominate |Δ|-bounded work) while a
    * corpus-sized graph fans out to the cap. */
  private[graft] val CcRowsPerPartition = 1024L

  /** Shuffle width for a connected-components loop over `nodeCount`
    * graph nodes: one reducer per ~[[CcRowsPerPartition]] nodes, floored
    * at 8, capped at `cap` (the caller's statement of available
    * parallelism — session width for query-side callers, deployment
    * `defaultParallelism` for per-batch maintainers whose child replay
    * sessions run deliberately narrow). A `nodeCount` of `Long.MaxValue`
    * (unknown / over-collect-cap subgraph) therefore resolves to the
    * full cap — the safe width for an uncut corpus-sized bootstrap
    * batch. */
  private[graft] def ccWidthCapped(nodeCount: Long, cap: Int): Int = {
    val byRows = math.ceil(nodeCount.toDouble / CcRowsPerPartition)
    val byRowsL = if (byRows >= Long.MaxValue.toDouble) Long.MaxValue
                  else byRows.toLong
    math.min(math.max(8L, byRowsL), math.max(8L, cap.toLong)).toInt
  }

  /** Collect cap for the DRIVER-LOCAL connected-components fast path:
    * an edge set at or under this many rows is collected once and
    * labeled with a driver-side union-find, replacing the distributed
    * propagation loop's per-round driver chain (child session +
    * checkpoint job + label-sum collect per round) with ONE collect
    * job. Transient driver footprint at the cap is dominated by OBJECT
    * overhead, not the 16 raw bytes/edge: ~100k collected GenericRows
    * (~50–100 B each with headers) plus the returned LocalRelation of
    * up to 2·|edges| (id, label) tuples — order tens of MB, fine at
    * 100k but NOT linearly raisable on the raw-bytes estimate. Same
    * capped-with-distributed-fallback discipline as JoinView.localKeys:
    * over the cap the loops below run unchanged, so the scale story is
    * untouched — only graphs that already fit the driver comfortably
    * take the shortcut. */
  private[graft] val LocalCcMaxEdges: Int = 100000

  /** Driver-local min-label connected components over a collected edge
    * list — union-find whose set root is always the MINIMUM member id
    * (merging keeps the smaller root), so the result is bit-identical
    * to the distributed variants' fixpoint: `(id, component-min)` for
    * every node appearing in an edge, independent of edge order. */
  private[graft] def connectedComponentsLocal(
      edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { case (a, b) =>
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    import scala.jdk.CollectionConverters._
    parent.keySet().asScala.toSeq.map(id => (id.toLong, find(id)))
  }

  /** The shared front door of both CC variants: canonicalize to long
    * `(a, b)` self-loop-free edges, pin lazily, probe under
    * [[LocalCcMaxEdges]]. Returns either the driver-labeled result
    * (Left) or the pinned edge frame for the distributed loop (Right).
    * The probe's partial scan materializes checkpoint blocks the
    * over-cap branch then reuses (DecontamView.capLocal discipline). */
  private def ccLocalOrPinned(edges: DataFrame, srcCol: String,
                              dstCol: String, localEdgeCap: Int)
      : Either[DataFrame, DataFrame] = {
    val parent = edges.sparkSession
    val canon = edges
      .select(col(srcCol).cast("long").as("a"),
              col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .localCheckpoint(false)
    val probe = canon.limit(localEdgeCap + 1).collect()
    if (probe.length <= localEdgeCap)
      Left(parent.createDataFrame(connectedComponentsLocal(
          probe.map(r => (r.getLong(0), r.getLong(1)))))
        .toDF("id", "component"))
    else Right(canon)
  }

  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 25,
                          shufflePartitions: Int = 0,
                          localEdgeCap: Int = LocalCcMaxEdges): DataFrame = {
    val canon = ccLocalOrPinned(edges, srcCol, dstCol, localEdgeCap) match {
      case Left(labels) => return labels
      case Right(pinned) => pinned
    }
    // AQE off for the propagation loop (same rationale as MultiView.replay:
    // small known-shape per-round plans over pinned inputs; Structured
    // Streaming-style micro-batches gain nothing from adaptive re-planning
    // and pay its stage-by-stage latency). The override lives on a CHILD
    // session (shared SparkContext, independent SQL conf) so the caller's
    // session conf is never mutated mid-loop — the previous in-place
    // toggle raced with concurrent queries on the shared session.
    val parent = edges.sparkSession
    val child = parent.newSession()
    child.conf.set("spark.sql.adaptive.enabled", "false")
    if (shufflePartitions > 0)
      child.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    // Pin the symmetric edge list PRE-PARTITIONED on the join key: the
    // checkpoint preserves the hash partitioning, so every round's
    // edge⋈label join reuses it (labels arrive partitioned the same way
    // from the previous round's groupBy) — one exchange per round (the
    // min-label re-group) instead of two. The one-time repartition costs
    // one extra shuffle at pin time and pays for itself by round 2.
    val p = if (shufflePartitions > 0) shufflePartitions
            else parent.conf.get("spark.sql.shuffle.partitions").toInt
    // built from the front door's pinned canonical edges: the (possibly
    // expensive) edge subtree is computed once, shared with the probe
    val symPinned = canon
      .union(canon.select(col("b").as("a"), col("a").as("b")))
      .repartition(p, col("a"))
      .localCheckpoint()
    // Re-root the pinned edges in the child KEEPING the hash
    // partitioning (safe: the whole loop runs on this one child at a
    // fixed width with AQE off); every per-round plan derived from them
    // is analyzed and executed under the child's conf.
    val sym =
      org.apache.spark.sql.graft.bridge.reRootPartitioned(symPinned, child)
    // Labels are pinned LAZILY each round: the labelSum action both
    // materializes the round's checkpoint and computes the convergence
    // witness — one job per round instead of checkpoint + agg as two.
    var labels = sym.select(col("a").as("id")).distinct()
      .select(col("id"), col("id").as("component"))
      .localCheckpoint(false)
    var iter = 0
    var converged = false
    // Convergence witness: labels are monotone NON-INCREASING per round
    // (new label = min of own + neighbors'), so "no label changed" is
    // exactly "sum of labels unchanged" — one scalar aggregate over the
    // freshly-checkpointed labels instead of a self-join per round.
    // decimal(38,0): exact at any node count / id magnitude.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("component").cast("decimal(38,0)")))
        .collect()(0).getDecimal(0)
    var prevSum = labelSum(labels)
    while (!converged && iter < maxIter) {
      val next = sym.join(labels, col("a") === col("id"))
        .select(col("b").as("id"), col("component"))
        .union(labels)
        .groupBy(col("id"))
        .agg(min(col("component")).as("component"))
        .localCheckpoint(false)
      val s = labelSum(next)
      converged = (if (s == null) prevSum == null
                   else prevSum != null && s.compareTo(prevSum) == 0)
      prevSum = s
      labels = next
      iter += 1
    }
    require(converged,
      s"connectedComponents: not converged after $maxIter rounds — " +
        "graph diameter exceeds maxIter; raise it or switch to " +
        "connectedComponentsLogStar")
    // Labels are pinned — re-rooting into the caller's session is free.
    org.apache.spark.sql.graft.bridge.reRoot(labels, parent)
  }

  /** Connected components via alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the LONG-DIAMETER escape hatch for
    * [[connectedComponents]]: min-label propagation needs `diameter`
    * rounds, this converges in O(log n) regardless of diameter, with the
    * same per-round shuffle shape (group-by-node min + re-emit).
    *
    *  - large-star(u): every neighbor v > u re-attaches to
    *    m = min(Γ(u) ∪ {u}) — long chains halve toward their minimum
    *  - small-star(u): every neighbor v ≤ u (plus u itself) attaches to m
    *    — stars flatten so the next large-star jumps further
    *
    * Both steps only ever REPLACE a node's attachment with a smaller
    * node of the same component, so connectivity is invariant and the
    * fixpoint is the star graph {(v, componentMin)}. The convergence
    * witness is the same monotone label-sum argument as min-label
    * propagation: Σ over nodes of min(Γ(u) ∪ {u}) is non-increasing and
    * stable exactly at the fixpoint.
    *
    * Use [[connectedComponents]] for dedup graphs (shallow diameter,
    * ~2 jobs/round cheaper); use this when components can chain long —
    * URL graphs, co-occurrence chains, adversarial near-dup ladders.
    * Same contract: returns `(id, component)` for every node appearing
    * in `edges`; isolated nodes are the caller's to add. */
  def connectedComponentsLogStar(edges: DataFrame, srcCol: String,
                                 dstCol: String, maxIter: Int = 20,
                                 shufflePartitions: Int = 0,
                                 localEdgeCap: Int = LocalCcMaxEdges)
      : DataFrame = {
    val parent = edges.sparkSession
    val ePinned = ccLocalOrPinned(edges, srcCol, dstCol, localEdgeCap) match {
      case Left(labels) => return labels
      case Right(pinned) => pinned
    }
    val child = parent.newSession()
    child.conf.set("spark.sql.adaptive.enabled", "false")
    if (shufflePartitions > 0)
      child.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    var e = org.apache.spark.sql.graft.bridge.reRoot(ePinned, child)
    if (shufflePartitions > 0) e = e.coalesce(shufflePartitions)
    // Σ min(Γ(u) ∪ {u}) over all nodes — monotone non-increasing across
    // rounds; doubles as the materialization action for the lazy pin.
    def labelSum(edgeSet: DataFrame): java.math.BigDecimal = {
      val sym = edgeSet.union(edgeSet.select(col("b").as("a"), col("a").as("b")))
      sym.groupBy(col("a")).agg(least(min(col("b")), col("a")).as("m"))
        .agg(sum(col("m").cast("decimal(38,0)"))).collect()(0).getDecimal(0)
    }
    def largeStar(edgeSet: DataFrame): DataFrame = {
      val sym = edgeSet.union(edgeSet.select(col("b").as("a"), col("a").as("b")))
      val mins = sym.groupBy(col("a"))
        .agg(least(min(col("b")), col("a")).as("m"))
      sym.join(mins, "a").filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b")).distinct()
    }
    def smallStar(edgeSet: DataFrame): DataFrame = {
      val canon = edgeSet.select(greatest(col("a"), col("b")).as("a"),
                                 least(col("a"), col("b")).as("b"))
      val mins = canon.groupBy(col("a")).agg(min(col("b")).as("m"))
      canon.join(mins, "a")
        .select(col("b").as("a"), col("m").as("b"))
        .unionByName(mins.select(col("a"), col("m").as("b")))
        .filter(col("a") =!= col("b")).distinct()
    }
    var iter = 0
    var converged = false
    var prevSum = labelSum(e)
    while (!converged && iter < maxIter) {
      e = smallStar(largeStar(e)).localCheckpoint(false)
      val s = labelSum(e)
      converged = (if (s == null) prevSum == null
                   else prevSum != null && s.compareTo(prevSum) == 0)
      prevSum = s
      iter += 1
    }
    require(converged,
      s"connectedComponentsLogStar: not converged after $maxIter rounds " +
        "(expected O(log n)) — raise maxIter")
    // At the fixpoint the edge set IS the star graph (v -> componentMin);
    // node labels fall out of one grouped min, and the component minima
    // label themselves.
    val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
    val labels = sym.groupBy(col("a"))
      .agg(least(min(col("b")), col("a")).as("component"))
      .select(col("a").as("id"), col("component"))
      .localCheckpoint()
    org.apache.spark.sql.graft.bridge.reRoot(labels, parent)
  }

  // ---------- embedding near-dup (bucketed LSH — the 100 TB path) ----------

  /** Corpus-wide embedding near-dup candidate pairs via multi-table
    * random-hyperplane LSH — the scale path that replaces the O(n²)
    * all-pairs theta join for production dedup. Shape mirrors
    * [[lshCandidatePairs]]: signatures are a narrow scan-side map
    * (codegen'd dot products per hyperplane, `Similarity.lshSignature`),
    * one shuffle on (table, bucket) carrying only (id, bucket), pair
    * generation within buckets bounded by `maxBucket` against hot-bucket
    * quadratic blowup. Recall is tuned by (tables, planes): each of the
    * `tables` hash tables uses `planes` hyperplanes, P(candidate) =
    * 1 - (1 - (1 - θ/π)^planes)^tables — for genuinely-near pairs
    * (cos ≥ 0.9) the defaults give recall > 0.99. */
  def embeddingLshCandidates(corpus: DataFrame, idCol: String, vecCol: String,
                             dim: Int, tables: Int = 8, planes: Int = 12,
                             seed: Long = 42L, maxBucket: Int = 1000): DataFrame =
    embeddingLshPairsFromBuckets(
      embeddingLshBuckets(corpus, idCol, vecCol, dim, tables, planes, seed),
      maxBucket)

  /** The SIGNATURE half of [[embeddingLshCandidates]]: per-table
    * random-hyperplane bucket assignments `(id, tbl, bucket)` — the
    * shareable frame (one scan-side signature pass per corpus,
    * ops.SharedCorpus) that pair generation and any rerank stage read. */
  def embeddingLshBuckets(corpus: DataFrame, idCol: String, vecCol: String,
                          dim: Int, tables: Int = 8, planes: Int = 12,
                          seed: Long = 42L): DataFrame = {
    import graft.similarity.Similarity.lshSignature
    val sigCols = (0 until tables).map(t =>
      struct(lit(t).as("tbl"),
             lshSignature(col(vecCol), dim, planes, seed + t).as("bucket")))
    corpus.select(col(idCol).as("id"),
        explode(array(sigCols: _*)).as("tb"))
      .select(col("id"), col("tb.tbl"), col("tb.bucket"))
  }

  /** The PAIR half of [[embeddingLshCandidates]], from precomputed
    * bucket assignments. */
  def embeddingLshPairsFromBuckets(bucketed: DataFrame,
                                   maxBucket: Int = 1000): DataFrame = {
    val buckets = bucketed.groupBy(col("tbl"), col("bucket"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
    buckets.select(explode(flatten(
        transform(col("ids"), (a, i) =>
          transform(slice(col("ids"), i + lit(2), size(col("ids"))),
            bVal => struct(a.as("id_a"), bVal.as("id_b")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
  }

  /** Embedding near-dup pairs above a cosine threshold, bucketed: LSH
    * candidates + exact-cosine rerank on candidates only. The exact
    * all-pairs variant (`q_dedup_embedding`) stays as the oracle baseline;
    * this is the one to run corpus-wide. */
  def embeddingNearDups(corpus: DataFrame, idCol: String, vecCol: String,
                        dim: Int, minCosine: Double,
                        tables: Int = 8, planes: Int = 12,
                        seed: Long = 42L, maxBucket: Int = 1000): DataFrame = {
    val cand = embeddingLshCandidates(corpus, idCol, vecCol, dim,
                                      tables, planes, seed, maxBucket)
    val vf = graft.functions.VectorFunctions
    val a = corpus.select(col(idCol).as("id_a"), col(vecCol).as("va"),
                          vf.norm2(col(vecCol)).as("na"))
    val b = corpus.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
                          vf.norm2(col(vecCol)).as("nb"))
    cand.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
              vf.cosineHoisted(col("va"), col("vb"),
                               col("na"), col("nb")).as("cos"))
      .filter(col("cos") >= minCosine)
  }

  /** Loud corpus-size ceiling for the EXACT all-pairs kernels (the
    * oracle-expressible baselines behind the LSH paths). An `a × b,
    * id_a < id_b` self-join is O(n²) candidate pairs — fine as a
    * correctness oracle on a bounded corpus, catastrophic as a data
    * path: past `bound` rows it would emit billions of pairs, so fail
    * with the scale path's name instead of melting the cluster (same
    * discipline as [[graft.similarity.AnnIndexView]]'s capped centroid
    * collect). Returns the corpus unchanged so it chains in place. */
  def requireAllPairsBound(corpus: DataFrame, what: String,
                           lshPath: String, bound: Long = 65536): DataFrame = {
    val n = corpus.count()
    require(n <= bound,
      s"$what: exact all-pairs kernel over $n rows (> $bound) — O(n²) " +
        s"candidate pairs do not scale; use the LSH-bucketed path " +
        s"($lshPath) instead")
    corpus
  }
}
