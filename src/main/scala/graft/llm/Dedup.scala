package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * North-star extension surface (SURVEY.md §2.4). Scale design: every
  * near-dup path is *bucketed before any pairwise work* (LSH bands / simhash
  * chunks), so candidate generation is a shuffle on bucket keys — never an
  * all-pairs cross join — and verification touches only candidate pairs.
  * All signatures are built from codegen'd higher-order functions +
  * `xxhash64`; no UDFs, no driver-side state.
  */
object Dedup {

  import TextStats.normalizeText

  // sequence for the exact-join candidate-mass observation names (a plan
  // may legally contain several exact joins; observation names must be
  // unique within one plan)
  private val candSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Exact dedup keeping a deterministic representative per key (smallest
    * `tieBreaker`). `dropDuplicates` keeps an *arbitrary* row — fine for
    * pipelines, useless for reproducible tests.
    *
    * '''Plan shape (the 100-TB design).''' A bounded-state
    * [[graft.operators.GroupedTopK]] k=1 aggregate, NOT a
    * `row_number().over(partitionBy(key))` window: the window co-locates
    * every copy of a key in one task — and exact-dup keys are precisely
    * where a crawl has 10⁹-copy degenerate groups (empty pages, error
    * boilerplate), the hot-group straggler in person. The aggregate ships
    * ≤ 1 row per (key, map partition) through its single exchange. */
  def exactDedup(df: DataFrame, keyCols: Seq[String], tieBreaker: String): DataFrame =
    graft.operators.GroupedTopK.topKPerGroup(
      df, keyCols, Seq(col(tieBreaker)), 1, "__graft_rn").drop("__graft_rn")

  /** Incremental exact dedup: drop `fresh` docs whose normalized-content
    * fingerprint already appears in `historical` — the daily-ingest shape,
    * where the historical corpus is consulted but never rewritten. The
    * anti-join ships only the 128-bit fingerprint column of the historical
    * side (16 bytes/doc — a 100-TB corpus's fingerprint set is ~100s of GB,
    * a plain shuffled anti-join; a day's backlog against a bounded index
    * can broadcast instead). `fresh` keeps its full schema. */
  def dropKnownDuplicates(
      fresh: DataFrame, historical: DataFrame, textCol: String): DataFrame = {
    val histFp = historical
      .select(TextStats.fingerprint(col(textCol)).as("__graft_fp"))
      .distinct()
    fresh.withColumn("__graft_fp", TextStats.fingerprint(col(textCol)))
      .join(histFp, Seq("__graft_fp"), "left_anti")
      .drop("__graft_fp")
  }

  /** Distinct character k-shingles of the normalized text.
    *
    * IMPORTANT: `text` must be an already-materialized column (not an
    * expression tree) — anything passed here is inlined into the per-element
    * transform lambda and would re-evaluate once per shingle position.
    * [[shingleDocs]] handles the materialization.
    */
  def charShingles(norm: Column, k: Int = 5): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(norm) - (k - 1), lit(1))),
      i => norm.substr(i, lit(k))))

  /** Distinct word n-grams over a materialized token array (see
    * [[charShingles]]'s inlining caveat). */
  def wordNgrams(toks: Column, n: Int = 3): Column =
    array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(n)))))

  /** (id, shingle-set) per doc. The shingle arrays are computed BEFORE the
    * repartition so they travel inside the exchange: the three consumers of
    * this frame (signature pipeline + both verification joins) then reuse
    * one computed payload instead of re-shingling per branch — trading one
    * shuffle of the sets for two recomputation passes. Computing the sets
    * ABOVE the exchange was tried (r18) and REGRESSED ~2×: without the
    * exchange materialization below it, CollapseProject inlines the
    * shingle expression into the per-candidate-PAIR verification
    * projection, re-shingling per pair instead of per doc — the same trap
    * the r4/r10 notes pin for filters over HOF projections. The inner
    * projection keeps normalization evaluated once per doc (the multiple
    * `__norm` references block CollapseProject from inlining it into the
    * per-shingle lambda).
    *
    * [[graft.sources.Spread.spread]] BELOW the shingle projection (r18):
    * the shingle+normalize compute otherwise inherits the SCAN's
    * parallelism, and a single-row-group parquet corpus (the bench
    * fixtures) runs the whole ~2.5 s shingling stage as ONE task on a
    * 32-core session. Spread round-robins the narrow (id, text) rows only
    * when the scan is under-parallel — a no-op on a many-split 100-TB
    * corpus — so the sets are computed at session parallelism and still
    * materialize once in the id exchange. */
  private[graft] def shingleDocs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int): DataFrame =
    graft.sources.Spread.spread(
      df.filter(col(idCol).isNotNull) // align branches for ReusedExchange:
        // downstream verify joins infer isnotnull(id), the signature branch
        // doesn't, and the asymmetry would fork this frame's exchange
        .select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), normalizeText(col("__text")).as("__norm"))
      // sorted so pair verification can use the linear-merge SortedJaccard;
      // one codegen'd pass (CharShingleSet) — bit-identical to
      // array_sort(array_distinct(transform(...))) per its equivalence spec
      .select(col("id"),
        graft.functions.CharShingleSet.charShingleSet(col("__norm"), shingleSize).as("sh"))
      .repartition(col("id"))

  /** Exact Jaccard similarity of two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) === 0, 0.0)
      .otherwise(size(array_intersect(a, b)).cast("double") /
        size(array_union(a, b)))

  /** MinHash signature: for each of `numHashes` seeded hash functions, the
    * min `xxhash64(shingle, seed)` over the shingle set. NB: pass a
    * materialized array column — see [[charShingles]]'s inlining caveat.
    *
    * Reference formulation (hashes the full string per seed). The LSH
    * pipelines use [[graft.functions.MinHashSig]] instead — one codegen'd
    * pass deriving per-seed hashes from a single base string hash — whose
    * different (equally valid) hash family makes the two NOT
    * interchangeable on existing persisted indexes. */
  def minHashSignature(shingles: Column, numHashes: Int = 16): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      h => array_min(transform(shingles, s => xxhash64(s, h))))

  /** LSH band keys: hash of each r-row stripe of the signature. Docs sharing
    * any band key are candidates (prob ≈ 1-(1-j^r)^b for Jaccard j). */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), b))

  /** (id, band_idx, band_key) rows for LSH banding over a set column.
    *
    * Built as `numHashes` *separate* min-hash columns rather than one array
    * expression: a single-array formulation lets Catalyst's CollapseProject
    * inline the set column into the per-hash lambda and the signature into
    * the per-band lambda, re-evaluating the shingling numHashes×bands times
    * per document. Multiple references to the set attribute in one projection
    * block the collapse, so shingling and each min-hash run exactly once.
    */
  private[graft] def signedDocs(docs: DataFrame, setCol: String, numHashes: Int): DataFrame = {
    // ONE codegen'd pass computes every minimum ([[graft.functions
    // .MinHashSig]]): per element the base string hash once, the numHashes
    // derived hashes over primitive longs — bit-identical to the previous
    // `transform(set, xxhash64)` + per-seed `array_min(transform(...))`
    // formulation (numHashes+1 interpreted HOF passes per doc, the
    // constant tax on every LSH query; swapping it cut the LSH dedup
    // family 12-23% end-to-end at sf0.1 — BENCH_NOTES round-11 entry).
    // The 32 element_at references below keep CollapseProject
    // from inlining the signature into downstream consumers, so it
    // evaluates exactly once per document.
    val signed = docs.select(col("id"),
      graft.functions.MinHashSig.minHashSig(col(setCol), numHashes).as("__sig"))
    signed.select(col("id") +:
      (0 until numHashes).map(h => element_at(col("__sig"), h + 1).as(s"__m$h")): _*)
  }

  private[graft] def bandRows(signed: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      val stripe = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"__m$i"))
      xxhash64(stripe :+ lit(b): _*)
    }
    // __chain = the NEXT band's key, riding each band row (+8 bytes): the
    // over-cap rescue in [[candidatePairs]] sorts its chain by it, so docs
    // that also agree on a second band — overwhelmingly true near-dups —
    // sit contiguously inside a mega-bucket and chain to each other, while
    // an id-ordered chain interleaves unrelated docs between them. Costs
    // nothing when no bucket is over cap.
    val rows = array((0 until bands).map { b =>
      struct(bandCols(b).as("k"), bandCols((b + 1) % bands).as("c"))
    }: _*)
    signed.select(col("id"), posexplode(rows))
      .select(col("id"), col("pos").as("band_idx"),
        col("col.k").as("band_key"), col("col.c").as("__chain"))
  }

  /** Shared LSH pipeline: band → candidate pairs → signature-agreement
    * prefilter → exact-Jaccard verification.
    *
    * The prefilter estimates Jaccard as the fraction of agreeing min-hash
    * positions (32 longs per doc) and only sends near-threshold pairs to the
    * exact set verification, which dominates cost otherwise (full
    * array_union/intersect per pair). `minAgree` is set ≥ rows-per-band
    * (candidates always agree on one whole band) and low enough that a true
    * pair at exactly `threshold` is dropped with probability < 1e-5
    * (binomial tail at 0.3·threshold·numHashes agreements).
    */
  private def lshVerifiedPairs(docs: DataFrame, setCol: String,
      numHashes: Int, bands: Int, threshold: Double, maxBucketSize: Int,
      rescue: Boolean = true,
      // the set as the verify merge reads it: char-shingle callers pass
      // [[packShingles]]; word-n-gram callers keep the string set
      verifySet: Column => Column = identity): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    val minAgree = math.max(rowsPerBand, (numHashes * threshold * 0.3).floor.toInt)
    // with the prefilter engaged the signature frame has three consumers
    // (band rows + both prefilter joins): a repartition materializes the
    // numHashes min-hash passes once — the exchange payload is only
    // id + numHashes longs per doc
    val signed0 = signedDocs(docs, setCol, numHashes)
    val signed =
      if (minAgree > rowsPerBand) signed0.repartition(col("id")) else signed0
    // full rescue only when the signature-agreement prefilter below gates
    // the rescued candidates (32 cheap longs per pair before any set
    // verify); without it, bound the rescue at 8× cap — the winnow lesson
    // rescue = false restores the pre-r14 drop-over-cap contract — what
    // a [[writeMinHashIndex]] index (which drops over-cap rows at build)
    // can reproduce; MinHashIndexPropertySpec gates against exactly that
    val cand = candidatePairs(bandRows(signed, numHashes, bands),
      Seq("band_idx", "band_key"), maxBucketSize,
      rescueLimit =
        if (!rescue) maxBucketSize
        else if (minAgree > rowsPerBand) 1 << 20
        else 8 * maxBucketSize)
    // candidates agree on ≥ rowsPerBand positions by construction; only join
    // the signature arrays in when the cutoff actually discriminates
    val prefiltered = if (minAgree <= rowsPerBand) cand else {
      val sigArr = signed.select(col("id"),
        array((0 until numHashes).map(i => col(s"__m$i")): _*).as("sigv"))
      cand
        .join(sigArr.select(col("id").as("id_a"), col("sigv").as("sig_a")), Seq("id_a"))
        .join(sigArr.select(col("id").as("id_b"), col("sigv").as("sig_b")), Seq("id_b"))
        // codegen'd tight loop ([[graft.functions.SigAgree]]); bit-identical
        // to size(filter(zip_with(sig_a, sig_b, (x,y) => x === y), b => b))
        // per SigAgreeSpec — the HOF chain allocated two arrays + two boxed
        // lambdas per CANDIDATE PAIR and dominated the verify stage (r18)
        .withColumn("__agree",
          graft.functions.SigAgree.sigAgree(col("sig_a"), col("sig_b")))
        .filter(col("__agree") >= minAgree)
        .select("id_a", "id_b")
    }
    jaccardVerified(prefiltered, docs, verifySet(col(setCol)), threshold)
  }

  /** The verify side of a char-shingle set: char shingles of normalized
    * text are 1-byte NUL-free chars, so at `shingleSize ≤ 8` each packs
    * exactly into one long ([[graft.functions.PackedSets]], r18) and the
    * merge compares primitive longs instead of allocating a UTF8String per
    * element — same |∩|/|∪|, bit-identical division (PackedSetsSpec).
    * Longer shingles keep the string set; pack_shingle_set fails LOUDLY
    * off-contract. */
  private def packShingles(shingleSize: Int)(set: Column): Column =
    if (shingleSize <= 8) graft.functions.PackedSets.packShingleSet(set) else set

  /** Candidate pairs (id_a, id_b) → (id_a, id_b, jaccard ≥ `threshold`):
    * both ids join `docs`' verify set back, and the linear-merge
    * [[graft.functions.SetSimilarity.sortedJaccard]] scores each pair —
    * the generic array_intersect/union form builds two hash sets per pair
    * and dominated the profile. `set` is evaluated once per DOC on the
    * join build sides (reading the reused set exchange), never per pair. */
  private def jaccardVerified(cand: DataFrame, docs: DataFrame, set: Column,
      threshold: Double): DataFrame = {
    val setSide = docs.select(col("id"), set.as("__set"))
    cand
      .join(setSide.select(col("id").as("id_a"), col("__set").as("set_a")), Seq("id_a"))
      .join(setSide.select(col("id").as("id_b"), col("__set").as("set_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.SetSimilarity.sortedJaccard(col("set_a"), col("set_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Candidate near-dup pairs (idA < idB) via MinHash LSH banding, verified
    * with exact shingle-Jaccard ≥ `threshold`.
    *
    * Dataflow: shingle+sign each doc once → explode band keys → self-join on
    * (band index, band key) → distinct pairs → verify. The band join is an
    * equi-join on a high-cardinality key — i.e. a `skewJoin`-compatible
    * shuffle, not a cross join; at 100 TB the bucket sizes stay O(dups).
    *
    * '''Recall model (r15).''' Every emitted pair is exact-verified
    * (precision 1), but candidate RECALL is probabilistic: a true pair at
    * Jaccard J is missed with probability `(1 − J^(numHashes/bands))^bands`
    * — at the default 16 bands of 2 that is ~1% at J = 0.5, 0.08% at
    * J = 0.6, vanishing above. Use this operator at thresholds ≥ 0.5
    * where the boundary-miss rate is a documented trade for the
    * banded-join scale path; at LOW thresholds (≤ ~0.4) the miss rate is
    * material (≈22% at J = 0.3 — the r15 fuzz harness caught a real one)
    * and the deterministic [[exactJaccardJoin]] prefix-filter family is
    * the right operator. */
  def minHashDedupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 5,
      threshold: Double = 0.5,
      maxBucketSize: Int = 256,
      // over-cap connectivity rescue (r14): star+chain candidates from
      // (cap, rescueLimit] buckets. false restores the drop-over-cap
      // behavior — the contract an LSH INDEX built by
      // [[writeMinHashIndex]] can mirror (it drops over-cap rows at
      // build, so [[probeMinHashIndex]] can never reproduce rescued
      // pairs; a known, documented recall gap of the incremental path
      // at extreme duplicate density)
      rescue: Boolean = true): DataFrame = {
    val docs = shingleDocs(df, idCol, textCol, shingleSize)
    lshVerifiedPairs(docs, "sh", numHashes, bands, threshold, maxBucketSize,
      rescue, packShingles(shingleSize))
  }

  /** Near-deduplicated corpus: drops every document that has a near-dup
    * partner with a smaller id (pairs from [[minHashDedupPairs]]), keeping
    * the smallest id of each duplicate pair — the "apply the dedup" step of
    * a training-data pipeline. The keep-policy is deterministic and
    * SQL-expressible (`id ∉ id_b of the pair set`), so the whole operator
    * is exactly oracle-checkable; for clustered duplicates it keeps any doc
    * only reachable via dropped intermediates (pairwise policy, not
    * transitive closure — closure needs iterative connected components,
    * whose result is equally deterministic but far costlier at 100 TB). */
  def dropNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 32,
      bands: Int = 16,
      shingleSize: Int = 5,
      threshold: Double = 0.5,
      maxBucketSize: Int = 256): DataFrame = {
    val dupIds = minHashDedupPairs(df, idCol, textCol,
      numHashes, bands, shingleSize, threshold, maxBucketSize)
      .select(col("id_b").as(idCol))
      .distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Transitive near-deduplicated corpus: connected components over the
    * near-dup pair graph, keeping exactly ONE document per cluster (the
    * smallest id). Unlike [[dropNearDuplicates]]' pairwise policy — which
    * can drop every member of a duplicate chain whose links all point at
    * dropped intermediates — the component representative is always kept,
    * which is the semantics most curation pipelines actually want.
    * Costs the pair pipeline plus O(log² n) small CC rounds
    * ([[graft.operators.ConnectedComponents]]); the keep-policy is a pure
    * function of the pair set, so it stays exactly oracle-checkable
    * (recursive-CTE closure + anti-join). */
  def dropNearDuplicatesTransitive(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 32,
      bands: Int = 16,
      shingleSize: Int = 5,
      threshold: Double = 0.5,
      maxBucketSize: Int = 256): DataFrame = {
    val pairs = minHashDedupPairs(df, idCol, textCol,
      numHashes, bands, shingleSize, threshold, maxBucketSize)
    val dropIds = graft.operators.ConnectedComponents
      .connectedComponents(pairs.select("id_a", "id_b"))
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    df.join(dropIds, Seq(idCol), "left_anti")
  }

  /** Priority-aware transitive near-dedup apply: connected components over
    * an externally-supplied near-dup pair graph (`id_a`/`id_b` — any of
    * the pair generators), keeping per cluster the member with the HIGHEST
    * `priorityCol` (ties to the smallest id) instead of the smallest id —
    * "keep the best copy" canonicalization: a page syndicated across
    * mirrors keeps its longest/highest-quality capture, not whichever
    * mirror happened to get the smallest id. The keep-policy is a pure
    * function of (pair set, priorities), so it stays exactly
    * oracle-checkable (closure + per-component argmax replay).
    *
    * '''Plan shape (the 100-TB design).''' The pair graph ships id pairs;
    * [[graft.operators.ConnectedComponents]] runs its O(log² n) rounds on
    * ids only; the winner election is ONE map-side-combined
    * `min(struct(...))` per component (never a per-component window over
    * members); and the apply is a broadcast-size anti-join of loser ids.
    * Priorities join in at id grain — the document payload never rides
    * through the graph machinery.
    *
    * Contract: `priorityCol` must be NUMERIC (required at plan build; the
    * election negates it — `Long.MinValue` priorities are out of contract).
    * Ids may be any orderable type (nothing negates them). A NULL priority
    * never beats a non-null one; a component whose members ALL have null
    * priority keeps its smallest id. */
  def dropNearDuplicatesByPriority(
      df: DataFrame,
      idCol: String,
      priorityCol: String,
      pairs: DataFrame): DataFrame = {
    require(df.schema(priorityCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"priorityCol '$priorityCol' must be numeric, got " +
        df.schema(priorityCol).dataType.simpleString)
    val comps = graft.operators.ConnectedComponents
      .connectedComponents(pairs.select("id_a", "id_b"))
    val members = df
      .select(col(idCol).as("__graft_node"), col(priorityCol).as("__graft_pri"))
      .join(comps, col("__graft_node") === col("node"))
    // min(struct(nullFlag, -priority, id)): non-null priorities first, then
    // highest priority, then smallest id — no id negation, so string ids
    // work, and null priorities sort last explicitly instead of by struct
    // null-ordering accident
    val winners = members
      .groupBy("component")
      .agg(min(struct(
        col("__graft_pri").isNull.cast("int").as("z"),
        (-coalesce(col("__graft_pri"), lit(0))).as("np"),
        col("__graft_node").as("i"))).as("__graft_w"))
      .select(col("component"), col("__graft_w.i").as("__graft_keep"))
    val losers = comps.join(winners, Seq("component"))
      .filter(col("node") =!= col("__graft_keep"))
      .select(col("node").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Distinct candidate id pairs from bucketed rows (`id` + bucket key cols).
    *
    * Scale guards that a naive bucket self-join lacks:
    *  - buckets larger than `maxBucketSize` DON'T self-join (that would be
    *    O(m²) pairs of mostly-unrelated docs — a bucket shared by thousands
    *    is not discriminative). They are NOT dropped either (the pre-r14
    *    behavior): the r14 100×-density probe measured full-clique recall
    *    falling to 46% when 88% of band rows sat in over-cap buckets.
    *    Instead each over-cap bucket contributes LINEAR connectivity-rescue
    *    candidates — a star from the bucket's min id to every member plus
    *    the id-adjacent chain — so a true duplicate cluster trapped in a
    *    mega-bucket still reaches the verifier through O(m) candidates,
    *    and downstream exact verification (every caller verifies) prunes
    *    the false ones. Cost is bounded by 2 rows per over-cap row,
    *    NOT bucket², and exactness is untouched: candidates are a superset
    *    question, verification is the answer.
    *  - buckets beyond `rescueLimit` (a true degeneracy — one fingerprint
    *    shared by a significant corpus fraction) are dropped outright: even
    *    linear candidates would flood the verifier, and the chain's
    *    per-bucket sort would single-task-straggle. Real pairs inside such
    *    a bucket still collide in their other, rarer buckets.
    *  - pairs are deduped *before* any expensive verification, so a pair
    *    colliding in k buckets is verified once, not k times.
    */
  private[graft] def candidatePairs(
      bucketed: DataFrame, bucketCols: Seq[String], maxBucketSize: Int,
      rescueLimit: Int = 1 << 20): DataFrame = {
    val keys = bucketCols.map(col)
    // bucket sizing via aggregate + broadcast anti-join, NOT a window: a
    // count-window partitioned by bucket key must co-locate every bucket's
    // rows BEFORE the size filter can drop it, so one degenerate bucket
    // (a fingerprint shared by 10⁹ docs) becomes a single-task straggler
    // at scale. groupBy counts are map-side-combined (skew-safe), the hot
    // bucket KEYS are few by construction (each holds > maxBucketSize
    // rows), and the broadcast anti-join drops their rows without ever
    // co-locating them.
    // repartition on (keys, id): materializes the possibly-expensive
    // bucketed lineage in ONE exchange reused by all consumers below,
    // and spreads even a degenerate bucket uniformly across tasks — nothing
    // downstream co-locates it (the count aggregate map-side-combines, the
    // anti-join probes a broadcast, the pair join shuffles only rows of
    // surviving ≤-cap buckets, and the rescue window only ever co-locates
    // ≤ rescueLimit rows per bucket). Keys-only partitioning was measured
    // slower here: common fingerprints skew the exchange itself.
    val buck = bucketed.repartition(keys :+ col("id"): _*)
    val sizes = buck.groupBy(keys: _*).agg(count(lit(1)).as("__bucket_n"))
    val hot = sizes.filter(col("__bucket_n") > maxBucketSize).select(keys: _*)
    val kept = buck.join(broadcast(hot), bucketCols, "left_anti")
    val a = kept.select(keys :+ col("id").as("id_a"): _*)
    val b = kept.select(keys :+ col("id").as("id_b"): _*)
    val full = a.join(b, bucketCols)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    // connectivity rescue for (cap, rescueLimit] buckets: star + chain from
    // ONE window pass (running-first-over-sorted = the bucket min; lead =
    // the id-adjacent neighbor), exploded into both pair kinds in a single
    // projection so the rescue lineage appears exactly once in the plan
    val rescueKeys = sizes
      .filter(col("__bucket_n") > maxBucketSize && col("__bucket_n") <= rescueLimit)
      .select(keys: _*)
    // chain order: a caller-provided __chain locality column when present
    // (minhash band rows carry the next band's key — same-chain docs are
    // near-certain true dups and sort contiguous), id otherwise
    val chainCols =
      (if (bucketed.columns.contains("__chain")) Seq(col("__chain")) else Nil) :+ col("id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys: _*).orderBy(chainCols: _*)
    // __anchor is the FIRST row in chain order (not necessarily the min
    // id), so both pair kinds normalize via least/greatest
    val rescue = buck.join(broadcast(rescueKeys), bucketCols, "left_semi")
      .select(keys ++ chainCols: _*)
      .withColumn("__anchor", first(col("id")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .withColumn("__next", lead(col("id"), 1).over(w))
      .select(explode(array(
        struct(least(col("__anchor"), col("id")).as("id_a"),
          greatest(col("__anchor"), col("id")).as("id_b")),
        struct(least(col("id"), col("__next")).as("id_a"),
          greatest(col("id"), col("__next")).as("id_b")))).as("__p"))
      .select(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
      .filter(col("id_a").isNotNull && col("id_b").isNotNull &&
        col("id_a") < col("id_b"))
    // every caller feeds this frame into CPU-dense per-pair verification
    // (signature agreement and/or exact set merges): pin its parallelism
    // here so the verify stage cannot be byte-coalesced serial (see
    // [[graft.sources.Spread.pinParallel]]; replaces the r18 session-wide
    // minPartitionSize floor)
    graft.sources.Spread.pinParallel(
      full.unionByName(rescue).distinct(), col("id_a"))
  }

  /** Embedding-cosine near-dup pairs (idA < idB) with cosine ≥ `threshold`.
    *
    * Two plans, chosen by corpus size:
    *
    *  - ≤ `broadcastLimit` rows: exact all-pairs — broadcast one side,
    *    stream the other. Right answer and right plan for small corpora
    *    (the pair count is n²/2; at 10⁵ rows that is already 5·10⁹ pairs).
    *  - above it: sign-LSH bucketing ([[Similarity.lshBucket]], `numTables`
    *    independent tables) → [[candidatePairs]] (bucket-size cap +
    *    pair-dedup) → exact-cosine verification of candidates only. Same
    *    candidate-then-verify shape as the text paths above; the shuffle is
    *    an equi-join on bucket ids, never an all-pairs product.
    *
    * The LSH path is approximate: a pair is found iff it shares one of
    * `numTables` buckets, P ≈ 1-(1-p^numPlanes)^numTables with
    * p = 1 - acos(cos)/π. Recall is high for tightly-clustered near-dups
    * (cos ≥ ~0.9) and necessarily degrades toward the random-pair cosine
    * range — the driver's synthetic embeddings have qualifying pairs at
    * cosine 0.45-0.60 *with no gap below the threshold* (max non-pair
    * 0.4497 vs min pair 0.4501 at sf0.01), where no LSH parameterization
    * can be both complete and selective, so exact verification of LSH
    * candidates is the only honest contract at any scale.
    */
  def embeddingDedupPairs(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      broadcastLimit: Long = 100000L,
      numPlanes: Int = 8, numTables: Int = 8, dim: Int = 64, seed: Long = 42L,
      maxBucketSize: Int = 4096): DataFrame = {
    // adaptive plan choice: one cheap column-pruned count against the limit
    // (pass broadcastLimit = 0 or Long.MaxValue to force a path without it)
    if (Similarity.exactWithin(df, idCol, broadcastLimit))
      embeddingDedupPairsExact(df, idCol, vecCol, threshold)
    else embeddingDedupPairsLsh(df, idCol, vecCol, threshold,
      numPlanes, numTables, dim, seed, maxBucketSize)
  }

  /** Exact all-pairs variant: broadcast one side, stream the other. */
  def embeddingDedupPairsExact(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    // norms are computed once per vector on each side of the join (the join
    // boundary stops CollapseProject from inlining them into the per-pair
    // expression, where they'd be re-evaluated 3× per pair); the streamed
    // side is repartitioned so a single-file input doesn't serialize the
    // O(n²) pair scoring into one task
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("va"),
        Similarity.l2Norm(col(vecCol)).as("norm_a"))
      .repartition(col("id_a"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      Similarity.l2Norm(col(vecCol)).as("norm_b"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), Similarity.cosineOfNorms(col("va"),
        col("vb"), col("norm_a"), col("norm_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Sign-LSH bucketed variant: the 100-TB path. Candidates from an
    * equi-join on (table, bucket), verified with exact cosine. */
  def embeddingDedupPairsLsh(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      numPlanes: Int, numTables: Int, dim: Int, seed: Long,
      maxBucketSize: Int): DataFrame = {
    val docs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val tables = (0 until numTables).map { t =>
      struct(lit(t).as("t"),
        Similarity.lshBucket(col("v"), numPlanes, dim, seed + t).as("b"))
    }
    val bucketed = docs
      .select(col("id"), explode(array(tables: _*)).as("tb"))
      .select(col("id"), col("tb.t").as("table_id"), col("tb.b").as("bucket"))
    val cand = candidatePairs(bucketed, Seq("table_id", "bucket"), maxBucketSize)
    // candidates carry only ids; vectors re-join for verification, so the
    // bucket shuffle and pair-dedup move 16 bytes/row, not dim× floats
    val vecs = docs.select(col("id"), col("v"),
      Similarity.l2Norm(col("v")).as("nrm"))
    cand
      .join(vecs.select(col("id").as("id_a"), col("v").as("va"),
        col("nrm").as("norm_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb"),
        col("nrm").as("norm_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), Similarity.cosineOfNorms(col("va"),
        col("vb"), col("norm_a"), col("norm_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Near-dup pairs via winnowing fingerprints (Schleimer/Wilkerson/Aiken,
    * the MOSS algorithm: sliding-window minima of the rolling k-gram hash
    * stream) for candidate generation, verified with exact char-shingle
    * Jaccard ≥ `threshold`.
    *
    * Same candidate-then-verify shape as [[minHashDedupPairs]]: docs sharing
    * any selected fingerprint are candidates — an equi-join on the
    * fingerprint value, never all-pairs — and only candidates pay the exact
    * verification. The winnowing guarantee (common substring of ≥
    * `window + k - 1` chars ⇒ common fingerprint) makes candidate recall for
    * real near-dups position-independent and deterministic — a
    * stripe-partitioned variant missed pairs exactly because one insertion
    * shifts every downstream gram's stripe.
    *
    * Plan shape: one-pass codegen'd fingerprinting in the scan projection
    * ([[graft.functions.WinnowFingerprints]]: rolling gram hashes +
    * monotonic-deque sliding minima, already distinct per doc) → explode →
    * bucket join. No gram-row shuffle, no per-doc window sort. */
  def winnowDedupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      // k=12: short grams (k=8) of same-vocabulary corpora are globally
      // common, so fingerprint buckets grow huge (max ~3.7k docs at sf0.1)
      // and the bucket join dominates; 12-char grams are rare enough that
      // buckets stay discriminative at unchanged recall (guarantee: common
      // substring of ≥ window+k-1 = 19 chars ⇒ common fingerprint)
      k: Int = 12,
      window: Int = 8,
      shingleSize: Int = 5,
      threshold: Double = 0.5,
      maxBucketSize: Int = 128): DataFrame = {
    // base carries only the normalized text through the exchange: deriving
    // shingles AND gram hashes before the repartition was tried and
    // regressed 6× — the shingle arrays rode through the gram explode into
    // the window sort (1.4M rows × ~2 KB payload each at sf0.1)
    // isnotnull(id) up front: the verify joins infer it on their branches
    // and the fingerprint branch doesn't — aligning the base subtrees lets
    // ReusedExchange compute the normalization exchange once (the
    // exactJaccardJoinSets lesson); null ids can never join anyway
    val base = graft.sources.Spread.spread(df
        .filter(col(idCol).isNotNull)
        .select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), normalizeText(col("__text")).as("__norm"))
      .repartition(col("id"))
    val docs = base.select(col("id"),
      graft.functions.CharShingleSet.charShingleSet(col("__norm"), shingleSize).as("sh"))
    // one-pass codegen'd winnowing: the distinct sliding-window minima are
    // computed inside the scan projection ([[graft.functions
    // .WinnowFingerprints]]) — the posexplode → per-doc window-min →
    // distinct formulation this replaces shuffled and sorted every gram
    // row (~n per doc) to keep ~2n/window fingerprints
    // __chain = the doc's MIN fingerprint, riding each fp row (+8 bytes):
    // near-identical docs share it with high probability, so the over-cap
    // rescue chain sorts them contiguous inside a mega-bucket (the minhash
    // next-band-key trick, winnow edition — it took the 100×-density
    // probe's full-clique recall from 61.8% to 100% on the minhash head).
    // __fps materializes as a column first so the generator and the min
    // read ONE winnowing pass.
    val fpRows = base
      .select(col("id"), graft.functions.WinnowFingerprints
        .winnowFingerprints(col("__norm"), k, window).as("__fps"))
      .select(col("id"), array_min(col("__fps")).as("__chain"),
        explode(col("__fps")).as("fp_val"))
    // rescueLimit at 8× cap, NOT the default: this path has no cheap
    // prefilter — every candidate goes straight to the shingle-set
    // Jaccard join, and an unbounded rescue at 100×-duplicate-density
    // measured a 79-GB verify-sort spill (nearly every fingerprint bucket
    // is over cap there, so star+chain over all of them ≈ 2 candidates
    // per fingerprint ROW). 8× rescues the realistic over-cap range and
    // keeps the verifier fed at ≤ 2×(rows in ≤8×-cap buckets).
    val cand = candidatePairs(fpRows, Seq("fp_val"), maxBucketSize,
      rescueLimit = 8 * maxBucketSize)
    // this path has NO signature prefilter, so every candidate pays the
    // merge — the packed long merge is the r18 fast path
    jaccardVerified(cand, docs, packShingles(shingleSize)(col("sh")), threshold)
  }

  /** Portable token hash: first 15 hex chars of md5 parsed as a 60-bit int.
    * Bit-identical across engines (DuckDB: `('0x'||substr(md5(t),1,15))::
    * BIGINT`), so simhash pipelines built on it are exactly replicable in
    * SQL — the correctness-oracle hash. xxhash64 stays the throughput
    * default. */
  def portableTokenHash(c: Column): Column = portableTokenHash(c, 15)

  /** The same portable hash at a caller-chosen hex-prefix width (width 12 =
    * 48 bits is the representative-election flavor; DuckDB replay is
    * `('0x' || substr(md5(x), 1, w))::BIGINT`). One definition so the
    * engine-portability idiom and its SQL replays stay in sync. */
  def portableTokenHash(c: Column, hexChars: Int): Column = {
    require(hexChars >= 1 && hexChars <= 15,
      s"hexChars must be 1..15 to stay inside a non-negative long, got $hexChars")
    conv(substring(md5(c), 1, hexChars), 16, 10).cast("long")
  }

  /** `numBits`-bit SimHash over word tokens, built with a vectorized explode
    * + groupBy (map-side partial aggregation; no per-row nested loops). */
  def simHash(df: DataFrame, idCol: String, textCol: String,
      hashFn: Column => Column = xxhash64(_), numBits: Int = 64): DataFrame = {
    // spread BEFORE the tokenize+explode+partial-agg pipeline: it all runs
    // inside the scan stage otherwise (single-split input = one task)
    val toks = graft.sources.Spread.spread(
        df.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"),
        explode(TextStats.tokens(normalizeText(col("__text")))).as("tok"))
      .withColumn("h", hashFn(col("tok")))
    // per-bit contribution: +1 if bit set else -1; numBits parallel sums
    val bitSums = (0 until numBits).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$i")
    }
    val agg = toks.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until numBits).map { i =>
      when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    agg.select(col("id"), sig.as("simhash"))
  }

  /** Near-dup pairs with Hamming distance ≤ `maxHamming`, found by the
    * pigeonhole trick: split the `numBits`-bit simhash into `maxHamming + 1`
    * chunks — any pair within the distance agrees on ≥ 1 whole chunk, so
    * candidates come from an equi-join on (chunk index, chunk value). */
  def simHashDedupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      hashFn: Column => Column = xxhash64(_),
      numBits: Int = 64): DataFrame = {
    val chunks = maxHamming + 1
    val bitsPer = numBits / chunks
    val sigs = simHash(df, idCol, textCol, hashFn, numBits)
    val chunkCols = (0 until chunks).map { ci =>
      shiftright(col("simhash"), ci * bitsPer).bitwiseAND(lit((1L << bitsPer) - 1))
    }
    val chunked = sigs.select(col("id"),
      posexplode(array(chunkCols: _*)))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "chunk_val")
    val cand = candidatePairs(chunked, Seq("chunk_idx", "chunk_val"),
      maxBucketSize = 1024) // hamming verify is cheap; cap bounds the m² pairing
    cand
      .join(sigs.select(col("id").as("id_a"), col("simhash").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("simhash").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Persist a MinHash LSH index of a corpus: `path/docs` holds
    * (id, sorted shingle set) and `path/bands` the (id, band_idx,
    * band_key) rows, with oversized buckets dropped AT BUILD TIME (a
    * bucket shared by more than `maxBucketSize` docs is not
    * discriminative; dropping it once here means every future probe skips
    * it for free). The signature pass runs once per corpus build instead
    * of once per probe — the incremental-ingest shape: a 100-TB corpus is
    * signed when it is ingested, and each day's fresh slice only signs
    * itself. */
  def writeMinHashIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      numHashes: Int = 32,
      bands: Int = 16,
      shingleSize: Int = 5,
      maxBucketSize: Int = 256): Unit = {
    val spark = df.sparkSession
    // docs parquet is written FIRST and read back as the signature input,
    // and the band rows are persisted across their two consumers (hot
    // aggregate + filtered write): the expensive normalize/shingle/sign
    // lineage runs exactly once per build — the property the operator
    // exists to provide
    shingleDocs(df, idCol, textCol, shingleSize)
      .write.mode("overwrite").parquet(s"$path/docs")
    val docs = spark.read.parquet(s"$path/docs")
    val bandsDf = bandRows(signedDocs(docs, "sh", numHashes), numHashes, bands)
      .persist()
    try dropOversizedBuckets(bandsDf, maxBucketSize)
      .write.mode("overwrite").parquet(s"$path/bands")
    finally bandsDf.unpersist()
    // parameter manifest: probing with different parameters produces band
    // keys from a different space and would silently report zero recall.
    // Written through the Hadoop FileSystem resolved from `path` — the
    // index lives wherever docs/bands live (hdfs://, s3a://, local), and
    // the manifest must live there too
    writeIndexManifest(spark, path, Map(
      "numHashes" -> numHashes, "bands" -> bands,
      "shingleSize" -> shingleSize, "maxBucketSize" -> maxBucketSize))
  }

  /** `bands` without the buckets shared by more than `maxBucketSize` rows
    * (not discriminative). The one cap rule of a MinHash index: its build
    * and its probes both apply it. */
  private def dropOversizedBuckets(bands: DataFrame, maxBucketSize: Int): DataFrame = {
    val hot = bands.groupBy("band_idx", "band_key")
      .agg(count(lit(1)).as("__n")).filter(col("__n") > maxBucketSize)
      .select("band_idx", "band_key")
    bands.join(broadcast(hot), Seq("band_idx", "band_key"), "left_anti")
  }

  private def manifestFile(spark: org.apache.spark.sql.SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path, "params.json")
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def writeIndexManifest(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      params: Map[String, Int]): Unit = {
    val (fs, p) = manifestFile(spark, path)
    val json = params.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val out = fs.create(p, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Parse the manifest's integer fields by name — key order and
    * whitespace are not semantics, so two manifests compare equal iff
    * their parsed fields do. */
  private def readIndexManifest(
      spark: org.apache.spark.sql.SparkSession, path: String): Map[String, Long] = {
    val (fs, p) = manifestFile(spark, path)
    val in = fs.open(p)
    val raw =
      try new String(
        org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    """"([A-Za-z]+)"\s*:\s*(\d+)""".r.findAllMatchIn(raw)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  /** Probe fresh documents against a [[writeMinHashIndex]] index: fresh
    * docs sign themselves (same parameters as the index build), candidates
    * come from the bipartite band join fresh × index, and every candidate
    * pair is verified with the exact shingle Jaccard (fresh side computed,
    * historical side read from the index — no re-shingling of the corpus).
    * Returns (fresh_id, hist_id, jaccard) with jaccard ≥ `threshold`.
    *
    * '''Contract vs the batch pipeline.''' The probe reproduces every
    * fresh×hist pair of [[minHashDedupPairs]] run with `rescue = false`
    * (MinHashIndexPropertySpec gates exactly that). It can NOT reproduce
    * the r14 over-cap rescue's extra pairs: the index dropped over-cap
    * bucket rows at build time, so the rows the rescue would chain no
    * longer exist on the historical side. At extreme duplicate density
    * (the 100× probe regime) the incremental path therefore lags the
    * batch pipeline's recall; re-cluster the corpus with the batch
    * operator periodically, or rebuild the index, when the over-cap drop
    * rate grows — extending the index layout to persist (cap,
    * rescueLimit] rows and replay the star/chain at probe time is the
    * known upgrade path. */
  def probeMinHashIndex(
      fresh: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      numHashes: Int = 32,
      bands: Int = 16,
      shingleSize: Int = 5,
      threshold: Double = 0.5,
      maxBucketSize: Int = 256): DataFrame = {
    val spark = fresh.sparkSession
    val manifest = readIndexManifest(spark, path)
    val expected = Map[String, Long](
      "numHashes" -> numHashes, "bands" -> bands,
      "shingleSize" -> shingleSize, "maxBucketSize" -> maxBucketSize)
    val mismatched = expected.keys.filter(k => manifest.get(k) != Some(expected(k)))
    require(mismatched.isEmpty,
      s"probe parameters do not match the index manifest for " +
        s"${mismatched.toSeq.sorted.map(k => s"$k: probe=${expected(k)} index=${manifest.get(k).getOrElse("absent")}").mkString(", ")} " +
        "(band keys would come from a different space — zero recall)")
    // unknown manifest fields are a mismatch too: a foreign writer that
    // records an extra band-space-affecting parameter must fail loudly here,
    // not silently probe a different key space
    val unknown = manifest.keySet -- expected.keySet
    require(unknown.isEmpty,
      s"index manifest carries parameters this probe does not understand: " +
        s"${unknown.toSeq.sorted.mkString(", ")} (a foreign index layout — " +
        "probing it could silently return zero recall)")
    val freshDocs = shingleDocs(fresh, idCol, textCol, shingleSize)
    val freshBands = bandRows(signedDocs(freshDocs, "sh", numHashes), numHashes, bands)
      .select(col("id").as("fresh_id"), col("band_idx"), col("band_key"))
    // fresh-side bucket cap mirrors the index's build-time cap
    val fb = dropOversizedBuckets(freshBands, maxBucketSize)
    val ib = spark.read.parquet(s"$path/bands")
      .select(col("id").as("hist_id"), col("band_idx"), col("band_key"))
    val cand = fb.join(ib, Seq("band_idx", "band_key"))
      .select("fresh_id", "hist_id")
      .distinct()
    // the index stores string sets; both sides pack at read time
    // ([[packShingles]]) — once per doc
    val hist = spark.read.parquet(s"$path/docs")
      .select(col("id").as("hist_id"), packShingles(shingleSize)(col("sh")).as("hist_sh"))
    // pin the verify stage's parallelism (same rationale as candidatePairs)
    graft.sources.Spread.pinParallel(cand, col("fresh_id"))
      .join(freshDocs.select(col("id").as("fresh_id"),
        packShingles(shingleSize)(col("sh")).as("fresh_sh")), Seq("fresh_id"))
      .join(hist, Seq("hist_id"))
      .select(col("fresh_id"), col("hist_id"),
        graft.functions.SetSimilarity.sortedJaccard(
          col("fresh_sh"), col("hist_sh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Within-corpus repeated-passage removal (the CCNet/Gopher paragraph-
    * dedup shape, on fixed `blockTokens`-token blocks since the corpus
    * carries no paragraph delimiters): every block of normalized tokens is
    * kept only at its FIRST corpus occurrence — ordered by (doc id, block
    * position) — and each document is rebuilt from its surviving blocks.
    * Documents whose every block is a repeat disappear.
    *
    * Scale shape: blocks shuffle by an md5 fingerprint (the dedup key;
    * 100-TB note: block payloads travel only to the final per-doc
    * reassembly, the fingerprint legs carry (fp, id, pos) triples); the
    * first-occurrence winner is a map-side-combined `min(struct)` — never
    * a per-fingerprint window, so a block repeated 10⁹ times costs one
    * partial aggregate per map task, not a single-task sort. Reassembly is
    * a per-document `collect_list`, bounded by document size.
    *
    * Deterministic and exactly SQL-replayable (md5 + slices + min-first
    * rule), so the whole operator is oracle-checkable. */
  def dropDuplicateParagraphs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockTokens: Int = 20): DataFrame = {
    val blocks = tokenBlocks(df, idCol, textCol, blockTokens)
    val first = blocks
      .groupBy("fp")
      .agg(min(struct(col("id"), col("pos"))).as("o"))
      .select(col("fp"), col("o.id").as("id"), col("o.pos").as("pos"))
    val kept = blocks.join(first, Seq("fp", "id", "pos"), "left_semi")
    rebuildDocs(kept, idCol, textCol)
  }

  /** (id, pos, para, fp) block rows: normalized tokens cut into fixed
    * `blockTokens`-token blocks, fingerprinted with md5. Shared by the
    * block-level corpus cleaners ([[dropDuplicateParagraphs]],
    * [[stripBoilerplateBlocks]]) so their oracles replay ONE slicing rule. */
  private def tokenBlocks(
      df: DataFrame, idCol: String, textCol: String, blockTokens: Int): DataFrame = {
    val toks = tokenDocs(df, idCol, textCol)
    val nBlocks = expr(s"(size(__toks) + ${blockTokens - 1}) DIV $blockTokens")
    toks
      .select(col("id"), posexplode(transform(
        sequence(lit(0), nBlocks.cast("int") - 1),
        i => concat_ws(" ", slice(col("__toks"), i * blockTokens + 1, lit(blockTokens))))))
      .withColumnRenamed("col", "para")
      .withColumn("fp", md5(col("para")))
  }

  /** Reassemble (id, pos, para) block rows into documents; a doc none of
    * whose blocks survived disappears. Per-document `collect_list`,
    * bounded by document size. */
  private def rebuildDocs(kept: DataFrame, idCol: String, textCol: String): DataFrame =
    kept.groupBy("id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("para")))),
          s => s.getField("para")), " ").as(textCol))
      .withColumnRenamed("id", idCol)

  /** Corpus-frequency boilerplate removal (the CCNet/RefinedWeb cleaning
    * step, on fixed token blocks like [[dropDuplicateParagraphs]] since the
    * corpus carries no line delimiters): a block whose DOCUMENT frequency
    * exceeds `maxDocFraction` of the corpus is boilerplate — headers,
    * footers, cookie banners, navigation chrome — and is removed from
    * EVERY document, first occurrence included (the semantic difference
    * from paragraph dedup, which keeps exactly one copy). Documents made
    * entirely of boilerplate disappear.
    *
    * Scale shape: doc frequency is `distinct(fp, id)` then a map-side-
    * combined count per fingerprint — a block repeated 10⁹ times costs one
    * partial row per map task, never a single-task group. The boilerplate
    * fingerprint set is broadcast for the anti-join: its size is bounded by
    * avgBlocksPerDoc / maxDocFraction fingerprints INDEPENDENT of corpus
    * size (each boilerplate fingerprint sits in > maxDocFraction·N docs,
    * and there are only avgBlocksPerDoc·N block slots), so the broadcast
    * stays small at any scale. Deterministic and exactly SQL-replayable. */
  def stripBoilerplateBlocks(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockTokens: Int = 20,
      maxDocFraction: Double = 0.05): DataFrame = {
    val blocks = tokenBlocks(df, idCol, textCol, blockTokens)
    // both count legs read the SAME distinct (fp, id) subtree, so its
    // exchange is built once and reused — deriving the doc total straight
    // from `blocks` would prune to a different exchange payload and cost
    // an extra pass of the block pipeline
    val fpDoc = blocks.select("fp", "id").distinct()
    val totalDocs = fpDoc.select("id").distinct()
      .agg(count(lit(1)).as("__total"))
    val docFreq = fpDoc.groupBy("fp").agg(count(lit(1)).as("__df"))
    val boiler = docFreq.crossJoin(broadcast(totalDocs))
      .filter(col("__df") > col("__total") * maxDocFraction)
      .select("fp")
    val kept = blocks.join(broadcast(boiler), Seq("fp"), "left_anti")
    rebuildDocs(kept, idCol, textCol)
  }

  /** Candidate pairs by word-n-gram Jaccard ≥ threshold, using MinHash LSH
    * over the n-gram space for candidate generation (never all-pairs).
    *
    * 32 hashes / 16 bands (2 rows per band): detection ≥ 1-1e-7 for pairs at
    * j ≥ 0.8 (miss = (1-0.8²)¹⁶ ≈ 8e-8), a strictly TIGHTER bound than the
    * round-6 48/16 parameterization (miss = (1-0.8³)¹⁶ ≈ 1.0e-5, right at
    * the documented limit) at two-thirds its signature cost. Isolated bench
    * (sf0.1, 32 cores, median of 3): 16/8 = 2.74 s but miss 2.8e-4 (fails
    * the bound), 32/16 = 3.2 s, 48/16 = 3.82 s. The shorter 2-row bands
    * admit more low-j band collisions, but the exact-Jaccard verify is cheap
    * relative to the per-doc signature passes at every scale where the
    * bucket cap holds, so buying recall with bands (not hashes) is the
    * right trade. */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.3,
      numHashes: Int = 32,
      bands: Int = 16): DataFrame = {
    val docs = tokenDocs(df, idCol, textCol)
      .select(col("id"), array_sort(wordNgrams(col("__toks"), n)).as("gr"))
    lshVerifiedPairs(docs, "gr", numHashes = numHashes, bands = bands,
      threshold = threshold, maxBucketSize = 256)
  }

  /** EXACT Jaccard similarity self-join via prefix filtering — every pair
    * of documents whose distinct-token Jaccard is ≥ `tNum/tDen`, with NO
    * probabilistic misses (the guarantee the MinHash family trades away).
    * The AllPairs/PPJoin scheme (Chaudhuri–Ganti–Kaushik, "A primitive
    * operator for similarity joins", ICDE 2006; Bayardo–Ma–Srikant,
    * "Scaling up all pairs similarity search", WWW 2007): order every
    * document's tokens by ascending global document frequency (rarest
    * first); a pair with Jaccard ≥ t must share a token inside BOTH
    * docs' first `|d| − ⌈t·|d|⌉ + 1` tokens (if all common tokens sat in
    * one doc's suffix, the suffix is too short to hold the ⌈t·max⌉ overlap
    * Jaccard ≥ t forces), so candidates come from an equi-join on PREFIX
    * tokens only — and prefixes hold each corpus's rarest tokens, which is
    * what keeps the join's per-key fan-out small.
    *
    * The threshold is a RATIONAL `tNum/tDen`, so every filter — the
    * ⌈t·sz⌉ prefix bound, the min≥t·max length filter, and the final
    * `|∩|·tDen ≥ tNum·|∪|` verification — is exact integer arithmetic:
    * no ulp can move a boundary pair in or out (a float `ceil(0.7·10)`
    * is already 8, not 7).
    *
    * '''Plan shape (the 100-TB design).''' Token df is one
    * map-side-combined aggregate; the df-order re-sort is a per-doc
    * `array_sort` after an equi-join token→df (vocab-scale build side).
    * Candidate generation explodes ONLY prefixes, pair-dedups BEFORE
    * verification, and verification joins the lex-sorted token sets back
    * by id for the linear-merge [[graft.functions.SetSimilarity]] count —
    * the same bucket-then-verify discipline as the LSH family, with the
    * prefix equi-join playing the bucket role. A pathological token that
    * is rare-yet-shared-by-millions would skew the prefix join; that is a
    * skewJoin-compatible equi-join shuffle, left to AQE's runtime skew
    * split (capping would break exactness).
    *
    * @return (id_a, id_b, n_intersect, n_union) with id_a < id_b — all
    *         integers; jaccard = n_intersect / n_union is derivable.
    */
  def exactJaccardJoin(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tNum: Int = 1,
      tDen: Int = 2,
      ngram: Int = 1): DataFrame =
    // NB: element cardinality decides whether the prefix filter can prune.
    // Word UNIGRAMS over a small closed vocabulary (every doc holds most of
    // the vocab) make almost every pair qualify and no prefix rare — use
    // ngram ≥ 2 (or char shingles via the sets variant) for natural text.
    exactJaccardJoinSets(textGramSets(df, idCol, textCol, ngram), "id", "__set", tNum, tDen)

  /** [[exactJaccardJoin]] over a precomputed set column (distinct array
    * elements). See that method for the algorithm and scale notes. */
  def exactJaccardJoinSets(
      df: DataFrame,
      idCol: String,
      setCol: String,
      tNum: Int,
      tDen: Int): DataFrame = {
    requireRational(tNum, tDen)
    val docs = lexIndex(df
      .filter(col(idCol).isNotNull)
      .select(col(idCol).as("id"), col(setCol).as("__tk")), Seq("id"))
    val cand = prefixJaccardCandidates(docs, Seq("id"), SelfA, SelfB, tNum, tDen,
        Some(col("id_a") < col("id_b")))
      // candidate mass AFTER the distinct: the DISTINCT candidate-pair
      // count, i.e. the verified-join input that verification cost is
      // linear in — NOT the raw pre-distinct enumeration (a pair generated
      // by several shared prefix tokens counts once here). Observed for
      // free as a CollectMetrics on the existing execution — an ops
      // listener reads it via QueryExecutionListener.observedMetrics.
      // Name is sequence-unique:
      // two exact joins may share one query plan.
      .observe(s"graft_exact_jaccard_${candSeq.incrementAndGet()}",
        count(lit(1)).as("n_candidates"))
    jaccardAtLeast(withOverlap(cand, docs, SelfA, SelfB), SelfA, SelfB, tNum, tDen)
  }

  /** [[exactJaccardJoin]] across TWO corpora (R-S join): every (left,
    * right) pair at Jaccard ≥ `tNum/tDen`, exactly — the fuzzy
    * DECONTAMINATION policy ("drop training docs that are ≥ t similar to
    * any benchmark doc"), where the n-gram [[Decontaminate]] family flags
    * ANY shared gram and this flags whole-document similarity. Same
    * prefix-filter algorithm and integer-threshold discipline as the
    * self-join; the global token order is the ascending document frequency
    * over the UNION of both corpora (any consistent total order is
    * correct; union-df keeps prefixes rare on both sides), and candidates
    * come from the cross-side prefix equi-join only.
    *
    * @return (id_l, id_r, n_intersect, n_union) — left/right ids with the
    *         exact integer overlap. */
  def exactJaccardJoinBetween(
      left: DataFrame, lIdCol: String, lTextCol: String,
      right: DataFrame, rIdCol: String, rTextCol: String,
      tNum: Int, tDen: Int, ngram: Int = 1): DataFrame =
    exactJaccardJoinBetweenSets(
      textGramSets(left, lIdCol, lTextCol, ngram), "id", "__set",
      textGramSets(right, rIdCol, rTextCol, ngram), "id", "__set", tNum, tDen)

  /** [[exactJaccardJoinBetween]] over precomputed set columns. See
    * [[exactJaccardJoinSets]] for the shared plan-shape notes (checkpointed
    * sorted-set index, prefix equi-join candidates, linear-merge verify). */
  def exactJaccardJoinBetweenSets(
      left: DataFrame, lIdCol: String, lSetCol: String,
      right: DataFrame, rIdCol: String, rSetCol: String,
      tNum: Int, tDen: Int): DataFrame = {
    requireRational(tNum, tDen)
    val docs = lexIndex(left
      .filter(col(lIdCol).isNotNull)
      .select(lit(0).as("__side"), col(lIdCol).as("id"), col(lSetCol).as("__tk"))
      .unionAll(right
        .filter(col(rIdCol).isNotNull)
        .select(lit(1).as("__side"), col(rIdCol).as("id"), col(rSetCol).as("__tk"))),
      Seq("__side", "id"))
    val cand = prefixJaccardCandidates(docs, Seq("__side", "id"), LeftL, RightR,
      tNum, tDen, None)
    jaccardAtLeast(withOverlap(cand, docs, LeftL, RightR), LeftL, RightR, tNum, tDen)
  }

  /** One side of a prefix-filter join, named by `tag`: its id `id_<tag>`,
    * set size `__s<tag>` and lex-sorted set `__l<tag>`; `rows` picks the
    * side's rows out of the shared index (all of them in a self-join). */
  private case class JoinSide(tag: String, rows: DataFrame => DataFrame) {
    def id: String = s"id_$tag"
    def sz: String = s"__s$tag"
    def lex: String = s"__l$tag"
  }
  private val SelfA = JoinSide("a", identity)
  private val SelfB = JoinSide("b", identity)
  private val LeftL = JoinSide("l", _.filter(col("__side") === 0))
  private val RightR = JoinSide("r", _.filter(col("__side") === 1))

  private def requireRational(tNum: Int, tDen: Int): Unit =
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      s"threshold must be a rational in (0, 1]: got $tNum/$tDen")

  /** (id, __toks): each doc's normalized word tokens, empty docs dropped
    * BEFORE the id exchange. The empty-doc filter must run on __toks
    * before the barrier: a trailing filter on a gram set derived above it
    * gets predicate-pushed below the barrier, substituting the whole gram
    * expression — with the tokenization inlined into its per-position
    * lambda — into the filter, which re-normalizes and re-tokenizes the
    * text once per gram position (~20 s of ngramJaccardPairs at sf0.1).
    * Non-empty tokens ⇒ ≥1 gram, so the predicates are equivalent. */
  private def tokenDocs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.sources.Spread.spread(
        df.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"),
        TextStats.tokens(normalizeText(col("__text"))).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .repartition(col("id"))

  /** Text → (id, __set) distinct word-gram sets, the exact Jaccard joins'
    * head: grams are built AFTER [[tokenDocs]]' id exchange. */
  private def textGramSets(df: DataFrame, idCol: String, textCol: String,
      ngram: Int): DataFrame =
    tokenDocs(df, idCol, textCol).select(col("id"), gramSet(col("__toks"), ngram).as("__set"))

  /** Distinct tokens (`ngram ≤ 1`) or distinct word n-grams of a
    * materialized token array. */
  private def gramSet(toks: Column, ngram: Int): Column =
    if (ngram <= 1) array_distinct(toks) else wordNgrams(toks, ngram)

  /** The prefix-filter joins' sorted-set index: `(keys…, __tk)` rows →
    * `(keys…, __lex)`, each non-empty set lex-sorted, materialized once.
    *
    * ONE shared frame behind a repartition exchange. Its consumers — the df
    * aggregate, the df-order rebuild, and the verification joins — all
    * reference exactly (keys…, __lex), so their exchange subtrees stay
    * canonically identical and ReusedExchange computes the frame once
    * (divergent column pruning across consumers is what forks the subtrees
    * and re-runs the input; the lshVerifiedPairs motif). Callers filter
    * isnotnull(id) up front to keep the branches canonically identical (the
    * verify joins infer it on their branches, the df aggregate's branch
    * doesn't); the localCheckpoint then materializes the tokenized corpus
    * ONCE — exchange reuse alone leaves the set-building expression
    * re-evaluated on every non-identical branch (measured 5× the
    * checkpointed runtime at sf0.1). One linear materialization of the
    * (id, sorted set) index is the trade every production AllPairs
    * implementation makes. The ConnectedComponents/PageRank house rule.
    * TWO-stage materialization, measured not cosmetic: evaluating
    * filter(size)+array_sort directly over an unmaterialized set
    * expression (e.g. the wrapper's wordNgrams projection) re-evaluates
    * the expression ~20× per row at sf0.1 (16.1 s vs 0.84 s for one
    * clean pass) — checkpoint the RAW sets first (one evaluation), then
    * derive the sorted index from materialized rows (sub-second). */
  private def lexIndex(sets: DataFrame, keys: Seq[String]): DataFrame = {
    val by = keys.map(col)
    sets.repartition(by: _*).localCheckpoint()
      .filter(size(col("__tk")) > 0)
      .select(by :+ array_sort(col("__tk")).as("__lex"): _*)
      .repartition(by: _*)
      .localCheckpoint()
  }

  /** Per doc of a [[lexIndex]]: `(keys…, __rare, __sz)` — its tokens
    * re-sorted by (global ascending document frequency, token), rarest
    * first, and its set size. The df is one map-side-combined aggregate
    * (vocab-scale); the re-sort a per-doc `array_sort` after the
    * token→df equi-join. */
  private def rarestFirst(docs: DataFrame, keys: Seq[String]): DataFrame = {
    val by = keys.map(col)
    val tokDf = docs.select(explode(col("__lex")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("__df"))
    docs.select(by :+ explode(col("__lex")).as("tok"): _*)
      .join(tokDf, "tok")
      .groupBy(keys.head, keys.tail: _*)
      .agg(array_sort(collect_list(struct(col("__df"), col("tok")))).as("__dt"))
      .select(by ++ Seq(
        transform(col("__dt"), x => x.getField("tok")).as("__rare"),
        size(col("__dt")).as("__sz")): _*)
  }

  /** One `tok` row per token of a [[rarestFirst]] doc's prefix: its first
    * `sz − ⌈t·sz⌉ + 1` rarest tokens, with exact integer ceil. */
  private def prefixTokens(tNum: Int, tDen: Int): Column = {
    val prefLen = col("__sz") -
      floor((col("__sz") * tNum + (tDen - 1)) / tDen).cast("int") + 1
    explode(slice(col("__rare"), lit(1), prefLen)).as("tok")
  }

  /** Distinct Jaccard candidates `(a.id, b.id)`: docs sharing a prefix
    * token (the equi-join on `tok` plays the LSH bucket role), passing
    * `pairFilter` and the length filter Jaccard ≥ t forces,
    * min·tDen ≥ tNum·max (exact integers). */
  private def prefixJaccardCandidates(docs: DataFrame, keys: Seq[String],
      a: JoinSide, b: JoinSide, tNum: Int, tDen: Int,
      pairFilter: Option[Column]): DataFrame = {
    val pref = rarestFirst(docs, keys)
      .select(keys.map(col) ++ Seq(col("__sz"), prefixTokens(tNum, tDen)): _*)
      .repartition(col("tok"))
    def leg(s: JoinSide) =
      s.rows(pref).select(col("id").as(s.id), col("__sz").as(s.sz), col("tok"))
    val joined = leg(a).join(leg(b), "tok")
    pairFilter.fold(joined)(joined.filter)
      .filter(least(col(a.sz), col(b.sz)) * tDen >=
        greatest(col(a.sz), col(b.sz)) * tNum)
      .select(a.id, b.id).distinct()
  }

  /** The pinned overlap-verify join: each candidate pair `(a.id, b.id)`
    * joins both lex-sorted sets back from the index by id and gets its
    * exact `n_intersect` from the linear merge on pre-sorted arrays (pairs
    * outnumber docs; the hash-set array_intersect/union form dominates the
    * profile). The verify stage's parallelism is pinned (same rationale as
    * candidatePairs). */
  private def withOverlap(cand: DataFrame, docs: DataFrame,
      a: JoinSide, b: JoinSide): DataFrame =
    graft.sources.Spread.pinParallel(cand, col(a.id))
      .join(a.rows(docs).select(col("id").as(a.id), col("__lex").as(a.lex)), Seq(a.id))
      .join(b.rows(docs).select(col("id").as(b.id), col("__lex").as(b.lex)), Seq(b.id))
      .withColumn("n_intersect",
        graft.functions.SetSimilarity.sortedIntersect(col(a.lex), col(b.lex)))

  /** Verified pairs at Jaccard ≥ `tNum/tDen` with their integer overlap:
    * |∪| = |a| + |b| − |∩| keeps everything integer. */
  private def jaccardAtLeast(verified: DataFrame, a: JoinSide, b: JoinSide,
      tNum: Int, tDen: Int): DataFrame =
    verified
      .withColumn("n_union",
        size(col(a.lex)) + size(col(b.lex)) - col("n_intersect"))
      .filter(col("n_intersect") * tDen >= col("n_union") * tNum)
      .select(a.id, b.id, "n_intersect", "n_union")

  /** EXACT set-containment join (directed): every ordered pair (a, b),
    * a ≠ b, where document b contains at least `tNum/tDen` of a's n-gram
    * set — `|Gₐ∩G_b| ≥ t·|Gₐ|`. The ASYMMETRIC complement of
    * [[exactJaccardJoin]]: Jaccard misses a short quote embedded in a long
    * page (the union dilutes it), while containment is exactly the
    * "is a substantially a subset of b" question — quote/mirror/expansion
    * detection, the set-grain face of [[exactSubstringDupStats]].
    *
    * Prefix filter, containment form: if b shares NO token among a's
    * `|Gₐ| − ⌈t·|Gₐ|⌉ + 1` RAREST tokens, it shares at most
    * `⌈t·|Gₐ|⌉ − 1 < t·|Gₐ|` of them — so candidates come from a's prefix
    * tokens only. The CONTAINING side gets no prefix (a superset can match
    * on any token), so its leg of the candidate join is the full posting
    * list — the fundamental asymmetry of containment joins; the size guard
    * `|G_b| ≥ ⌈t·|Gₐ|⌉` prunes before pair-dedup. Exact-integer thresholds
    * throughout (`n·tDen ≥ sz·tNum`), no floating point.
    *
    * '''Plan shape (the 100-TB design).''' Same bucket-then-verify
    * discipline as [[exactJaccardJoinSets]] (shared notes there): one
    * checkpointed (id, lex-sorted set) index feeds everything; the
    * candidate join explodes prefixes on the probe side against full
    * postings on the index side — an equi-join on token whose skew is
    * AQE's runtime split (capping would break exactness); pairs dedup
    * BEFORE the linear-merge [[graft.functions.SetSimilarity]] verify.
    *
    * @return (id_a, id_b, n_intersect, n_a): b contains a, with the exact
    *         overlap and a's set size — containment = n_intersect / n_a. */
  def exactContainmentJoin(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tNum: Int = 2,
      tDen: Int = 3,
      ngram: Int = 3): DataFrame = {
    requireRational(tNum, tDen)
    // its own head: grams are built BEFORE the id exchange, which is the
    // index's first stage
    val docs = lexIndex(graft.sources.Spread.spread(df
        .filter(col(idCol).isNotNull)
        .select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"),
        TextStats.tokens(normalizeText(col("__text"))).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col("id"), gramSet(col("__toks"), ngram).as("__tk")), Seq("id"))
    // probe prefix: sz − ceil(t·sz) + 1 rarest tokens
    val pref = rarestFirst(docs, Seq("id"))
      .select(col("id").as("id_a"), col("__sz").as("__sa"), prefixTokens(tNum, tDen))
    // index side: FULL postings (id, every token) — containment admits no
    // index-side prefix; built from `docs` so the exchange subtree is the
    // checkpointed frame, not a second tokenization
    val postings = docs.select(col("id").as("id_b"),
      size(col("__lex")).as("__sz_b"), explode(col("__lex")).as("tok"))
    val cand = pref.repartition(col("tok"))
      .join(postings.repartition(col("tok")), "tok")
      .filter(col("id_a") =!= col("id_b"))
      // b must hold at least ⌈t·|Gₐ|⌉ tokens to contain t of a
      .filter(col("__sz_b") * tDen >= col("__sa") * tNum)
      .select("id_a", "id_b").distinct()
    withOverlap(cand, docs, SelfA, SelfB)
      .withColumn("n_a", size(col(SelfA.lex)))
      .filter(col("n_intersect") * tDen >= col("n_a") * tNum)
      .select("id_a", "id_b", "n_intersect", "n_a")
  }

  /** Exact-substring duplication statistics (the ExactSubstr policy of Lee
    * et al., "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499, at token-window granularity): every `windowTokens`-
    * token window repeated across documents belongs to the FIRST document
    * containing it (smallest id — the keep-first convention of
    * [[dropDuplicateParagraphs]]); in every later document, the positions
    * its occurrences cover count as duplicated span. Returns per document
    * `(id, n_tokens, n_dup_tokens)` — n_dup_tokens is the size of the UNION
    * of covered positions (overlapping duplicated windows are not double
    * counted), the number a span-stripping pass would remove.
    *
    * '''Plan shape (the 100-TB design).''' Window extraction is a narrow
    * per-doc explode (positions × docs — the same volume the shingle
    * pipelines already ship). Ownership is one map-side-combined
    * `min(doc)` per gram. The occurrence⋈owner equi-join carries only
    * (doc, pos) against a gram-grain table with NO row amplification
    * (one owner row per gram); a degenerate boilerplate gram skews that
    * join's key, which is left to AQE's runtime skew split rather than a
    * plan-construction-time sketch job — the [[stripBoilerplateBlocks]]
    * pass upstream is the structural fix for chrome-dominated corpora.
    * Coverage is a bounded explode (≤ windowTokens × duplicated
    * occurrences) into a map-side-combined distinct. */
  def exactSubstringDupStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 8): DataFrame = {
    val (base, covered) = substringCoverage(df, idCol, textCol, windowTokens)
    val dup = covered
      .groupBy("__graft_doc")
      .agg(count(lit(1)).as("__graft_dup"))
    base.select(col("__graft_doc"), col("__graft_n"))
      .join(dup, Seq("__graft_doc"), "left")
      .select(col("__graft_doc").as(idCol),
        col("__graft_n").cast("long").as("n_tokens"),
        coalesce(col("__graft_dup"), lit(0L)).as("n_dup_tokens"))
  }

  /** Apply side of [[exactSubstringDupStats]]: rebuild each document with
    * its duplicated spans REMOVED — the kept tokens (positions not covered
    * by any later-doc repeated window) rejoined with single spaces at the
    * normalized-text grain the census measures. The first (smallest-id)
    * document of every repeated span keeps it; documents emptied entirely
    * come back as empty strings, never dropped.
    *
    * '''Plan shape.''' Coverage as in the census; the strip is one
    * posexplode + anti-join on (doc, position) + one per-doc ordered
    * rebuild (sorted struct collect — per-doc token counts, never a global
    * sort). */
  def stripDuplicatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 8): DataFrame = {
    val (base, covered) = substringCoverage(df, idCol, textCol, windowTokens)
    val toks = base
      .select(col("__graft_doc"),
        posexplode(col("__graft_toks")).as(Seq("__graft_i", "__graft_tok")))
      .select(col("__graft_doc"), (col("__graft_i") + 1).as("__graft_pos"),
        col("__graft_tok"))
    val rebuilt = toks
      .join(covered, Seq("__graft_doc", "__graft_pos"), "left_anti")
      .groupBy("__graft_doc")
      .agg(count(lit(1)).as("__graft_keep"),
        array_join(transform(
          array_sort(collect_list(struct(
            col("__graft_pos").as("p"), col("__graft_tok").as("t")))),
          s => s.getField("t")), " ").as("__graft_txt"))
    base.select(col("__graft_doc"))
      .join(rebuilt, Seq("__graft_doc"), "left")
      .select(col("__graft_doc").as(idCol),
        coalesce(col("__graft_keep"), lit(0L)).as("n_kept"),
        coalesce(col("__graft_txt"), lit("")).as("text_kept"))
  }

  /** Shared coverage computation for the ExactSubstr census/apply pair:
    * returns (per-doc base with token arrays, DISTINCT duplicated
    * positions). See [[exactSubstringDupStats]] for the plan-shape notes. */
  private def substringCoverage(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int): (DataFrame, DataFrame) = {
    require(windowTokens >= 2, "windowTokens must be at least 2")
    val w = windowTokens
    val base = df
      .select(col(idCol).as("__graft_doc"),
        TextStats.tokens(normalizeText(col(textCol))).as("__graft_toks"))
      .withColumn("__graft_n", size(col("__graft_toks")))
    val grams = base.filter(col("__graft_n") >= w)
      .select(col("__graft_doc"),
        explode(transform(
          sequence(lit(1), col("__graft_n") - (w - 1)),
          p => struct(p.as("p"),
            concat_ws(" ", slice(col("__graft_toks"), p, lit(w))).as("gram")))).as("g"))
      .select(col("__graft_doc"), col("g.p").as("__graft_p"),
        col("g.gram").as("__graft_gram"))
    val owners = grams.groupBy("__graft_gram")
      .agg(min("__graft_doc").as("__graft_owner"))
    val covered = grams.join(owners, Seq("__graft_gram"))
      .filter(col("__graft_doc") > col("__graft_owner"))
      .select(col("__graft_doc"),
        explode(sequence(col("__graft_p"),
          col("__graft_p") + (w - 1))).as("__graft_pos"))
      .distinct()
    (base, covered)
  }

  /** A planned LSH banding: `numHashes = bands × rowsPerBand`,
    * `inflection = (1/bands)^(1/rowsPerBand)` (the similarity where the
    * banding S-curve `1-(1-s^r)^b` crosses ~0.5 steepest — pairs above it
    * are mostly caught, below mostly skipped), and `pAtThreshold` the
    * actual candidate probability at the requested threshold. */
  final case class LshPlan(
      numHashes: Int, bands: Int, rowsPerBand: Int,
      inflection: Double, pAtThreshold: Double)

  /** Choose the LSH banding for a target Jaccard `threshold` at a fixed
    * signature size — the design step in front of [[writeMinHashIndex]] /
    * the LSH dedup family, as pure driver-side math (nothing distributed
    * to plan the distributed job).
    *
    * The whole `numHashes` budget is always used (a longer signature is a
    * strictly sharper S-curve; leaving budget unused only blurs it), so
    * the free choice is the divisor split `bands × rowsPerBand =
    * numHashes`. Picks the split whose inflection `(1/b)^(1/r)` lands
    * closest to `threshold` in log-space (similarity mistakes are
    * multiplicative: planning 0.05 for a 0.1 target is as wrong as 0.4
    * for 0.8). An exact tie between two splits breaks toward more bands
    * (recall over precision — the pipelines' bucket-size cap already
    * bounds the false-positive cost). `pAtThreshold` reports the
    * candidate probability `1-(1-t^r)^b` at the target, it is not
    * optimized.
    *
    * With the pipeline defaults' signature (32), a 0.25 threshold plans
    * the pipeline defaults themselves: 16 bands × 2 rows, inflection
    * exactly 0.25.
    */
  def lshPlan(threshold: Double, numHashes: Int = 32): LshPlan = {
    require(threshold > 0 && threshold < 1, "threshold must be in (0, 1)")
    require(numHashes >= 1, "numHashes must be at least 1")
    val candidates = for {
      r <- 1 to numHashes
      if numHashes % r == 0
    } yield {
      val b = numHashes / r
      val inflection = math.pow(1.0 / b, 1.0 / r)
      (math.abs(math.log(inflection) - math.log(threshold)), -b, r, inflection)
    }
    val (_, negB, r, inflection) = candidates.min
    val b = -negB
    LshPlan(numHashes, b, r, inflection,
      1.0 - math.pow(1.0 - math.pow(threshold, r), b))
  }

  /** EXACT edit-distance similarity self-join: every unordered pair of
    * documents whose normalized texts are within `maxDist` Levenshtein
    * edits, with the exact distance. The typo/OCR-variant dedup shape that
    * set-based similarity (Jaccard over shingles) only approximates —
    * reference `README.md:9` motivates skew-safe *equi* self-joins; this is
    * the same discipline applied to a metric join.
    *
    * '''Algorithm (segment blocking, after Li/Deng/Feng's PassJoin).'''
    * Never an all-pairs cross join:
    *
    *  1. Each document's normalized text of length `L ≥ d+1` splits into
    *     `d+1` contiguous near-even segments. Pigeonhole: if
    *     `ed(a, b) ≤ d` with `len(a) ≤ len(b)`, at least one of `a`'s
    *     `d+1` segments survives untouched by the ≤ d edits and appears
    *     in `b` *verbatim* — and since at most `d` edits precede it, at a
    *     start position shifted by at most `d`.
    *  2. The index leg emits each doc's `d+1` segments keyed by
    *     `(len, segIdx, segment)`; the probe leg emits, for each partner
    *     length `La ∈ [L−d, L]` and segment index, the substrings at the
    *     segment's position ± d — a *bounded* `(d+1)²(2d+1)` keys per doc
    *     (225 at d=4). Candidates are an equi-join on that composite key:
    *     selective (length + position + content), shuffle-partitioned,
    *     no quadratic stage.
    *  3. Docs shorter than `d+1` chars can have all segments edited, so
    *     they block by exact length instead (lengths `≤ 2d`; a short doc
    *     can only pair with docs within `d` of its length, so this leg is
    *     closed over the `≤ 2d` stratum).
    *  4. Dedup candidate pairs, then verify with the codegen'd *banded*
    *     `levenshtein(a, b, d)` (O(d·n) per pair, not O(n²)).
    *
    * The probe window `±d` is the provable superset of PassJoin's
    * multi-match-aware window — recall is structural, the oracle checks
    * exactness. At 100 TB the candidate join shuffles on high-entropy
    * `(length, segIdx, segment)` keys; degenerate identical-content keys
    * belong to exact dedup, which runs before any near-dup pass in the
    * pipeline (see [[exactDedup]]).
    *
    * Output: `(id_a, id_b, dist)` with `id_a < id_b`, `dist ∈ [0, d]`.
    */
  def editDistancePairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 4): DataFrame = {
    require(maxDist >= 1, s"maxDist must be at least 1: got $maxDist")
    val d = maxDist
    val nSeg = d + 1
    // one materialization of (id, normalized text, length); six consumers
    // (index, probe, two short legs, two verify attaches) — the
    // exactJaccardJoinSets house rule
    val base = graft.sources.Spread.spread(docs
        .filter(col(idCol).isNotNull)
        .select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), normalizeText(col("__text")).as("__t"))
      .withColumn("__len", length(col("__t")))
      // PINNED materialization (explicit-count keyed repartition): this
      // checkpointed frame's partitioning caps the parallelism of every
      // consumer — notably the probe-side broadcast BUILD, whose child
      // explodes (d+1)²(2d+1) combo rows per doc; AQE byte-coalescing of a
      // count-less repartition collapsed it to ONE task (measured r19:
      // 2.3 s single-task collect inside a 4.5 s query; pinned: 3.0 s
      // total). The sibling set-based families measurably do NOT want this
      // pin (their consumers are byte-proportional, and pinning them
      // regressed the LSH family ~30% — measured, reverted).
      .transform(graft.sources.Spread.pinParallel(_, col("id")))
      .localCheckpoint()

    // segment i of a length-La string: start i*q + min(i, r), width
    // q + (i<r), where q = La div (d+1), r = La mod (d+1) (1-based substr)
    def segStart(i: Column, q: Column, r: Column): Column =
      i * q + least(i, r) + lit(1)
    def segLen(i: Column, q: Column, r: Column): Column =
      q + when(i < r, lit(1)).otherwise(lit(0))

    val idx = base.filter(col("__len") >= nSeg)
      .withColumn("__q", expr(s"__len div $nSeg"))
      .withColumn("__r", col("__len") % nSeg)
      .select(col("id").as("id_a"),
        col("__len").as("__kl"),
        posexplode(transform(sequence(lit(0), lit(d)), i =>
          col("__t").substr(segStart(i, col("__q"), col("__r")),
            segLen(i, col("__q"), col("__r"))))).as(Seq("__ki", "__ks")))

    // (partnerLen delta, segIdx, shift) enumeration — a bounded literal
    // array, exploded per probe doc; every arithmetic step is a codegen'd
    // builtin over the exploded struct
    val combos = array((for {
      dl <- 0 to d; i <- 0 to d; sh <- -d to d
    } yield struct(lit(dl).as("dl"), lit(i).as("i"), lit(sh).as("sh"))): _*)
    val probe = base.filter(col("__len") >= nSeg)
      .select(col("id").as("id_b"), col("__t"), col("__len").as("__lb"),
        explode(combos).as("__c"))
      .withColumn("__kl", col("__lb") - col("__c.dl"))
      .filter(col("__kl") >= nSeg)
      .withColumn("__q", expr(s"__kl div $nSeg"))
      .withColumn("__r", col("__kl") % nSeg)
      .withColumn("__start",
        segStart(col("__c.i"), col("__q"), col("__r")) + col("__c.sh"))
      .withColumn("__slen", segLen(col("__c.i"), col("__q"), col("__r")))
      .filter(col("__start") >= 1 &&
        col("__start") + col("__slen") - 1 <= col("__lb"))
      .select(col("id_b"), col("__kl"), col("__c.i").as("__ki"),
        col("__t").substr(col("__start"), col("__slen")).as("__ks"))

    val mainCands = idx.join(probe, Seq("__kl", "__ki", "__ks"))
      .select(col("id_a"), col("id_b"))

    // short stratum: all-segments-editable lengths block by exact length;
    // |len(a)−len(b)| ≤ d keeps the stratum closed over lengths ≤ 2d
    val shortIdx = base.filter(col("__len") <= 2 * d)
      .select(col("id").as("id_a"), col("__len").as("__kl"))
    val shortProbe = base.filter(col("__len") <= 2 * d)
      .select(col("id").as("id_b"),
        explode(sequence(greatest(col("__len") - d, lit(0)),
          col("__len"))).as("__kl"))
    val shortCands = shortIdx.join(shortProbe, Seq("__kl"))
      .select(col("id_a"), col("id_b"))

    val cands = mainCands.unionByName(shortCands)
      .filter(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()

    // pin the verify stage's parallelism (same rationale as candidatePairs;
    // the banded levenshtein is the CPU-dense per-pair merge here)
    graft.sources.Spread.pinParallel(cands, col("id_a"))
      .join(base.select(col("id").as("id_a"), col("__t").as("__ta")), "id_a")
      .join(base.select(col("id").as("id_b"), col("__t").as("__tb")), "id_b")
      .withColumn("dist", levenshtein(col("__ta"), col("__tb"), d))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Transitive edit-distance dedup APPLY: connect [[editDistancePairs]]
    * matches into clusters (edit distance is not transitive — a chain of
    * ≤ d steps can span arbitrary total distance, which is exactly the
    * variant-family behavior a dedup wants) and keep the minimum-id doc
    * per cluster. Same keep policy and CC machinery as
    * [[dropNearDuplicatesTransitive]]. */
  def dropEditDuplicates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 4): DataFrame = {
    val pairs = editDistancePairs(docs, idCol, textCol, maxDist)
    val dropped = graft.operators.ConnectedComponents
      .connectedComponents(pairs, "id_a", "id_b")
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    docs.join(dropped, Seq(idCol), "left_anti")
  }
}
