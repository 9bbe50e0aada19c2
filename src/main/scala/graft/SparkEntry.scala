package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.skew.SkewJoin._
import graft.skew.SkewJoinConf
import graft.streaming.{RefreshableHotness, StreamOps}

/** Driver contract — one `queries` entry (+ oracle SQL where expressible) per
  * implemented operator from SURVEY.md §2.
  *
  * Oracle-safety conventions: aggregate outputs only sum integral-valued
  * doubles (`l_quantity`) or integers; non-integral doubles appear only under
  * order-independent min/max — so Spark and DuckDB results are bit-identical.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  // primary keys of the id-keyed tables — the bad-key fuzz family
  // (FuzzCorpus seeds ≤ -100) corrupts exactly these three columns
  private val pkOf = Map("documents" -> "doc_id", "embeddings" -> "vec_id",
    "events" -> "event_id")

  /** [[t]] + the opt-in primary-key gate ([[graft.sources.KeyContract]]):
    * queries whose SEMANTICS need the key contract (dedup tie-breaks, pair
    * enumeration, pack/shard order, id-hash splits, ANN ids, arrival
    * folds) read through here — a no-op by default (identical plan), and
    * under `graft.keycheck=strict` a bad ingest (NULL / duplicate ids)
    * fails loudly instead of silently mis-deduping. Queries whose output
    * is well-defined under duplicate keys keep using [[t]] — the bad-key
    * fuzz leg verifies THEM against the oracle unchecked. */
  private def tk(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.KeyContract.checked(t(spark, dir, name), pkOf(name))

  /** events with BOTH a nanos-long `ts_ns` (exact — matches DuckDB's
    * `epoch_ns(ts)` bit-for-bit) and a microsecond timestamp `ts`,
    * whichever physical type the fixture carries:
    *  - TIMESTAMP(NANOS) parquet (pre-round-9 fixtures) reads as a long
    *    under `spark.sql.legacy.parquet.nanosAsLong=true`; `ts` is its
    *    integer-DIV µs truncation (floor, the DuckDB TIMESTAMP_NS→µs rule —
    *    double division would round ~25% of values up one µs);
    *  - TIMESTAMP(MICROS) parquet (round-9 fixtures) reads as a proper
    *    timestamp; `ts_ns` is exactly `unix_micros·1000` = `epoch_ns`. */
  private def events(spark: SparkSession, dir: String): DataFrame =
    graft.sources.EventTime.withTsNs(t(spark, dir, "events"))

  /** [[events]] through the primary-key gate ([[tk]]): for event queries
    * whose semantics need `event_id` as a total order (asof/range ties,
    * attribution order, top-k tie-breaks). */
  private def eventsK(spark: SparkSession, dir: String): DataFrame =
    graft.sources.EventTime.withTsNs(tk(spark, dir, "events"))

  /** Strict-mode key gate for the STREAMING events source: a streaming
    * frame can't be aggregated at plan time, so the contract check runs
    * eagerly on a batch read of the same files, then hands the path to
    * the stream reader. Outside strict mode the batch read is never even
    * CONSTRUCTED — `spark.read.parquet` runs a schema-inference job, and
    * an unconditional read added one job/stage to the stream_lateness and
    * stream_throttle bench fingerprints (caught by the r17 closing
    * benchdiff; the gate must be invisible when off). */
  private def eventsPathK(spark: SparkSession, dir: String): String = {
    if (graft.sources.KeyContract.strict(spark))
      graft.sources.KeyContract.checked(t(spark, dir, "events"), "event_id")
    s"$dir/events.parquet"
  }

  /** Flagship: skew join lineitem ⋈ orders + aggregate. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("skewjoin_inner")(spark, "/root/testdata/sf0.001")

  // Tighter CMS (eps·N debias stays below real frequencies) and a larger
  // replication factor than the 1e-3 default, so the skew machinery actually
  // engages at test scale (hot keys have freq ~10..20 there, not 2000+).
  private val testConf = SkewJoinConf(CMSeps = 1e-4, replicationFactor = 0.5)

  /** Per-process scratch path for roundtrip/index queries: PID-namespaced
    * (concurrent runs can't clobber each other) AND deleted at JVM exit
    * (repeated runs can't accumulate in tmp until the disk fills). One
    * shutdown hook per distinct path, however often the query re-runs. */
  private val scratchRegistered = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def scratchPath(name: String): String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_${name}_${ProcessHandle.current.pid}"
    if (scratchRegistered.add(p))
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))))
    p
  }

  /** Typed rows for `skewjoin_typed` ([[graft.skew.SkewJoin.skewJoinWith]]
    * needs case-class encoders; join key carries one shared name). */
  case class TKCust(custkey: Long, c_name: String)
  case class TKOrd(custkey: Long, o_orderkey: Long, o_totalprice: Double)

  /** Near-dup pair set at the graph-audit parameters (32 hashes, 16
    * bands, 0.5), LSH lineage materialized ONCE — the shared input of the
    * graph_* audit queries (un-checkpointed, each consumer's unions/joins
    * re-plan the whole LSH pipeline: measured 299 static exchanges on the
    * assortativity shape, 9 after). */
  private def neardupPairs(s: SparkSession, dir: String): DataFrame =
    graft.llm.Dedup.minHashDedupPairs(
      tk(s, dir, "documents"), "doc_id", "text",
      numHashes = 32, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").localCheckpoint()

  /** Node degrees of an undirected pair list (both endpoints credited) —
    * one definition for every degree-consuming graph audit. */
  private def pairDegrees(pairs: DataFrame): DataFrame =
    pairs.select(col("id_a").as("node"))
      .unionAll(pairs.select(col("id_b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** The shared no-float floor-log2 bucket (`length(bin(c)) − 1`) of a
    * positive integral column, as a long. */
  private def floorLog2Bucket(c: String) =
    expr(s"cast(length(bin($c)) - 1 as bigint)")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          count(lit(1)).as("n_rows"),
          max("l_extendedprice").as("max_price"),
          min("l_discount").as("min_disc"))
    }),

    "skewjoin_inner" -> ((s, dir) => {
      val o = t(s, dir, "orders").withColumnRenamed("o_orderkey", "l_orderkey")
      t(s, dir, "lineitem")
        .skewJoin(o, Seq("l_orderkey"), "inner", testConf)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
    }),

    "skewjoin_left" -> ((s, dir) => {
      // ~0.4% of orders have no lineitems → the outer anti-union leg is live.
      val li = t(s, dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
      t(s, dir, "orders")
        .skewJoin(li, Seq("o_orderkey"), "left_outer", testConf)
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("n"),
          count(col("l_linenumber")).as("n_matched"),
          sum(col("l_quantity")).as("sum_qty"))
    }),

    "skewjoin_right" -> ((s, dir) => {
      val p = t(s, dir, "part").withColumnRenamed("p_partkey", "l_partkey")
      t(s, dir, "lineitem")
        .skewJoin(p, Seq("l_partkey"), "right_outer", testConf)
        .groupBy("p_size")
        .agg(
          count(lit(1)).as("n"),
          count(col("l_orderkey")).as("n_matched"),
          min(col("l_quantity")).as("min_qty"))
    }),

    "skewjoin_full" -> ((s, dir) => {
      val p = t(s, dir, "part").withColumnRenamed("p_partkey", "l_partkey")
      t(s, dir, "lineitem")
        .skewJoin(p, Seq("l_partkey"), "full_outer", testConf)
        .groupBy("p_brand")
        .agg(
          count(lit(1)).as("n"),
          count(col("l_orderkey")).as("n_left"),
          count(col("p_name")).as("n_right"))
    }),

    "skewjoin_multicol" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val a = li.select("l_orderkey", "l_linenumber", "l_quantity")
      val b = li.select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").as("b_price"))
      a.skewJoin(b, Seq("l_orderkey", "l_linenumber"), "inner", testConf)
        .agg(
          count(lit(1)).as("n"),
          sum("l_quantity").as("sum_qty"),
          max("b_price").as("max_price"))
    }),

    "skewjoin_semi" -> ((s, dir) => {
      val o = t(s, dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
      t(s, dir, "customer")
        .skewJoin(o, Seq("c_custkey"), "left_semi", testConf)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"))
    }),

    "skewjoin_anti" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
      t(s, dir, "orders")
        .skewJoin(li, Seq("o_orderkey"), "left_anti", testConf)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
    }),

    "bloom_join" -> ((s, dir) => {
      // semi-join reduction: bloom over urgent orders' keys prunes lineitem
      // at the scan, before the shuffle; the exact join removes the bloom's
      // false positives, so the result equals the plain join exactly
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
      graft.sketch.BloomOps.bloomPrefilteredJoin(
        t(s, dir, "lineitem"), urgent, Seq("l_orderkey"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
    }),

    "bucketed_join" -> ((s, dir) => {
      // pay the shuffle once at write time: both sides land bucketed by the
      // join key, then the join itself plans with no exchange (PlanSpec pins
      // the shuffle-free shape). The timed query includes the writes — the
      // cost model a pipeline amortizes over every later join.
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_quantity", "l_extendedprice")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      val lb = graft.sources.BucketedTables.writeBucketed(
        li, "graft_b_lineitem", Seq("l_orderkey"), 8)
      val ob = graft.sources.BucketedTables.writeBucketed(
        o, "graft_b_orders", Seq("l_orderkey"), 8)
      lb.join(ob, Seq("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"),
          max("l_extendedprice").as("max_price"))
    }),

    "q3_top_orders" -> ((s, dir) => {
      // joins + agg + deterministic top-k. Distributed TakeOrderedAndProject
      // does the top-10 (no global-window single-task sort); the rank window
      // then runs over just 10 rows.
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders").withColumnRenamed("o_orderkey", "l_orderkey")
      val top = t(s, dir, "lineitem")
        .join(o, Seq("l_orderkey"))
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(sum("l_quantity").as("sum_qty"))
        .orderBy(col("sum_qty").desc, col("l_orderkey"))
        .limit(10)
      val w = Window.orderBy(col("sum_qty").desc, col("l_orderkey"))
      top.withColumn("rank", row_number().over(w).cast("long"))
    }),

    "q5_star_join" -> ((s, dir) => {
      // four-way star join: Catalyst broadcast-chains the small dims
      // (customer→nation→region) under the one big fact shuffle
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_items"), sum("l_quantity").as("sum_qty"))
    }),

    "q1_rollup" -> ((s, dir) => {
      // multi-level aggregation in one pass (rollup → grouping sets)
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"), sum("l_quantity").as("sum_qty"))
    }),

    "q1_cube" -> ((s, dir) => {
      // the full grouping-sets lattice in one pass (cube = rollup plus the
      // cross margins); Catalyst plans one Expand + one hash aggregate
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"), sum("l_quantity").as("sum_qty"))
    }),

    "q_set_ops" -> ((s, dir) => {
      // multiset set-operator surface: EXCEPT ALL and INTERSECT ALL keep
      // multiplicity (a customer with three 'O' orders and one 'F' order
      // contributes twice to the except, once to the intersect) — both
      // plan as aggregate+generate over (value, count), one shuffle each,
      // never a row-by-row anti/semi join
      val o = t(s, dir, "orders")
      val a = o.filter(col("o_orderstatus") === "O").select("o_custkey")
      val b = o.filter(col("o_orderstatus") === "F").select("o_custkey")
      a.exceptAll(b).withColumn("op", lit("except_all"))
        .unionAll(a.intersectAll(b).withColumn("op", lit("intersect_all")))
    }),

    "q1_grouping_sets" -> ((s, dir) => {
      // explicit GROUPING SETS lattice — finer than cube/rollup: exactly
      // ((flag,status),(flag),()) — still one Expand + one aggregate;
      // grouping_id() disambiguates a NULL data value from an ALL margin
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n_rows"),
          sum("l_quantity").as("sum_qty"))
    }),

    "events_pivot" -> ((s, dir) => {
      // wide per-user activity features: one row per user, one counter per
      // event type. The explicit value list keeps the output schema static —
      // no distinct-values pre-job, and the plan is a single hash aggregate
      // over conditional counts at any scale. Absent combinations are 0, not
      // null (matching SQL's FILTER-count semantics).
      events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        // fill ONLY the pivoted counters — an unscoped fill would also
        // rewrite a NULL user_id key to 0, silently merging the NULL-key
        // group into user 0 (r15 differential fuzz finding)
        .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
    }),

    "csv_roundtrip" -> ((s, dir) => {
      // interchange sink/source: corpus metadata → CSV → back under the
      // original schema, aggregated to prove values survive the typeless
      // format exactly
      val docs = t(s, dir, "documents").select("doc_id", "lang", "source", "n_chars")
      graft.sources.Formats.csvRoundTrip(docs,
        scratchPath("csv"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"),
          sum("n_chars").as("sum_chars"))
    }),

    "zorder_key" -> ((s, dir) => {
      // multi-dimensional layout key: interleave 6 bits of p_size with 6
      // bits of (p_partkey mod 64) — pure codegen'd bit arithmetic; the
      // layout itself (range-partition + sort by this key) is spec-tested
      // NULL dimensions are placed at cell 0 EXPLICITLY (the NULLS-FIRST
      // analogue for a layout key): zValue itself raises on NULL by
      // contract, so the placement decision stays visible at the call site
      val z = graft.operators.ZOrder.zValue(
        Seq(coalesce(col("p_size"), lit(0)), pmod(col("p_partkey"), lit(64))),
        bits = 6)
      t(s, dir, "part").select(col("p_partkey"), z.as("z"))
    }),

    "vocab_top" -> ((s, dir) => {
      // vocabulary construction: top-100 corpus tokens by occurrence count
      // (ties by token text), with document frequencies; the top-k runs as
      // TakeOrderedAndProject — per-partition heaps, no global sort
      graft.llm.Vocab.topTokens(t(s, dir, "documents"), "doc_id", "text", k = 100)
    }),

    "bpe_pairs" -> ((s, dir) => {
      // BPE training inner loop: adjacent character-pair counts weighted by
      // word frequency over the distinct-word table; top-20 = the first
      // merge candidates
      graft.llm.Vocab.bpePairCounts(t(s, dir, "documents"), "text", k = 20)
    }),

    "bpe_train" -> ((s, dir) => {
      // the full BPE training loop: three adopted merges over the corpus
      // word histogram — the learned tokenizer model head
      graft.llm.Vocab.bpeTrainMerges(t(s, dir, "documents"), "text", numMerges = 3)
    }),

    "bpe_encode" -> ((s, dir) => {
      // train → encode round trip: the learned merge table (a KB-scale
      // model parameter, collected like the k-means centroids) applied
      // back over the corpus; per-doc word/symbol counts measure the
      // tokenizer's compression
      val docs = t(s, dir, "documents")
      val merges = graft.llm.Vocab
        .bpeTrainMerges(docs, "text", numMerges = 3)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.llm.Vocab.bpeEncode(docs, "doc_id", "text", merges)
    }),

    "bpe_fertility" -> ((s, dir) => {
      // tokenizer-efficiency audit per language: BPE symbols per word in
      // exact ppm — the fertility number that decides whether a tokenizer
      // is fair across languages before mixing quotas assume it is
      val docs = t(s, dir, "documents")
      val merges = graft.llm.Vocab
        .bpeTrainMerges(docs, "text", numMerges = 3)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.llm.Vocab.bpeEncode(docs, "doc_id", "text", merges)
        .join(docs.select("doc_id", "lang"), Seq("doc_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_words").as("n_words"), sum("n_symbols").as("n_symbols"))
        .withColumn("symbols_per_word_ppm", expr(
          "(cast(n_symbols as decimal(38,0)) * 1000000) div n_words"))
    }),

    "vocab_oov" -> ((s, dir) => {
      // vocabulary coverage: per-doc OOV rate against the corpus's own
      // top-100 vocabulary (output bounded to the first 50 docs)
      val docs = t(s, dir, "documents")
      val vocab = graft.llm.Vocab.topTokens(docs, "doc_id", "text", k = 100)
      graft.llm.Vocab.oovCounts(
        docs.filter(col("doc_id") < 50), "doc_id", "text", vocab)
    }),

    "corpus_mix" -> ((s, dir) => {
      // data-diet mixing: two provenance-tagged corpora resampled at exact
      // binary fractions (0.25 / 0.75 — exact in IEEE, so the hash cutoffs
      // replay identically in SQL), membership a pure function of doc_id
      val docs = t(s, dir, "documents")
      val headSrcs = (0 to 9).map("src" + _)
      val head = docs.filter(col("source").isin(headSrcs: _*))
      val tail = docs.filter(!col("source").isin(headSrcs: _*))
      graft.llm.Sampling
        .mixCorpora(Seq(("head", head, 0.25), ("tail", tail, 0.75)), "doc_id")
        .groupBy("corpus", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))
    }),

    "skew_collect" -> ((s, dir) => {
      // holistic skew-safe aggregation: per-language sorted doc-id roster via
      // the two-stage salted collect (stage 1 spreads a hot language over 32
      // reducers); stringified for the oracle compare
      graft.operators.SkewAgg
        .sortedListAgg(t(s, dir, "documents"), Seq("lang"), "doc_id")
        .select(col("lang"),
          array_join(transform(col("values"), _.cast("string")), ",").as("doc_ids"),
          col("n_values"))
    }),

    "skew_distinct" -> ((s, dir) => {
      // exact distinct users per event type via the explicit two-stage
      // (key,value) dedup shape — the scale-safe form of count(DISTINCT)
      graft.operators.SkewAgg
        .countDistinctExact(events(s, dir), Seq("event_type"), "user_id")
    }),

    "events_mode" -> ((s, dir) => {
      // per-type modal user: two-stage counts then an algebraic min over
      // struct(-count, value) — deterministic tie-break, no per-key list
      graft.operators.SkewAgg
        .modePerKey(events(s, dir), Seq("event_type"), "user_id")
    }),

    "events_rolling" -> ((s, dir) => {
      // per-user ordered features: previous event's value + rolling 3-row
      // min/max (order statistics — exact doubles, engine-portable)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts_ns")
      val w3 = w.rowsBetween(-3, Window.currentRow)
      events(s, dir)
        .filter(col("user_id") < 500)
        .select(col("event_id"), col("user_id"),
          lag("value", 1).over(w).as("prev_value"),
          min("value").over(w3).as("roll_min"),
          max("value").over(w3).as("roll_max"))
    }),

    "events_rolling_range" -> ((s, dir) => {
      // TIME-based rolling features (RANGE frame over the µs axis, not N
      // rows): events and max value in each event's trailing hour — the
      // rate-limiter/abuse-counter shape; a range frame bounds the state
      // by TIME whatever the event rate, where a row frame silently
      // changes meaning with density
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir).filter(col("user_id") < 500)
        .select(col("event_id"), col("user_id"),
          expr("ts_ns DIV 1000").as("ts_us"), col("value"))
      val w = Window.partitionBy("user_id").orderBy("ts_us")
        .rangeBetween(-3600L * 1000 * 1000, Window.currentRow)
      ev.select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_hour"),
        max("value").over(w).as("max_hour"))
    }),

    "cms_heavyhitters" -> ((s, dir) => {
      // sketch-prefiltered exact heavy hitters: CMS never undercounts, so the
      // estimate>=T filter keeps every true heavy key; the exact re-count
      // drops sketch overcounts — output is exactly the keys with freq >= 8.
      val li = t(s, dir, "lineitem")
      val cms = graft.sketch.CmsOps.cmsOf(
        li, col("l_orderkey").cast("string"), eps = 1e-4, delta = 1e-8, seed = 1)
      val bc = s.sparkContext.broadcast(cms)
      val estimate = udf((k: String) => bc.value.estimateCount(k))
      li.filter(estimate(col("l_orderkey").cast("string")) >= 8)
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 8)
    }),

    "approx_distinct_kmv" -> ((s, dir) => {
      // KMV distinct-count sketch: per event type, estimate distinct users
      // from the 16 smallest value hashes — k longs per group instead of a
      // full distinct shuffle of every user id
      graft.sketch.KmvOps.kmvDistinct(
        events(s, dir), Seq("event_type"), "user_id", k = 16)
    }),

    "approx_distinct_hll" -> ((s, dir) => {
      // HLL register sketch per event type: distinct users from 64
      // one-byte registers (vs KMV's 16 longs) — the mergeable default
      // for streaming distinct counts; integer-exact estimator, raw HLL
      // branch only (see HllOps scaladoc)
      graft.sketch.HllOps.hllEstimate(
        events(s, dir), Seq("event_type"), "user_id", p = 6)
    }),

    "hll_overlap" -> ((s, dir) => {
      // audience overlap from register sketches alone: union = elementwise
      // max (HLL's defining mergeability), intersection by
      // inclusion–exclusion — never re-scans raw events per pair
      graft.sketch.HllOps.hllSetEstimates(
        events(s, dir), "event_type", "user_id", p = 6)
    }),

    "events_trend" -> ((s, dir) => {
      // per-type metric drift: exact fixed-point OLS slope of the value
      // (micro-units) over event time (seconds since 2024-01-01) — one
      // map-side-combined groupBy, no sort, no regression library
      graft.operators.Trend.groupedTrend(
        events(s, dir), Seq("event_type"),
        x = expr("ts_ns div 1000000000 - 1704067200"),
        y = expr("cast(floor(value * 1000000.0) as long)"))
    }),

    "events_theilsen" -> ((s, dir) => {
      // robust per-type trend: Theil–Sen median of pairwise slopes over
      // the DAILY metric-mass grid — outlier days can't move it, unlike
      // events_trend's OLS; the O(grid²) pair stage runs on the
      // #types × #days frame, never on raw events
      graft.operators.Trend.theilSenTrend(
        events(s, dir), Seq("event_type"),
        x = expr("ts_ns div 86400000000000"),
        y = expr("cast(floor(value * 1000000.0) as long)"))
    }),

    "events_ewma" -> ((s, dir) => {
      // the level tracker beside events_trend/theilsen's slopes: integer
      // EWMA (α = 1/4) over the daily metric-mass grid — per-step
      // truncation doesn't telescope, so the oracle replays the exact
      // recurrence as a recursive CTE; the Spark side folds it per group
      // with one codegen'd higher-order aggregate (no window, no UDF)
      graft.operators.Trend.ewmaIntSeries(
        events(s, dir), Seq("event_type"),
        x = expr("ts_ns div 86400000000000"),
        y = expr("cast(floor(value * 1000000.0) as long)"))
    }),

    "events_throttle" -> ((s, dir) => {
      // greedy cooldown dedup: per (user, type) keep an event iff ≥ 10
      // minutes since the last KEPT one — the retry-burst / notification
      // policy. NOT sessionization: the anchor is the last kept row, so a
      // steady sub-cooldown drizzle still yields one kept row per window
      graft.operators.Sessionize.throttle(
        eventsK(s, dir).select(col("user_id"), col("event_type"),
          col("event_id"), expr("ts_ns DIV 1000").as("ts_us")),
        Seq("user_id", "event_type"), "ts_us", "event_id",
        cooldown = 10L * 60 * 1000 * 1000)
    }),

    "stream_ewma" -> ((s, dir) => {
      // the live face of events_ewma: state is the (bounded) day grid
      // itself, re-smoothed per update — exact batch equality under ANY
      // arrival order; converged (max update_seq) row per type must equal
      // the batch series' final row bit-for-bit
      val out = StreamOps.runToMemory(s,
        StreamOps.ewmaUpdates(
          StreamOps.eventsStream(s, s"$dir/events.parquet"),
          "event_type",
          x = expr("ts_ns div 86400000000000"),
          y = expr("cast(floor(value * 1000000.0) as long)")),
        "graft_stream_ewma", outputMode = "update")
      StreamOps.converged(out, "event_type")
    }),

    "theilsen_even_median" -> ((s, dir) => {
      // gates the documented even-pair-count convention (Trend.scala):
      // 5 nations per region → C(5,2) = 10 pairwise slopes (EVEN) — the
      // lower-middle pick (rn 5 of 10) must replay in the oracle; an
      // average-of-the-two-middles "median" would hash-mismatch here
      graft.operators.Trend.theilSenTrend(
        t(s, dir, "nation"), Seq("n_regionkey"),
        x = col("n_nationkey"),
        y = length(col("n_name")))
    }),

    "length_ks" -> ((s, dir) => {
      // cross-source distribution-shift audit: pairwise two-sample KS
      // distance over document lengths in exact integer ppm — flags a
      // source whose length distribution drifted before quality scores do
      graft.operators.RobustStats.ksPairwise(
        t(s, dir, "documents"), "source", "n_chars")
    }),

    "quality_pct_rank" -> ((s, dir) => {
      // cross-source score calibration: raw scores aren't comparable
      // across sources, their in-source percentiles are — tag each doc
      // with its in-source length percentile (ppm), then one global
      // threshold works; range-partitioned rank, no per-source sort task
      graft.operators.GroupedRank.withGroupPercentile(
        tk(s, dir, "documents").select("doc_id", "source", "n_chars"),
        Seq("source"), Seq(col("n_chars"), col("doc_id")))
    }),

    "source_gini" -> ((s, dir) => {
      // per-source concentration audit: Gini index of document lengths in
      // exact integer arithmetic — flags a source whose token mass hides
      // in a few huge documents before sampling quotas trust doc counts
      graft.operators.RobustStats.giniIndex(
        t(s, dir, "documents"), Seq("source"), "n_chars", "doc_id")
    }),

    "vocab_coverage" -> ((s, dir) => {
      // tokenizer-sizing curve: corpus token coverage of the top-k vocab
      // at k = 8/16/32, ONE conditional aggregate for the whole curve
      graft.llm.Vocab.coverageCurve(
        t(s, dir, "documents"), "text", Seq(8, 16, 32))
    }),

    "corpus_interleave" -> ((s, dir) => {
      // deterministic round-robin serving order across four sources:
      // positions cycle src0,src1,src2,src3,src0,… with a seeded hash
      // shuffle inside each source — reproducible epoch order, no
      // single-task sort anywhere
      graft.llm.Sampling.interleaveSources(
        tk(s, dir, "documents").select("doc_id", "source"),
        "doc_id", "source", Seq("src0", "src1", "src2", "src3"), salt = ":7")
    }),

    "embed_norm" -> ((s, dir) => {
      // embedding health per label: quantized squared-norm stats — zero
      // vectors (dead encoder) and exploding norms (bad batch) surface as
      // min/max outliers; per-row floor quantization keeps every number
      // exact-integer and order-independent
      t(s, dir, "embeddings")
        .withColumn("q", expr(
          "aggregate(transform(cast(embedding as array<double>), " +
            "x -> cast(floor(x * x * 16777216.0) as bigint)), 0L, (a, x) -> a + x)"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"), min("q").as("min_q"),
          max("q").as("max_q"), sum("q").as("sum_q"))
    }),

    "embed_gram" -> ((s, dir) => {
      // covariance/whitening audit input: the d×d quantized Gram matrix
      // in ONE bounded-state aggregate pass (16 KB of state per
      // partition), never the d²-fold posexplode shuffle; per-row floor
      // quantization keeps the sum order-independent → exact integers
      graft.llm.Quantize.gramMatrix(
        t(s, dir, "embeddings"), "embedding", dim = 64)
    }),

    "embed_drift" -> ((s, dir) => {
      // integer-exact embedding drift monitor: even vs odd vec_ids play
      // two corpus snapshots; per label, fixed-point per-dimension mean
      // movement (ppm units) — division-before-multiplication keeps every
      // intermediate in int64 at ANY corpus size, and the 127·n shift
      // aligns Spark's truncating div with DuckDB's flooring //
      val emb = t(s, dir, "embeddings")
      graft.llm.Quantize.embeddingDrift(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1),
        "label", "embedding")
    }),

    "approx_overlap_kmv" -> ((s, dir) => {
      // audience overlap from sketches alone: per event-type pair, union
      // and intersection distinct-user estimates off the k-min arrays —
      // the raw corpus is scanned once to build #groups sketches, every
      // pairwise question after that is array math on k longs
      val sk = graft.sketch.KmvOps.kmvSketch(
        events(s, dir), Seq("event_type"), "user_id", k = 16)
      graft.sketch.KmvOps.kmvSetEstimates(sk, "event_type", "kmv_sketch", k = 16)
    }),

    "approx_distinct_rollup" -> ((s, dir) => {
      // sketch-TABLE rollup: per-(event_type, day) KMV sketches (the
      // persistable k-longs form) merged up to event_type — the k-min-of-
      // union merge is the KMV monoid, so the rolled-up estimate must
      // equal sketching the union directly; the oracle is
      // approx_distinct_kmv's replay VERBATIM, which is the point
      val ev = events(s, dir)
        .withColumn("day", expr("ts_ns DIV 86400000000000"))
      val daily = graft.sketch.KmvOps.kmvSketch(
        ev, Seq("event_type", "day"), "user_id", k = 16)
      graft.sketch.KmvOps.kmvMergeDistinct(
        daily, Seq("event_type"), "kmv_sketch", k = 16)
    }),

    "dedup_exact" -> ((s, dir) => {
      val docs = tk(s, dir, "documents")
        .withColumn("__norm", graft.llm.TextStats.normalizeText(col("text")))
      graft.llm.Dedup.exactDedup(docs, Seq("__norm"), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n"))
    }),

    "dedup_minhash" -> ((s, dir) => {
      // 32 hashes / 16 bands of 2: detect prob at j=0.5 is 1-(1-0.25)^16≈0.99,
      // and the observed near-dups sit at j>=0.8 (miss prob ~1e-7) — so the
      // LSH recall is exact on this data and the exact-Jaccard oracle holds.
      graft.llm.Dedup.minHashDedupPairs(
        tk(s, dir, "documents"), "doc_id", "text",
        numHashes = 32, bands = 16, threshold = 0.5)
    }),

    "source_lang_mix" -> ((s, dir) => {
      // mixing-table input: the source × language composition with exact
      // in-source share ppm — the matrix a language-balanced sampling
      // policy reads before trusting per-source quotas
      val docs = t(s, dir, "documents")
      val counts = docs.groupBy("source", "lang").agg(count(lit(1)).as("n"))
      val totals = counts.groupBy("source").agg(sum("n").as("__st"))
      counts.join(broadcast(totals), Seq("source"))
        .withColumn("share_ppm", expr("(n * 1000000) div __st"))
        .select("source", "lang", "n", "share_ppm")
    }),

    "dup_rate_by_source" -> ((s, dir) => {
      // per-source duplication accounting: how much of each source is
      // involved in ≥1 near-dup pair — the number that says whether a
      // source's row count can be trusted before dedup
      val docs = tk(s, dir, "documents")
      // localCheckpoint: the id_a and id_b union legs would otherwise each
      // re-run the whole LSH pair pipeline (pruning breaks reuse); the
      // pair set is output-scale, the right thing to materialize
      val pairs = graft.llm.Dedup.minHashDedupPairs(
        docs, "doc_id", "text", numHashes = 32, bands = 16, threshold = 0.5)
        .select("id_a", "id_b").localCheckpoint()
      val dupIds = pairs.select(col("id_a").as("doc_id"))
        .union(pairs.select(col("id_b").as("doc_id"))).distinct()
      docs.select("doc_id", "source")
        .join(dupIds.withColumn("__dup", lit(1L)), Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("__dup"), lit(0L))).as("n_dup"))
        .withColumn("dup_ppm", expr("(n_dup * 1000000) div n_docs"))
    }),

    "dedup_cross_source" -> ((s, dir) => {
      // contamination-direction evidence: the near-dup pair matrix by
      // source pair (within-source dups = crawl noise; cross-source dups =
      // syndication/mirroring you must dedup BEFORE mixing quotas trust
      // per-source counts). Pairs from the LSH path; two broadcast-able
      // doc→source lookups, never a second corpus pass
      val docs = tk(s, dir, "documents")
      val pairs = graft.llm.Dedup.minHashDedupPairs(
        docs, "doc_id", "text", numHashes = 32, bands = 16, threshold = 0.5)
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id_a"), col("source").as("__sa")),
          Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"), col("source").as("__sb")),
          Seq("id_b"))
        .select(least(col("__sa"), col("__sb")).as("src_a"),
          greatest(col("__sa"), col("__sb")).as("src_b"))
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("n_pairs"))
    }),

    "lsh_plan" -> ((s, dir) => {
      // the banding planner's full parameter sweep as a table: 19 target
      // thresholds × 3 signature sizes, each row the (bands, rowsPerBand)
      // split lshPlan picks. Driver-side model math (like the k-means
      // codebooks) — the DuckDB oracle replays the argmin over divisor
      // splits in its own log arithmetic; the 0.05 threshold grid sits
      // ≥9e-4 from every decision boundary, so last-ulp libm differences
      // can never flip a pick. Integer output columns only.
      import s.implicits._
      // extremes (1%, 2%, 97.5%, 99%) gate the planner where the log-space
      // fit is most fragile: the picks degenerate to (nh,1)/(1,nh) splits,
      // and every added point sits ≥1.5e-3 in log space from the nearest
      // split-flip boundary, so libm last-ulp noise cannot flip a pick
      val rows = for {
        nh <- Seq(16, 32, 64)
        tp <- Seq(10000, 20000) ++ (1 to 19).map(_ * 50000) ++ Seq(975000, 990000)
      } yield {
        val p = graft.llm.Dedup.lshPlan(tp / 1e6, nh)
        (tp.toLong, nh.toLong, p.bands.toLong, p.rowsPerBand.toLong)
      }
      rows.toDF("threshold_ppm", "num_hashes", "bands", "rows_per_band")
    }),

    "dedup_embedding" -> ((s, dir) => {
      graft.llm.Dedup.embeddingDedupPairs(
        t(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.45)
        .select("id_a", "id_b")
    }),

    "dedup_simhash" -> ((s, dir) => {
      // portable 60-bit md5-based hash instead of xxhash64 so the ENTIRE
      // simhash pipeline (token hash → bit majority → hamming pairs) is
      // bit-identically replicable in the DuckDB oracle
      graft.llm.Dedup.simHashDedupPairs(
        t(s, dir, "documents"), "doc_id", "text", maxHamming = 3,
        hashFn = graft.llm.Dedup.portableTokenHash, numBits = 60)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
    }),

    "dedup_ngram" -> ((s, dir) => {
      // word-3-gram Jaccard near-dup at rational threshold 3/10 — the
      // EXACT prefix-filtered AllPairs operator, not LSH: at t = 0.3 a
      // 16-band/32-hash minhash misses a boundary pair with probability
      // (1 - t²)^16 ≈ 22%, and the r15 seed-2 fuzz corpus caught exactly
      // such a miss at J = 1/3. LSH owns the ≥ 0.5 regime
      // (dedup_minhash, where the boundary miss rate is ≤ 1% and
      // documented); the low-threshold regime needs the deterministic
      // operator to honor an all-pairs oracle.
      graft.llm.Dedup.exactJaccardJoin(
        tk(s, dir, "documents"), "doc_id", "text",
        tNum = 3, tDen = 10, ngram = 3)
        .withColumn("jaccard",
          col("n_intersect").cast("double") / col("n_union"))
        .select("id_a", "id_b", "jaccard")
    }),

    "dedup_index_probe" -> ((s, dir) => {
      // incremental near-dup: 80% of the corpus builds a persisted MinHash
      // index (signed once, oversized buckets dropped at build), the other
      // 20% probes it as the "daily fresh slice" — pairs verified with the
      // exact shingle Jaccard against the index's stored sets
      val docs = tk(s, dir, "documents")
      val path = scratchPath("mhidx")
      graft.llm.Dedup.writeMinHashIndex(
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", path)
      graft.llm.Dedup.probeMinHashIndex(
        docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", path,
        threshold = 0.5)
    }),

    "dedup_paragraphs" -> ((s, dir) => {
      // repeated-passage removal: every 20-token block kept only at its
      // first corpus occurrence, documents rebuilt from surviving blocks
      graft.llm.Dedup.dropDuplicateParagraphs(
        tk(s, dir, "documents"), "doc_id", "text")
    }),

    "boilerplate_strip" -> ((s, dir) => {
      // corpus-frequency boilerplate removal: a deterministic banner is
      // prepended to every third document (synthetic corpus has no real
      // chrome), then every 5-token block present in > 10% of documents is
      // stripped from ALL documents — the CCNet/RefinedWeb cleaning step
      val aug = tk(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(lit("subscribe to our newsletter today "), col("text")))
          .otherwise(col("text")))
      graft.llm.Dedup.stripBoilerplateBlocks(
        aug, "doc_id", "text", blockTokens = 5, maxDocFraction = 0.1)
    }),

    "quality_model_score" -> ((s, dir) => {
      // fasttext-style hashed linear model; the weight table is a model
      // parameter (synthetic fixed weights here), inlined as a literal on
      // both engines — scoring is one codegen'd narrow map, no shuffle
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.llm.TextStats.hashedLinearScore(col("text"), OracleSql.qualityModelWeights)
            .as("score"))
        .withColumn("keep", col("score") > 0.0)
    }),

    "model_calibration" -> ((s, dir) => {
      // reliability diagram of the cheap hashed-linear model against the
      // Gopher rule verdict: integer micro-score bins (no float edges),
      // rule-pass rate per bin in ppm — one narrow pass, one aggregate
      val flagged = graft.llm.TextStats.gopherFlags(
        t(s, dir, "documents").select("doc_id", "text"), "text")
      flagged
        .select(col("keep"),
          graft.llm.TextStats.hashedLinearScoreMicro(col("text"), OracleSql.qualityModelWeights)
            .as("micro"))
        .withColumn("bin", expr("(micro + 10000000000) DIV 2000000"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
        .select((col("bin") * 2000000L - 10000000000L).as("bin_lo_micro"),
          col("n_docs"), col("n_keep"),
          expr("(n_keep * 1000000) DIV n_docs").as("keep_ppm"))
    }),

    "pii_redact" -> ((s, dir) => {
      // the corpus carries no PII, so deterministic synthetic PII is
      // injected IN the query (same construction in the oracle) — the
      // pattern matching is what's under test, and it runs on real text
      val aug = when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact u"),
            col("doc_id").cast("string"), lit("@example.com now")))
        .when(col("doc_id") % 7 === 1,
          concat(col("text"), lit(" call 555-867-5309 today")))
        .when(col("doc_id") % 7 === 2,
          concat(col("text"), lit(" from 10.0.0."),
            (col("doc_id") % 256).cast("string")))
        .otherwise(col("text"))
      graft.llm.PiiRedact.redactWithCounts(
        t(s, dir, "documents").select(col("doc_id"), aug.as("text")),
        "doc_id", "text")
    }),

    "select_budget" -> ((s, dir) => {
      // token-budget corpus selection: best documents by (quality score,
      // id) until 20k tokens — global-rank + distributed prefix sum, no
      // single-task sort or window anywhere in the plan
      // NULL-text docs carry no token count and cannot enter a token
      // budget — excluded here and in the oracle (degenerate-profile pin)
      val docs = t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .withColumn("n_tokens",
          size(graft.llm.TextStats.tokens(
            graft.llm.TextStats.normalizeText(col("text")))).cast("long"))
      graft.llm.Sampling.selectByTokenBudget(
        docs, "n_chars", "doc_id", "n_tokens", budget = 20000L)
        .select("doc_id", "n_chars", "n_tokens")
    }),

    "corpus_shuffle" -> ((s, dir) => {
      // deterministic seeded global shuffle for training order: a portable
      // md5-derived sort key (engine-identical) ranked by the distributed
      // GroupedRank with NO groups — no single-task global sort, result
      // reproducible across engines, partitionings, and cluster sizes
      val key = conv(substring(md5(
        concat(col("doc_id").cast("string"), lit(":42"))), 1, 15), 16, 10)
        .cast("long")
      graft.operators.GroupedRank.withGroupRank(
        tk(s, dir, "documents").withColumn("__shuffle_key", key),
        Seq(), Seq(col("__shuffle_key"), col("doc_id")), "shuffle_rank")
        .select(col("doc_id"), col("shuffle_rank"))
    }),

    "dedup_apply" -> ((s, dir) => {
      // corpus-level near-dedup: the surviving documents, aggregated per
      // lang so the oracle compares a stable shape
      graft.llm.Dedup.dropNearDuplicates(
        tk(s, dir, "documents"), "doc_id", "text",
        numHashes = 32, bands = 16, threshold = 0.5)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))
    }),

    "dedup_apply_cc" -> ((s, dir) => {
      // transitive apply: one surviving representative per duplicate
      // CLUSTER (vs dedup_apply's pairwise id_b-drop policy)
      graft.llm.Dedup.dropNearDuplicatesTransitive(
        tk(s, dir, "documents"), "doc_id", "text",
        numHashes = 32, bands = 16, threshold = 0.5)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))
    }),

    "dedup_edit_apply" -> ((s, dir) => {
      // edit-distance dedup applied end-to-end: PassJoin pairs → connected
      // components (edit distance is not transitive; chains of ≤4-edit
      // steps form the variant family) → keep min-id per cluster
      graft.llm.Dedup.dropEditDuplicates(
        tk(s, dir, "documents"), "doc_id", "text", maxDist = 4)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))
    }),

    "corpus_profile" -> ((s, dir) => {
      // the dataset-datasheet rollup: per (source, lang) — doc count, char
      // and token mass, and Gopher-filter pass count; one map-side-combined
      // pass over the corpus, integer aggregates only
      val docs = t(s, dir, "documents")
      graft.llm.TextStats.gopherFlags(docs, "text")
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("n_chars_total"),
          sum(graft.llm.TextStats.tokenCount(col("text")).cast("long"))
            .as("n_tokens_total"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_quality_pass"))
    }),

    "dedup_apply_priority" -> ((s, dir) => {
      // priority-aware transitive apply: each duplicate cluster keeps its
      // LONGEST member (ties to the smaller id) — keep-the-best-copy
      // canonicalization, vs dedup_apply_cc's smallest-id representative
      val docs = tk(s, dir, "documents")
      val pairs = graft.llm.Dedup.minHashDedupPairs(
        docs, "doc_id", "text", numHashes = 32, bands = 16, threshold = 0.5)
      graft.llm.Dedup.dropNearDuplicatesByPriority(
        docs, "doc_id", "n_chars", pairs)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))
    }),

    "dedup_groups" -> ((s, dir) => {
      // transitive near-dup clusters: LSH pair generation → distributed
      // connected components (large-star/small-star); component = smallest
      // doc id reachable through any chain of near-dup pairs
      val pairs = graft.llm.Dedup.minHashDedupPairs(
        tk(s, dir, "documents"), "doc_id", "text",
        numHashes = 32, bands = 16, threshold = 0.5)
        .select("id_a", "id_b")
      graft.operators.ConnectedComponents.connectedComponents(pairs)
        .select(col("node").as("doc_id"), col("component"))
    }),

    "dedup_cluster_sizes" -> ((s, dir) => {
      // dedup QA histogram: how big are the near-dup clusters? (size → how
      // many clusters that size) — the one-glance audit that catches a
      // boilerplate-driven mega-cluster before the apply pass destroys a
      // corpus; two map-side-combined aggregates over the CC assignment
      val pairs = graft.llm.Dedup.minHashDedupPairs(
        tk(s, dir, "documents"), "doc_id", "text",
        numHashes = 32, bands = 16, threshold = 0.5)
        .select("id_a", "id_b")
      graft.operators.ConnectedComponents.connectedComponents(pairs)
        .groupBy("component").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
    }),

    "dedup_cluster_quality" -> ((s, dir) => {
      // dedup QA, similarity grain: per cluster size — how many clusters,
      // how many verified pairs, and the min/avg pair Jaccard in exact ppm
      // (floor of the same IEEE double both engines compute). Validates the
      // 0.5 threshold: a size bucket whose min_j_ppm hugs the threshold is
      // chaining, one far above it is true duplication. The pair frame is
      // near-dup-sized — localCheckpointed once for its two consumers (CC
      // edges + the quality rollup), per the bounded-frame checkpoint rule
      val pairs = graft.llm.Dedup.minHashDedupPairs(
        tk(s, dir, "documents"), "doc_id", "text",
        numHashes = 32, bands = 16, threshold = 0.5)
        .withColumn("j_ppm", floor(col("jaccard") * 1000000).cast("long"))
        .select("id_a", "id_b", "j_ppm")
        .localCheckpoint()
      val comps = graft.operators.ConnectedComponents
        .connectedComponents(pairs.select("id_a", "id_b"))
      val sizes = comps.groupBy("component")
        .agg(count(lit(1)).as("cluster_size"))
      val perComp = pairs
        .join(comps, col("id_a") === col("node"))
        .groupBy("component")
        .agg(count(lit(1)).as("__np"), min("j_ppm").as("__minj"),
          sum("j_ppm").as("__sumj"))
      sizes.join(perComp, Seq("component"))
        .groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"),
          sum("__np").as("n_pairs"),
          min("__minj").as("min_j_ppm"),
          expr("sum(__sumj) div sum(__np)").as("avg_j_ppm"))
    }),

    "dedup_groups_incremental" -> ((s, dir) => {
      // daily-ingest clustering: 80% of docs are "yesterday's corpus",
      // already clustered into an assignment; the fresh 20% arrive with
      // pairs touching them, folded in WITHOUT re-clustering history.
      // The fold must reproduce the batch clustering exactly, so the
      // oracle is the same full transitive closure as dedup_groups
      val docs = tk(s, dir, "documents")
      // ONE shingle→minhash→band pass feeds both legs (the dedup_index_probe
      // single-lineage motif): signatures and band collisions are per-doc,
      // so the full-corpus pair list filtered to history×history IS the
      // history-only pair list — localCheckpoint materializes the shingle
      // stage once and both legs scan the checkpointed frame
      // the LSH pass runs AQE-off here: the r14 bucket cap + connectivity
      // rescue bound band-join skew ALGORITHMICALLY (no bucket exceeds
      // maxBucketSize), so AQE's runtime skew-split has nothing left to
      // fix on this pipeline while segmenting each internal checkpoint
      // into ~2-4 stage-jobs (this query measured 35 jobs; the job-tax
      // signature). It plans in a private clone of the session, like the
      // CC rounds, so the caller's conf is never touched.
      val allPairs = graft.sources.Isolated.withConf(Seq(docs),
          "spark.sql.adaptive.enabled" -> "false") { case (_, Seq(docs)) =>
        graft.llm.Dedup.minHashDedupPairs(docs, "doc_id", "text",
            numHashes = 32, bands = 16, threshold = 0.5)
          .select("id_a", "id_b")
          .localCheckpoint()
      }
      val histAssign = graft.operators.ConnectedComponents.connectedComponents(
        allPairs.filter(col("id_a") % 5 =!= 0 && col("id_b") % 5 =!= 0))
      val newPairs = allPairs
        .filter(col("id_a") % 5 === 0 || col("id_b") % 5 === 0)
      graft.operators.ConnectedComponents
        .incrementalComponents(histAssign, newPairs)
        .select(col("node").as("doc_id"), col("component"))
    }),

    "winnow_neardup" -> ((s, dir) => {
      graft.llm.Dedup.winnowDedupPairs(
        tk(s, dir, "documents"), "doc_id", "text", threshold = 0.5)
    }),

    "dedup_substring" -> ((s, dir) => {
      // ExactSubstr (Lee et al. 2021) duplication census: every repeated
      // 8-token window belongs to its smallest-id doc; later docs count the
      // union of positions their repeated windows cover. Ownership is one
      // min-per-gram aggregate; no pairwise stage anywhere.
      graft.llm.Dedup.exactSubstringDupStats(
        t(s, dir, "documents"), "doc_id", "text", windowTokens = 8)
    }),

    "dedup_substring_apply" -> ((s, dir) => {
      // the apply side: rebuild every doc with its duplicated spans removed
      // (kept tokens rejoined at the normalized grain); the full rewritten
      // text rides into the hash compare, so a one-token slip anywhere in
      // the strip or the ordered rebuild breaks it
      graft.llm.Dedup.stripDuplicatedSpans(
        tk(s, dir, "documents"), "doc_id", "text", windowTokens = 8)
    }),

    "text_subword" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(graft.llm.TextStats.subwordCount(col("text")).cast("long"))
            .as("sum_subwords"))
    }),

    "text_stats" -> ((s, dir) => {
      import graft.llm.TextStats._
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(tokenCount(col("text")).cast("long")).as("sum_tokens"),
          sum(length(col("text")).cast("long")).as("sum_chars"),
          sum(punctCount(col("text")).cast("long")).as("sum_punct"))
    }),

    "text_langid" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("lang_pred", graft.llm.TextStats.langId(col("text")))
        .groupBy("lang", "lang_pred")
        .agg(count(lit(1)).as("n_docs"))
    }),

    "pareto_density" -> ((s, dir) => {
      // Pareto frontier (skyline) of (maximize tokens, minimize chars) —
      // the token-densest documents at every length budget; grid-collapsed
      // running max, never the O(n²) dominance join
      val docs = t(s, dir, "documents")
      graft.operators.Skyline.paretoFrontier2D(
        docs.select(col("doc_id"), col("n_chars"),
          graft.llm.TextStats.tokenCount(col("text")).cast("long").as("n_toks")),
        x = col("n_toks"), y = -col("n_chars"))
        .select("doc_id", "n_toks", "n_chars")
    }),

    "dedup_apply_unbiased" -> ((s, dir) => {
      // transitive apply with a HASH-elected representative: each cluster
      // keeps the member with the smallest md5₄₈(id) — a uniform draw that
      // kills min-id's systematic bias toward the oldest crawl (ids encode
      // ingest order in real corpora); same CC backbone, same election
      // aggregate, different priority
      val docs = tk(s, dir, "documents")
      val pairs = graft.llm.Dedup.minHashDedupPairs(
        docs, "doc_id", "text", numHashes = 32, bands = 16, threshold = 0.5)
      graft.llm.Dedup.dropNearDuplicatesByPriority(
        docs.withColumn("__hpri",
          -graft.llm.Dedup.portableTokenHash(
            col("doc_id").cast("string"), hexChars = 12)),
        "doc_id", "__hpri", pairs)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))
    }),

    "text_ttr" -> ((s, dir) => {
      // per-source lexical richness: type-token ratio + hapax share in
      // exact ppm — the vocabulary-collapse signal (template/boilerplate
      // corpora) that n-gram repetition only approximates; one corpus
      // explode+groupBy, then a #vocab-grain fold
      graft.llm.TextStats.lexicalRichness(
        t(s, dir, "documents"), "source", "text")
    }),

    "langid_kappa" -> ((s, dir) => {
      // chance-corrected language-ID acceptance: Cohen's kappa of the
      // n-gram heuristic against the ground-truth lang column, exact
      // integer ppm — accuracy alone rewards majority-class parroting
      graft.llm.EvalMetrics.cohenKappa(
        t(s, dir, "documents")
          .withColumn("lang_pred", graft.llm.TextStats.langId(col("text"))),
        "lang", "lang_pred")
    }),

    "text_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), graft.llm.TextStats.fingerprint(col("text")).as("fp"))
    }),

    "text_quality" -> ((s, dir) => {
      graft.llm.TextStats.qualityFeatures(
        t(s, dir, "documents").filter(col("doc_id") < 50), "text")
        .select("doc_id", "n_chars", "n_tokens", "n_punct", "n_stopwords",
          "stopword_ratio", "punct_ratio")
    }),

    "text_tfidf" -> ((s, dir) => {
      graft.llm.TfIdf.topTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
    }),

    "source_terms" -> ((s, dir) => {
      // corpus profiling: each source's most distinctive vocabulary by
      // exact integer rate ratio (in-source rate over smoothed rest rate),
      // top-5 via the bounded-state GroupedTopK — "what does src7 talk
      // about that nothing else does", no floats, no rank-everything sort
      graft.llm.TfIdf.distinctiveTerms(
        t(s, dir, "documents"), "source", "text", k = 5)
    }),

    "decontaminate" -> ((s, dir) => {
      // src0 plays the benchmark suite: flag training docs (all other
      // sources) sharing any 8-token n-gram with it. Eval grams broadcast;
      // the training side never shuffles before the contamination filter.
      val docs = tk(s, dir, "documents")
      graft.llm.Decontaminate.contaminatedDocs(
        docs.filter(col("source") =!= "src0"), "doc_id", "text",
        docs.filter(col("source") === "src0"), "text", n = 8)
    }),

    "quality_filter" -> ((s, dir) => {
      // rule verdict census over the whole corpus: one row per observed
      // flag combination (sum_ids pins exactly WHICH docs carry each verdict)
      graft.llm.TextStats.gopherFlags(t(s, dir, "documents"), "text")
        .groupBy("tokens_ok", "avg_len_ok", "punct_ok", "has_stopword", "keep")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))
    }),

    "dedup_incremental" -> ((s, dir) => {
      // daily-ingest shape: new docs (id >= 250) anti-joined against the
      // historical corpus's fingerprint set; history is read, never rewritten
      val docs = t(s, dir, "documents")
      graft.llm.Dedup.dropKnownDuplicates(
        docs.filter(col("doc_id") >= 250),
        docs.filter(col("doc_id") < 250), "text")
        .groupBy("source")
        .agg(count(lit(1)).as("n_new"), sum("doc_id").as("sum_ids"))
    }),

    "decontaminate_apply" -> ((s, dir) => {
      // flag → act: training corpus with every doc sharing an 8-gram with
      // the src0 "benchmark suite" removed
      val docs = t(s, dir, "documents")
      graft.llm.Decontaminate.dropContaminated(
        docs.filter(col("source") =!= "src0"), "doc_id", "text",
        docs.filter(col("source") === "src0"), "text", n = 8)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))
    }),

    "source_overlap" -> ((s, dir) => {
      // source-level contamination triage: distinct shared token trigrams
      // per source pair — mirrored scrapes and syndicated content surface
      // here before any doc-level check
      graft.llm.Decontaminate.crossSourceOverlap(
        t(s, dir, "documents"), "text", "source", n = 3)
    }),

    "lm_quality_score" -> ((s, dir) => {
      // reference-LM quality filtering (the CCNet shape): src0 plays the
      // curated reference corpus; every other doc scored by its mean
      // quantized conditional bigram probability under the reference model
      val docs = t(s, dir, "documents")
      graft.llm.TextStats.bigramLmScore(
        docs.filter(col("source") =!= "src0"), "doc_id", "text",
        docs.filter(col("source") === "src0"), "text")
    }),

    "events_topk" -> ((s, dir) => {
      // global top-100 by value: plans as TakeOrderedAndProject (per-
      // partition top-k, then one bounded merge — never a full global sort)
      events(s, dir)
        .orderBy(col("value").desc, col("event_id"))
        .limit(100)
        .select("event_id", "user_id", "event_type", "value")
    }),

    "chunk_documents" -> ((s, dir) => {
      // RAG/context-window chunking: 40-token chunks, 8-token overlap;
      // pure map + explode, chunk ids from start offsets (no ordinals)
      graft.llm.Chunker.chunkDocuments(t(s, dir, "documents"), "doc_id", "text")
    }),

    "text_repetition" -> ((s, dir) => {
      // within-doc repetition features (Gopher repetition rules): total vs
      // distinct 3-gram counts and the duplicate fraction, per doc
      graft.llm.TextStats.repetitionFeatures(
        t(s, dir, "documents").filter(col("doc_id") < 50), "text")
        .select("doc_id", "n_grams", "n_distinct_grams", "dup_gram_ratio")
    }),

    "char_diversity" -> ((s, dir) => {
      // per-doc character-histogram moments + Simpson collision index in
      // ppm — ONE codegen'd pass inside the scan (no per-char explode, no
      // shuffle), exact integers end-to-end (div, not floating entropy);
      // decimal(38,0) for the ×10⁶ product (the gini_ppm overflow rule)
      t(s, dir, "documents")
        .select(col("doc_id"), graft.functions.CharHistStats.charHistStats(
          graft.llm.TextStats.normalizeText(col("text"))).as("__h"))
        .select(col("doc_id"), col("__h")(0).as("n_cp"),
          col("__h")(1).as("n_distinct"), col("__h")(2).as("coll"))
        .withColumn("simpson_ppm",
          when(col("n_cp") < 2, lit(0L)).otherwise(expr(
            "(cast(coll as decimal(38,0)) * 1000000) div " +
              "(cast(n_cp as decimal(38,0)) * (n_cp - 1))")))
    }),

    "eval_rouge" -> ((s, dir) => {
      // distillation/summarization eval: ROUGE-2 clipped-multiset overlap
      // between consecutive doc pairs (even = reference, odd = candidate),
      // exact integer counts + ppm ratios — per-(pair, gram) equi-join,
      // no windows, never corpus-quadratic
      val d = tk(s, dir, "documents")
      val pairs = d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("pair_id"), col("text").as("ref_text"))
        .join(d.filter(col("doc_id") % 2 === 1)
          .select((col("doc_id") - 1).as("pair_id"),
            col("text").as("cand_text")), "pair_id")
      graft.llm.EvalMetrics.rougeN(
        pairs, "pair_id", "ref_text", "cand_text", n = 2)
    }),

    "ann_bruteforce" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.llm.Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 20), "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),

    "knn_graph" -> ((s, dir) => {
      // mutual k-NN graph: undirected edges where each endpoint is in the
      // other's cosine top-k — the hub-robust neighborhood graph feeding
      // cluster/density analysis (exact directed top-k at fixture scale;
      // the operator switches to sign-LSH candidates above exactLimit)
      val emb = t(s, dir, "embeddings")
      graft.llm.Similarity.mutualKnnGraph(
        emb, "vec_id", "embedding", k = 3,
        mode = graft.llm.Similarity.KnnMode.Exact)
        .select(col("id_a"), col("id_b"),
          col("rank_ab").cast("long").as("rank_ab"),
          col("rank_ba").cast("long").as("rank_ba"))
    }),

    "ann_hard_negatives" -> ((s, dir) => {
      // contrastive hard negatives: nearest corpus vectors with a
      // DIFFERENT label per query — the similarity surface applied to
      // training-pair curation
      val emb = t(s, dir, "embeddings")
      graft.llm.Similarity.hardNegativeTopK(
        emb.filter(col("vec_id") < 20), "vec_id", "embedding", "label",
        emb, "vec_id", "embedding", "label", k = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),

    "embed_quantize" -> ((s, dir) => {
      // int8 storage quantization: per-vector symmetric scale + codes
      val q = graft.llm.Quantize.quantizeInt8(
        t(s, dir, "embeddings"), "vec_id", "embedding")
      // aggregate shape keeps the result compact and fully value-sensitive
      q.select(col("vec_id"), col("scale"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c).as("code_sum"),
        array_min(col("codes")).as("code_min"),
        array_max(col("codes")).as("code_max"))
    }),

    "embed_project" -> ((s, dir) => {
      // JL ±1 sign projection over the int8 codes: 8 exact-integer sketch
      // dims per vector, one shuffle-free narrow map — the shard-level
      // distance pre-filter sketch
      graft.llm.Quantize.signProject(
        t(s, dir, "embeddings"), "vec_id", "embedding", outDim = 8, dim = 64)
    }),

    "sample_fair_cap" -> ((s, dir) => {
      // max–min-fair corpus quotas: largest common cap with
      // Σ min(n_src, cap) ≤ 300, remainder dealt one-each by key order —
      // the water-filling "don't let one crawl drown the mix" allocator,
      // exact integers, one corpus count pass + #groups-grain epilogue
      graft.llm.Sampling.fairCaps(t(s, dir, "documents"), "source", 300L)
    }),

    "image_dedup_apply" -> ((s, dir) => {
      // end-to-end image dedup: dHash band pairs → connected components
      // (perceptual similarity isn't transitive; chains form the variant
      // family) → keep min-id per cluster; survivors audited per (w, h)
      // pattern shape — the image twin of dedup_apply_cc
      val docs = tk(s, dir, "documents")
      val pairs = graft.llm.Multimodal
        .imageNearDupPairs(s, docs, maxHamming = 3)
        .select(col("media_a").as("id_a"), col("media_b").as("id_b"))
      val cc = graft.operators.ConnectedComponents.connectedComponents(pairs)
      val dropped = cc.filter(col("component") =!= col("node"))
        .select(col("node").as("doc_id"))
      docs.select("doc_id")
        .join(dropped, Seq("doc_id"), "left_anti")
        .withColumn("w", lit(8L) + col("doc_id") % 8)
        .withColumn("h", lit(8L) + col("doc_id") % 5)
        .groupBy("w", "h")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("sum_ids"))
    }),

    "image_neardup" -> ((s, dir) => {
      // multimodal near-dup: REAL PNG decode → perceptual dHash (9×8
      // sample grid, 64 bits) → 4×16-bit banded self-join (pigeonhole:
      // hamming ≤ 3 shares a band) → exact bit_count verify — the image
      // twin of the MinHash-LSH text path, never all-pairs
      graft.llm.Multimodal.imageNearDupPairs(
        s, tk(s, dir, "documents"), maxHamming = 3)
    }),

    "canary_positions" -> ((s, dir) => {
      // span-extraction form of the canary sweep: first occurrence
      // position (1-based chars, instr convention) of every canary, same
      // single Aho–Corasick pass — char positions fall out of counting
      // non-continuation bytes during the byte scan
      val docs = t(s, dir, "documents")
      val pats = docs
        .filter(col("doc_id") <= 10 && length(col("text")) >= 32)
        .select(substring(col("text"), 21, 12).as("c"))
        .collect().map(_.getString(0)).distinct.toSeq
      docs.select(col("doc_id"),
        explode(graft.functions.MultiContains.multiFind(col("text"), pats))
          .as("__m"))
        .select(col("doc_id"),
          element_at(typedLit(pats), col("__m.id") + 1).as("canary"),
          col("__m.pos").as("pos"))
    }),

    "winsorized_stats" -> ((s, dir) => {
      // robust per-source mean: clamp to exact [p10, p90] order statistics
      // (range-partitioned GroupedRank bounds, no per-group sort task),
      // then one broadcast-join + aggregate pass — tails keep their rows
      // but lose their leverage
      graft.operators.RobustStats.winsorizedStats(
        t(s, dir, "documents"), Seq("source"), "n_chars")
    }),

    "canary_scan" -> ((s, dir) => {
      // memorization-canary / blocklist sweep: K exact substrings found in
      // ONE codegen'd Aho–Corasick pass over the corpus (vs K contains
      // scans or a K-row explode join); the pattern set is a KB-scale
      // model parameter, collected like the BPE merge table
      val docs = t(s, dir, "documents")
      val pats = docs
        .filter(col("doc_id") <= 10 && length(col("text")) >= 32)
        .select(substring(col("text"), 21, 12).as("c"))
        .collect().map(_.getString(0)).distinct.toSeq
      docs.select(col("doc_id"),
        explode(graft.functions.MultiContains.multiContains(col("text"), pats))
          .as("__p"))
        .select(col("doc_id"),
          element_at(typedLit(pats), col("__p") + 1).as("canary"))
    }),

    "model_auc" -> ((s, dir) => {
      // threshold-free classifier acceptance: one-vs-rest AUC per label of
      // the JL p0 sketch score, exact rank-sum in integer ppm — global
      // rank via range-partitioned GroupedRank, no single-task sort
      // spread (r18): GroupedRank's range-sampling + exchange passes each
      // re-run the scoring lineage; on a single-split scan that was 4×
      // ~1.5 s of single-task quantize+project work — parallelize it once
      val scored = graft.llm.Quantize.signProject(
        graft.sources.Spread.spread(t(s, dir, "embeddings")),
        "vec_id", "embedding", outDim = 1,
        dim = 64, keepCols = Seq("label"))
        .select(col("vec_id"), col("label"), col("p0").as("score"))
      graft.llm.EvalMetrics.aucByLabel(scored, "label", "score", "vec_id")
    }),

    "batch_by_length" -> ((s, dir) => {
      val docs = tk(s, dir, "documents")
        .withColumn("n_tokens",
          size(graft.llm.TextStats.tokens(
            graft.llm.TextStats.normalizeText(col("text")))).cast("long"))
      graft.llm.Batching.batchByLength(docs, "doc_id", "n_tokens", batchSize = 8)
        .select("doc_id", "n_tokens", "len_bucket", "batch_idx")
    }),

    "ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.llm.Similarity.lshTopK(
        emb.filter(col("vec_id") < 20), "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),

    "ann_multiprobe" -> ((s, dir) => {
      // one LSH table + Hamming-1 probe expansion on the query side: the
      // single-index recall knob (vs ann_lsh's numTables indexes)
      val emb = t(s, dir, "embeddings")
      graft.llm.Similarity.multiProbeLshTopK(
        emb.filter(col("vec_id") < 20), "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),

    "semdedup" -> ((s, dir) => {
      // SemDeDup (arXiv:2303.09540): within-cluster cosine duplicates, the
      // nearer-to-centroid member of each pair dropped; seed centroids (ivf
      // convention) keep the whole pipeline exactly SQL-replayable
      graft.llm.SemDedup.semDedupFlags(
        tk(s, dir, "embeddings"), "vec_id", "embedding",
        nClusters = 16, threshold = 0.45)
        .select(col("id").as("vec_id"), col("cluster"), col("kept"))
    }),

    "decontaminate_semantic" -> ((s, dir) => {
      // paraphrase-level decontamination: label-0 vectors act as the eval
      // benchmark; training vectors within 0.4 cosine of any of them drop
      val emb = tk(s, dir, "embeddings")
      graft.llm.Decontaminate.dropSemanticContaminated(
        emb.filter(col("label") =!= 0), "vec_id", "embedding",
        emb.filter(col("label") === 0), "embedding", threshold = 0.4)
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"), sum("vec_id").as("sum_ids"))
    }),

    "resample_epochs" -> ((s, dir) => {
      // fractional-epoch data recipe: src0 ×2.5, src1 ×0.25, src2 ×1.75,
      // everything else ×1.0 — deterministic hash picks the partial epoch
      graft.llm.Sampling.resampleByWeight(
        t(s, dir, "documents"), "doc_id", "source",
        Map("src0" -> 2.5, "src1" -> 0.25, "src2" -> 1.75))
        .select(col("doc_id"), col("source"), col("epoch"))
    }),

    "sample_temperature" -> ((s, dir) => {
      // α=1/2 temperature sampling: per-source quotas ∝ √n_s rebalance the
      // corpus toward tail sources; membership is the per-source hash rank
      graft.llm.Sampling.sampleByTemperature(
        tk(s, dir, "documents"), "doc_id", "source",
        totalTarget = 300, salt = "temp")
        .select("doc_id", "source")
    }),

    "ann_ivf" -> ((s, dir) => {
      val emb = tk(s, dir, "embeddings")
      graft.llm.Similarity.ivfTopK(
        emb.filter(col("vec_id") < 20), "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),

    "eval_ann_recall" -> ((s, dir) => {
      // the ANN acceptance gate: per-query recall@3 of the IVF index
      // against exact brute force, in exact ppm integers — the metric that
      // decides whether nProbe/nCells ship
      val emb = tk(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 20)
      graft.llm.Similarity.recallAtK(
        graft.llm.Similarity.ivfTopK(
          q, "vec_id", "embedding", emb, "vec_id", "embedding", k = 3),
        graft.llm.Similarity.bruteForceTopK(
          q, "vec_id", "embedding", emb, "vec_id", "embedding", k = 3),
        k = 3)
    }),

    "eval_mrr" -> ((s, dir) => {
      // retrieval eval, MRR flavor: rank of the FIRST same-label neighbor
      // in the full cosine ordering per query, reciprocal in exact ppm —
      // computed by argmax + ahead-count aggregates, never a corpus-scale
      // ranking window
      val emb = tk(s, dir, "embeddings")
      graft.llm.Similarity.meanReciprocalRank(
        emb.filter(col("vec_id") < 20), "vec_id", "embedding", "label",
        emb, "vec_id", "embedding", "label")
    }),

    "ann_ivfpq" -> ((s, dir) => {
      // the production composition: IVF prunes which vectors are scored,
      // PQ codes bound what the scan reads — FAISS's IVFx,PQy shape
      val emb = tk(s, dir, "embeddings")
      graft.llm.Similarity.ivfPqTopK(
        emb.filter(col("vec_id") < 20), "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("neighbor_id"), col("adist"),
          col("rank").cast("long").as("rank"))
    }),

    "ann_pq" -> ((s, dir) => {
      val emb = tk(s, dir, "embeddings")
      graft.llm.Similarity.pqTopK(
        emb.filter(col("vec_id") < 20), "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("neighbor_id"), col("adist"),
          col("rank").cast("long").as("rank"))
    }),

    "ann_pq_trained" -> ((s, dir) => {
      // PQ ADC scan on k-means-TRAINED codebooks (per-subspace L2 Lloyd's,
      // 1 iteration) — the quantized-mean update keeps training exactly
      // SQL-replayable; see annPqTrainedSql
      val emb = tk(s, dir, "embeddings")
      val cbs = graft.llm.KMeans.fitCodebooks(
        emb, "vec_id", "embedding",
        numSubspaces = 8, codebookSize = 16, iters = 1, dim = 64)
      graft.llm.Similarity.pqTopK(
        emb.filter(col("vec_id") < 20), "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 3, codebooks = Some(cbs))
        .select(col("query_id"), col("neighbor_id"), col("adist"),
          col("rank").cast("long").as("rank"))
    }),

    "ann_ivf_trained" -> ((s, dir) => {
      // IVF probing on k-means-TRAINED centroids (2 Lloyd's iterations from
      // the first-16 seed set) instead of the raw seed vectors — the
      // quantized-mean update makes training exactly replayable in SQL
      val emb = tk(s, dir, "embeddings")
      val cents = graft.llm.KMeans.fit(
        emb, "vec_id", "embedding", nCells = 16, iters = 2, dim = 64)
      graft.llm.Similarity.ivfTopK(
        emb.filter(col("vec_id") < 20), "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 3, nProbe = 4,
        centroids = Some(cents))
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),

    "events_attribution" -> ((s, dir) => {
      // last-touch attribution: each purchase credits the user's most
      // recent click within a 7-day window (the as-of union-window plan —
      // one shuffle of |purchases|+|clicks|, no range join), rolled up per
      // purchase day with exact micro-unit value mass
      val ev = eventsK(s, dir)
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_ns"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("c_event_id"),
          col("ts_ns").as("c_ts_ns"))
      graft.operators.AsofJoin.asofJoin(
        purch, clicks, Seq("user_id"), "ts_ns", "c_ts_ns",
        tieBreakCol = Some("c_event_id"))
        .withColumn("__attr", col("c_ts_ns").isNotNull &&
          col("ts_ns") - col("c_ts_ns") <= 604800000000000L)
        .groupBy(expr("ts_ns div 86400000000000").as("day"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(when(col("__attr"), 1L).otherwise(0L)).as("n_attributed"),
          sum(when(col("__attr"),
            expr("cast(floor(value * 1000000.0) as long)")).otherwise(0L))
            .as("attributed_value_micro"))
    }),

    "asof_join" -> ((s, dir) => {
      // each click paired with the user's most recent purchase at or before
      // it; ts_ns longs keep the time comparison exact across engines
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_ns"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_event_id"),
          col("ts_ns").as("p_ts_ns"), col("value").as("p_value"))
      graft.operators.AsofJoin.asofJoin(
        clicks, purch, Seq("user_id"), "ts_ns", "p_ts_ns",
        tieBreakCol = Some("p_event_id"))
        .select("event_id", "user_id", "p_event_id", "p_value")
    }),

    "asof_join_forward" -> ((s, dir) => {
      // forward direction + inner gating: each click paired with the
      // user's NEXT purchase at or after it (ties to the greatest id) —
      // exercises the other half of the as-of contract
      val ev = eventsK(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_ns"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_event_id"),
          col("ts_ns").as("p_ts_ns"), col("value").as("p_value"))
      graft.operators.AsofJoin.asofJoin(
        clicks, purch, Seq("user_id"), "ts_ns", "p_ts_ns",
        joinType = "inner", direction = "forward",
        tieBreakCol = Some("p_event_id"))
        .select("event_id", "user_id", "p_event_id", "p_value")
    }),

    "range_join" -> ((s, dir) => {
      // attribution window: count each user's clicks within 1h after their
      // purchase. Bin-bucketed equi-join (one bin per point), never a
      // nested-loop range join; purchases with no clicks kept via left join.
      val hourNs = 3600L * 1000 * 1000 * 1000
      val ev = eventsK(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_event_id"),
          col("user_id").as("c_user_id"), col("ts_ns").as("c_ts_ns"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event_id"), col("user_id"),
          col("ts_ns").as("p_ts_ns"), (col("ts_ns") + hourNs).as("p_end_ns"))
      val pairs = graft.operators.RangeJoin.rangeJoin(
        clicks, "c_ts_ns", purch, "p_ts_ns", "p_end_ns",
        binWidth = hourNs, equiKeys = Seq("c_user_id" -> "user_id"))
      val counts = pairs.groupBy("p_event_id").agg(count(lit(1)).as("n_clicks"))
      purch.join(counts, Seq("p_event_id"), "left")
        .select(col("p_event_id"), col("user_id"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
    }),

    "sample_stratified" -> ((s, dir) => {
      // language rebalancing: downsample en hard, keep the tail; membership
      // is a pure function of doc_id (reproducible at any partitioning)
      graft.llm.Sampling.stratifiedSampleByHash(
        t(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.5, "fr" -> 0.25, "zh" -> 0.1), defaultFraction = 0.05)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))
    }),

    "split_leakage_safe" -> ((s, dir) => {
      // train/val/test assignment where near-dup CLUSTERS share a split
      // (a near-copy of a training doc in eval silently inflates scores);
      // split key = connected-component representative, hash-banded
      val docs = tk(s, dir, "documents")
      val pairs = graft.llm.Dedup.minHashDedupPairs(
        docs, "doc_id", "text", numHashes = 32, bands = 16, threshold = 0.5)
        .select("id_a", "id_b")
      graft.llm.Sampling.assignSplitByGroup(
        docs, "doc_id", pairs,
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))
    }),

    "pack_sequences" -> ((s, dir) => {
      // context-length packing: docs in doc_id order cut into 2048-token
      // chunks via the distributed two-phase prefix sum (no global window)
      // NULL-text docs have no token count → not packable (oracle-pinned)
      val docs = tk(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.llm.TextStats.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.llm.SequencePack.packSequences(docs, "doc_id", "n_tokens", budget = 2048)
        .groupBy("chunk_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
    }),

    "multimodal_features" -> ((s, dir) => {
      graft.llm.Multimodal.documentMediaFeatures(s, tk(s, dir, "documents"))
        .select("media_id", "kind", "n_bytes")
    }),

    "multimodal_decode" -> ((s, dir) => {
      // REAL image decode: a deterministic PNG is synthesized per doc_id,
      // then ImageIO decodes actual pixels back out; the oracle replays the
      // generating formula with a lateral range join — so a decoder bug
      // (wrong pixels, wrong dims) breaks the hash. Shuffle-free narrow maps.
      graft.llm.Multimodal.documentImageStats(s, tk(s, dir, "documents"))
    }),

    "multimodal_tiff" -> ((s, dir) => {
      // REAL baseline-TIFF decode (the JDK's built-in TIFF plugin, JDK 9+):
      // a deterministic TIFF is synthesized per doc_id with its OWN
      // generating formula, decoded back to actual pixels through the same
      // format-agnostic ImageIO path as multimodal_decode — shrinking the
      // opaque-codec stand-in to formats with genuinely no JDK decoder
      graft.llm.Multimodal.documentTiffStats(s, tk(s, dir, "documents"))
    }),

    "multimodal_jpeg" -> ((s, dir) => {
      // REAL lossy JPEG round-trip: smooth ramp pattern → JDK JPEG encoder
      // (DCT + 4:2:0 subsampling) → REAL Huffman+IDCT decode → integer-
      // pinned contract (dims/pixel count exact; within_tol asserts the
      // measured deviation ≤ 16 — probed worst-case is 4, and ≥ 3 always,
      // so the codec demonstrably runs lossy; JpegSpec pins that floor).
      // max_abs_dev is the real measurement — not SQL-replayable, dropped
      // from the oracle-gated projection.
      graft.llm.Multimodal.documentJpegStats(s, tk(s, dir, "documents"))
        .select("media_id", "width", "height", "n_pixels", "within_tol")
    }),

    "multimodal_audio" -> ((s, dir) => {
      // REAL audio decode: a deterministic mono 16-bit PCM WAV is written
      // per doc_id by the JDK's javax.sound.sampled encoder, then
      // AudioSystem decodes the actual samples back out; the oracle replays
      // the sample formula with a lateral range join — wrong samples, a
      // wrong header, or an off-by-one in the zero-crossing scan breaks the
      // hash. Shuffle-free narrow maps, same batch shape as the image path.
      graft.llm.Multimodal.documentAudioStats(s, tk(s, dir, "documents"))
    }),

    "multimodal_video" -> ((s, dir) => {
      // REAL multi-frame video decode: a deterministic animated GIF (an
      // explicit 256-gray palette makes the encoding lossless) is written
      // per doc_id by the JDK's ImageIO sequence writer, then the GIF
      // ImageReader decodes every SAMPLED frame's actual pixels — the
      // frame-sample shape of a production video featurizer, with the
      // oracle replaying frame/pixel sums from the generating formula.
      graft.llm.Multimodal.documentVideoStats(s, tk(s, dir, "documents"))
    }),

    "multimodal_gzip" -> ((s, dir) => {
      // REAL DEFLATE decode (the WARC/WET web-archive codec path): a
      // deterministic ASCII text is gzipped per doc_id by the JDK's
      // GZIPOutputStream, then GZIPInputStream inflates the actual bytes
      // back out; the oracle replays the token formula arithmetically —
      // wrong bytes anywhere in the inflate break the hash. Compressed
      // size is deliberately NOT in the contract (encoder output is
      // implementation-defined; only the decompressed stream is canonical)
      graft.llm.Multimodal.documentGzipStats(s, tk(s, dir, "documents"))
    }),

    "multimodal_zip" -> ((s, dir) => {
      // REAL ZIP container walk (the multi-member half of the web-archive
      // ingest path): 2+id%3 deterministic text members are zipped per
      // doc_id by ZipOutputStream, then ZipInputStream walks the actual
      // central directory and inflates every member — one output row per
      // member (a flatMap). The oracle replays member names and the token
      // formula arithmetically; a wrong member boundary or byte anywhere
      // breaks the hash.
      graft.llm.Multimodal.documentZipStats(s, tk(s, dir, "documents"))
    }),

    "events_quantiles" -> ((s, dir) => {
      // exact order-statistic quantiles (actual elements, no interpolation
      // arithmetic — the engine-portable exact contract)
      graft.operators.Quantiles.groupQuantiles(
        events(s, dir), Seq("event_type"), "value", Seq(0.5, 0.9))
    }),

    "events_quantile_hist" -> ((s, dir) => {
      // bounded-state approximate quantiles: fixed-width histogram →
      // cumulative bin counts → first bin reaching ceil(q·n); the
      // exchange ships (group, bin) counters, never the table — the
      // binWidth-accurate answer the 100-TB profile run wants when the
      // exact rank shuffle is waste
      graft.operators.Quantiles.binnedQuantiles(
        events(s, dir), Seq("event_type"), "value",
        binWidth = 10.0, Seq(0.5, 0.9))
    }),

    "pagerank_bipartite" -> ((s, dir) => {
      // fixed-point integer PageRank over the user↔event_type bipartite
      // graph (both directions, so every node has out-edges): integer
      // multiply-then-div damping and floored per-neighbor contributions
      // make 4 iterations bit-exact under any partition order — the oracle
      // unrolls them as CTEs with the same arithmetic
      val ev = events(s, dir)
        .select(concat(lit("u"), col("user_id")).as("src"),
          concat(lit("e"), col("event_type")).as("dst"))
        .distinct()
      val both = ev.unionAll(ev.select(col("dst").as("src"), col("src").as("dst")))
      graft.operators.PageRank.pageRankInt(both, "src", "dst", iters = 4)
    }),

    "graph_ppr" -> ((s, dir) => {
      // personalized PageRank on the same bipartite graph: the 15%
      // teleport restarts ONLY at the flagged users (user_id % 50 — the
      // deterministic seed stand-in), so rank = proximity to the flagged
      // set — the recommendation / blast-radius ranking beside the global
      // centrality of pagerank_bipartite
      val ev = events(s, dir)
        .select(concat(lit("u"), col("user_id")).as("src"),
          concat(lit("e"), col("event_type")).as("dst"))
        .distinct()
      val both = ev.unionAll(ev.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = events(s, dir)
        .filter(col("user_id") % 50 === 0)
        .select(concat(lit("u"), col("user_id")).as("seed")).distinct()
      graft.operators.PageRank.personalizedPageRankInt(
        both, "src", "dst", seeds, "seed", iters = 4)
    }),

    "corpus_diff" -> ((s, dir) => {
      // snapshot-versioning audit: two simulated materializations of the
      // corpus (drops on each side + an appended-marker "edit" slice)
      // diffed to added/removed/changed/unchanged; the join ships 16-byte
      // md5 fingerprints, never document bodies
      val docs = t(s, dir, "documents")
      val oldC = docs.filter(col("doc_id") % 17 =!= 0)
      val newC = docs.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit("~v2"))).otherwise(col("text")))
      graft.llm.CorpusDiff.diff(oldC, newC, "doc_id", "text")
    }),

    "sample_weighted" -> ((s, dir) => {
      // priority sampling (Duffield–Lund–Thorup): char-count-weighted
      // without-replacement top-20 per source; priority = w·1e6/(hash+1)
      // is one exact product + one IEEE division — engine-identical, no
      // transcendental exponential keys
      graft.llm.Sampling.samplePriority(
        t(s, dir, "documents"), "doc_id", "source", "n_chars",
        k = 20, salt = ":wps")
        .select("doc_id", "source", "sample_rank")
    }),

    "outlier_mad" -> ((s, dir) => {
      // robust per-language length-anomaly filter: |x − median| > 2·MAD
      // with BOTH medians as discrete order statistics — the whole rule is
      // exact long arithmetic, no interpolation ulps
      graft.operators.RobustStats.outliers(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        Seq("lang"), "n_chars", threshold = 2L)
        .select("doc_id", "lang", "n_chars", "med", "mad", "dev")
    }),

    "inverted_index" -> ((s, dir) => {
      // retrieval index build: term → (doc, tf, first token position) via
      // one posexplode + one map-side-combined aggregate — never a
      // per-term window
      graft.llm.InvertedIndex.postings(t(s, dir, "documents"), "doc_id", "text")
    }),

    "hybrid_rrf" -> ((s, dir) => {
      // hybrid retrieval: dense cosine top-20 for item 0 fused with the
      // sparse BM25 top-20 by reciprocal-rank fusion (integer
      // micro-points, score-free) — doc_id and vec_id share one id space
      val emb = tk(s, dir, "embeddings")
      val dense = graft.llm.Similarity.bruteForceTopK(
        emb.filter(col("vec_id") === 0), "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 20)
        .select(col("neighbor_id").as("item_id"), col("rank"))
      val sparse = graft.llm.InvertedIndex.bm25TopK(tk(s, dir, "documents"),
        "doc_id", "text", Seq("hash", "merge", "window", "scan"), k = 20)
        .select(col("doc_id").as("item_id"), col("rank"))
      graft.llm.Similarity.rrfFuse(Seq(dense, sparse), "item_id", "rank", k = 10)
    }),

    "bm25_topk" -> ((s, dir) => {
      // BM25 retrieval with rational Robertson idf (no log ulps) and
      // per-term micro-scores floored BEFORE the per-doc sum, so the
      // aggregate is exact integer arithmetic under any shuffle order
      graft.llm.InvertedIndex.bm25TopK(t(s, dir, "documents"),
        "doc_id", "text", Seq("hash", "merge", "window", "scan"), k = 15)
    }),

    "jsonl_roundtrip" -> ((s, dir) => {
      // interchange sink/source: corpus → JSONL → back, aggregated to prove
      // values (incl. unicode text and long ids) survive bit-exactly
      val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
      graft.sources.Formats.jsonlRoundTrip(docs,
        scratchPath("jsonl"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"),
          sum(length(col("text")).cast("long")).as("sum_chars"))
    }),

    "orc_roundtrip" -> ((s, dir) => {
      // the ORC face of the interchange story (jsonl_roundtrip covers JSON)
      val docs = t(s, dir, "documents").select("doc_id", "source", "text")
      graft.sources.Formats.orcRoundTrip(docs,
        scratchPath("orc"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"),
          sum(length(col("text")).cast("long")).as("sum_chars"))
    }),

    "events_json" -> ((s, dir) => {
      // semi-structured payload extraction: parse the JSON props column with
      // an explicit schema (codegen'd JsonToStructs, no UDF) and aggregate
      val k = from_json(col("props"), "k BIGINT", Map.empty[String, String])
        .getField("k")
      events(s, dir)
        .select(col("event_type"), k.as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), count(col("k")).as("n_k"),
          sum("k").as("sum_k"), min("k").as("min_k"), max("k").as("max_k"))
    }),

    "partitioned_scan" -> ((s, dir) => {
      // hive-partitioned layout: a lang='fr' read prunes to one directory
      // (PlanSpec pins the PartitionFilters shape)
      val docs = t(s, dir, "documents").select("doc_id", "n_chars", "lang")
      graft.sources.Formats.writePartitioned(docs,
        scratchPath("part"), Seq("lang"))
        .filter(col("lang") === "fr")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"),
          sum(col("n_chars").cast("long")).as("sum_chars"))
    }),

    "events_retention" -> ((s, dir) => {
      // hour-over-hour cohort retention: of the users active in hour h, how
      // many are also active in h+1. No self-join: over a user's DISTINCT
      // sorted hours, h+1 is present iff it is the immediate next hour, so
      // lead() answers membership — one events scan and three narrow
      // shuffles (distinct, per-user window, per-hour counts), where the
      // naive active⋈active self-join plans three scans and five shuffles
      import org.apache.spark.sql.expressions.Window
      val active = events(s, dir)
        .select(col("user_id"), date_trunc("hour", col("ts")).as("h"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("h")
      active
        .withColumn("__next", lead(col("h"), 1).over(w))
        .groupBy("h")
        // anonymous (NULL user_id) activity counts as active but can never
        // be RETAINED — the window's NULL partition lumps all anonymous
        // rows into one pseudo-user whose consecutive hours would
        // otherwise read as false retention (r15 differential fuzz)
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("user_id").isNotNull &&
              col("__next") === col("h") + expr("INTERVAL 1 HOUR"), 1L)
            .otherwise(0L)).as("n_retained"))
        .select(date_format(col("h"), "yyyy-MM-dd HH").as("hour"),
          col("n_active"), col("n_retained"))
    }),

    "events_ntile" -> ((s, dir) => {
      // per-type value quartiles — but NOT via ntile().over(partitionBy
      // (event_type)), which sorts each type's entire row set in one task
      // (a scale-killer with ~5 types at 100 TB). GroupedRank computes the
      // identical buckets from range-partitioned local ranks + a broadcast
      // offset table; the oracle stays the plain SQL ntile.
      graft.operators.GroupedRank.withGroupNtile(
        events(s, dir), Seq("event_type"),
        Seq(col("value"), col("event_id")), k = 4, ntileCol = "q")
        .withColumn("q", col("q").cast("long"))
        .groupBy("event_type", "q")
        .agg(count(lit(1)).as("n"),
          min("value").as("min_v"), max("value").as("max_v"))
    }),

    "events_hourly" -> ((s, dir) => {
      events(s, dir)
        .groupBy(
          date_format(col("ts"), "yyyy-MM-dd HH").as("hour"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          min("value").as("min_v"),
          max("value").as("max_v"))
    }),

    "distinct_rolling_kmv" -> ((s, dir) => {
      // trailing-24h distinct users per type at every observed hour, by
      // KMV sketch RE-AGGREGATION: one corpus pass builds hourly k-min
      // sketches; each window merges sketches (k longs × 24), never
      // re-scanning events — the re-aggregatable-sketch property that
      // makes windowed distinct affordable at 100 TB
      graft.sketch.KmvOps.kmvRollingDistinct(
        events(s, dir), Seq("event_type"), "user_id",
        bucket = expr("ts_ns DIV 3600000000000"),
        windowBuckets = 24, k = 16)
        .withColumnRenamed("bucket", "hour")
    }),

    "events_stickiness" -> ((s, dir) => {
      // DAU/WAU stickiness per day, EXACT: the (day, user) distinct frame
      // (far below event grain) is the only corpus pass; WAU re-uses it
      // through a 7-day range join + distinct — no per-window re-scan of
      // raw events, no sketch needed at this grain
      val du = events(s, dir)
        .select(expr("ts_ns DIV 86400000000000").as("day"), col("user_id"))
        .distinct()
        .localCheckpoint() // three consumers (days, dau, wau range join)
      val dau = du.groupBy("day").agg(count(lit(1)).as("dau"))
      val days = du.select("day").distinct()
      val wau = days.select(col("day").as("__d"))
        .join(du, col("day").between(col("__d") - 6, col("__d")))
        .select(col("__d"), col("user_id")).distinct()
        .groupBy("__d").agg(count(lit(1)).as("wau"))
      dau.join(wau, col("day") === col("__d"))
        .withColumn("stickiness_ppm", expr("(dau * 1000000) div wau"))
        .select("day", "dau", "wau", "stickiness_ppm")
    }),

    "events_heatmap" -> ((s, dir) => {
      // ops profile: hour-of-day × day-of-week activity matrix with value
      // sums in exact micro-units — pure integer arithmetic on ts_ns (no
      // timezone/date library in the hot path; epoch day 0 = Thursday,
      // hence the +3 shift to make dow 0 = Monday)
      events(s, dir)
        .withColumn("hod", expr("(ts_ns DIV 3600000000000) % 24"))
        .withColumn("dow", expr("((ts_ns DIV 86400000000000) + 3) % 7"))
        .groupBy("dow", "hod")
        .agg(count(lit(1)).as("n"),
          sum(expr("cast(floor(value * 1000000.0) as long)")).as("value_micro"))
    }),

    "events_gaps" -> ((s, dir) => {
      // ingestion-gap census: per type, which hour buckets of the global
      // [min, max] span carry no events — n_missing plus the longest
      // consecutive run. Observed hours collapse to at most span-many rows
      // (domain-bounded) BEFORE any window; the lag runs per type over
      // that hour grid, never over events
      val hours = events(s, dir)
        .withColumn("hour", expr("ts_ns DIV 3600000000000"))
        .groupBy("event_type", "hour").agg(count(lit(1)).as("__n"))
      val span = hours.agg(min("hour").as("__h0"), max("hour").as("__h1"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("hour")
      hours.crossJoin(broadcast(span))
        .withColumn("__prev", lag("hour", 1).over(w))
        .withColumn("__gap",
          when(col("__prev").isNull, col("hour") - col("__h0"))
            .otherwise(col("hour") - col("__prev") - 1))
        .groupBy("event_type")
        .agg(first("__h1").as("__e1"), first("__h0").as("__e0"),
          count(lit(1)).as("n_hours_observed"),
          sum("__gap").as("__inner_missing"),
          max("__gap").as("__max_inner_gap"),
          max("hour").as("__last"))
        .select(col("event_type"),
          (col("__e1") - col("__e0") + 1).as("n_hours_expected"),
          col("n_hours_observed"),
          (col("__inner_missing") + (col("__e1") - col("__last")))
            .as("n_missing"),
          greatest(col("__max_inner_gap"), col("__e1") - col("__last"))
            .as("longest_gap"))
    }),

    "watermark_audit" -> ((s, dir) => {
      // disorder census that PICKS the watermark: per type, how many
      // events arrive (event_id order) with event-time behind the running
      // max — i.e. would be dropped at delay D — for D ∈ {0, 1m, 5m, 1h}.
      // Running max via RunningExtremum: range-partitioned two-phase, no
      // per-type single-task sort even when one type is the whole stream
      val rm = graft.operators.RunningExtremum.withRunningMax(
        eventsK(s, dir).select("event_type", "event_id", "ts_ns"),
        Seq("event_type"), Seq(col("event_id")), "ts_ns", "rmax")
      rm.withColumn("late_ns", col("rmax") - col("ts_ns"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("late_ns") > 0, 1L).otherwise(0L)).as("n_ooo"),
          sum(when(col("late_ns") > 60000000000L, 1L).otherwise(0L)).as("n_late_1m"),
          sum(when(col("late_ns") > 300000000000L, 1L).otherwise(0L)).as("n_late_5m"),
          sum(when(col("late_ns") > 3600000000000L, 1L).otherwise(0L)).as("n_late_1h"),
          max("late_ns").as("max_late_ns"))
    }),

    "events_ohlc" -> ((s, dir) => {
      // per (type, day) open-high-low-close: first/last BY TIME as plain
      // min/max over an injective (ts_ns, event_id, value) struct — a
      // bounded-state map-side-combined aggregate, never a per-key window
      // sort (the events_top_user_event window form co-locates each key;
      // this shape survives a key holding the whole corpus)
      events(s, dir)
        .withColumn("day", expr("ts_ns DIV 86400000000000"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("n"),
          min(struct(col("ts_ns"), col("event_id"), col("value")))
            .getField("value").as("open"),
          max(struct(col("ts_ns"), col("event_id"), col("value")))
            .getField("value").as("close"),
          min("value").as("lo"), max("value").as("hi"))
    }),

    "events_top_user_event" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_ns").desc, col("event_id"))
      events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "event_id", "event_type")
    }),

    "stream_hourly" -> ((s, dir) => {
      // real Structured Streaming run (file source → windowed agg → memory
      // sink, complete mode), then projected for the batch oracle.
      val out = StreamOps.runToMemory(s,
        StreamOps.windowedCounts(StreamOps.eventsStream(s, s"$dir/events.parquet")),
        "graft_stream_hourly")
      out.select(
        date_format(col("window.start"), "yyyy-MM-dd HH").as("hour"),
        col("event_type"), col("n"), col("min_v"), col("max_v"))
    }),

    "stream_heatmap" -> ((s, dir) => {
      // the live ops-profile heatmap: streaming groupBy (dow, hod) with
      // count + micro-quantized value sums in complete mode — the sink
      // holds one 7×24 frame of state; converges to the batch heatmap
      val agg = StreamOps.eventsStream(s, s"$dir/events.parquet")
        .withColumn("hod", expr("(ts_ns DIV 3600000000000) % 24"))
        .withColumn("dow", expr("((ts_ns DIV 86400000000000) + 3) % 7"))
        .groupBy("dow", "hod")
        .agg(count(lit(1)).as("n"),
          sum(expr("cast(floor(value * 1000000.0) as long)")).as("value_micro"))
      StreamOps.runToMemory(s, agg, "graft_stream_heatmap")
        .select("dow", "hod", "n", "value_micro")
    }),

    "stream_topk" -> ((s, dir) => {
      // streaming top-k: the stateful windowed aggregate runs as a real
      // stream (complete mode — the sink holds the live aggregate); the
      // serving-side rank over the materialized sink picks each hour's
      // top-3 event types, the lambda-free "trending now" shape
      val out = StreamOps.runToMemory(s,
        StreamOps.windowedCounts(StreamOps.eventsStream(s, s"$dir/events.parquet")),
        "graft_stream_topk")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("window").orderBy(col("n").desc, col("event_type"))
      out.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(date_format(col("window.start"), "yyyy-MM-dd HH").as("hour"),
          col("event_type"), col("n"), col("rank").cast("long").as("rank"))
    }),

    "stream_distinct_kmv" -> ((s, dir) => {
      // streaming KMV distinct sketch (update mode, k longs of state per
      // group — never the distinct set): the converged state equals the
      // batch KmvOps sketch exactly, so the same integer-estimator replay
      // gates it; serve side takes each group's last update (max seq)
      val out = StreamOps.runToMemory(s,
        StreamOps.kmvDistinctUpdates(
          StreamOps.eventsStream(s, s"$dir/events.parquet"),
          "event_type", "user_id", k = 16),
        "graft_stream_kmv", outputMode = "update")
      StreamOps.converged(out, "event_type")
    }),

    "stream_lateness" -> ((s, dir) => {
      // streaming disorder audit (update mode, a handful of counters of
      // state per type): converged counters equal the batch
      // watermark_audit exactly — the live watermark-picker
      val out = StreamOps.runToMemory(s,
        StreamOps.latenessUpdates(
          StreamOps.eventsStream(s, eventsPathK(s, dir)),
          "event_type", "event_id", "ts_ns"),
        "graft_stream_late", outputMode = "update")
      StreamOps.converged(out, "event_type")
    }),

    "stream_distinct_hll" -> ((s, dir) => {
      // streaming HLL registers (update mode, 64 bytes of state per
      // group): the converged registers equal the batch HllOps sketch
      // exactly, so the same integer-estimator replay gates it
      val out = StreamOps.runToMemory(s,
        StreamOps.hllDistinctUpdates(
          StreamOps.eventsStream(s, s"$dir/events.parquet"),
          "event_type", "user_id", p = 6),
        "graft_stream_hll", outputMode = "update")
      StreamOps.converged(out, "event_type")
        .select(col("event_type"), lit(64L).as("m"), col("used_buckets"),
          (lit(64L) - col("used_buckets")).as("zero_buckets"),
          col("denom_q"), col("est_distinct"))
    }),

    "stream_trend" -> ((s, dir) => {
      // streaming OLS drift monitor (update mode, five power sums of
      // state per group — never the points): the converged slope equals
      // batch events_trend bit-for-bit, so the same exact-rational replay
      // gates it; serve side takes each group's last update (max seq)
      val out = StreamOps.runToMemory(s,
        StreamOps.trendUpdates(
          StreamOps.eventsStream(s, s"$dir/events.parquet"),
          "event_type",
          x = expr("ts_ns div 1000000000 - 1704067200"),
          y = expr("cast(floor(value * 1000000.0) as long)")),
        "graft_stream_trend", outputMode = "update")
      StreamOps.converged(out, "event_type")
    }),

    "stream_sessions" -> ((s, dir) => {
      val out = StreamOps.runToMemory(s,
        StreamOps.sessionCounts(StreamOps.eventsStream(s, s"$dir/events.parquet")),
        "graft_stream_sessions")
      out.groupBy("user_id").agg(
        count(lit(1)).as("n_sessions"),
        sum("n_events").as("n_events"))
    }),

    "stream_dedup" -> ((s, dir) => {
      // streaming dedup on (user_id, event_type), aggregated to a stable
      // shape: distinct users per event type
      val out = StreamOps.runToMemory(s,
        StreamOps.dedupKeys(
          StreamOps.eventsStream(s, s"$dir/events.parquet"),
          Seq("user_id", "event_type")),
        "graft_stream_dedup", outputMode = "append")
      out.groupBy("event_type").agg(count(lit(1)).as("n_users"))
    }),

    "events_sessions" -> ((s, dir) => {
      // batch gap-based sessionization (the batch face of stream_sessions):
      // one shuffle, both window passes share the user_id partitioning.
      // Exact integer µs via DIV — DuckDB's parquet reader truncates
      // TIMESTAMP_NS to µs, so µs is the engine-portable timestamp grain
      // (and long÷long double division would round ~25% of values up).
      graft.operators.Sessionize.sessionStats(
        events(s, dir).select(col("user_id"), col("event_id"),
          expr("ts_ns DIV 1000").as("ts_us")),
        Seq("user_id"), "ts_us", "event_id",
        gap = 30L * 60 * 1000 * 1000)
    }),

    "events_funnel" -> ((s, dir) => {
      // ordered conversion funnel signup → click → purchase, earliest-
      // completion semantics; numSteps conditional aggregates, no windows
      graft.operators.Funnel.funnel(
        events(s, dir), "user_id", "event_type", "ts_ns",
        Seq("signup", "click", "purchase"))
    }),

    "interval_overlap_join" -> ((s, dir) => {
      // concurrent-activity detection: per user, click sessions that
      // overlap view sessions in time — interval×interval overlap where
      // the bin pinning (overlap-start bin) makes each qualifying pair
      // meet exactly once, no distinct pass
      val ev = events(s, dir).select(col("user_id"), col("event_id"),
        col("event_type"), expr("ts_ns DIV 1000").as("ts_us"))
      // 12 h gap: the fixture's per-user inter-event spacing is tens of
      // hours, so sub-hour gaps would degenerate every session to a point
      def sessions(tpe: String, p: String) =
        graft.operators.Sessionize.sessionStats(
          ev.filter(col("event_type") === tpe).drop("event_type"),
          Seq("user_id"), "ts_us", "event_id", gap = 12L * 3600 * 1000 * 1000)
          .select(col("user_id").as(s"${p}_user"),
            col("session_id").as(s"${p}_session"),
            col("start_ts").as(s"${p}_start"),
            (col("end_ts") + 1L).as(s"${p}_end"))
      graft.operators.RangeJoin.intervalOverlapJoin(
        sessions("click", "a"), "a_start", "a_end",
        sessions("view", "b"), "b_start", "b_end",
        binWidth = 24L * 3600 * 1000 * 1000, Seq(("a_user", "b_user")))
        .select(col("a_user").as("user_id"),
          col("a_session"), col("b_session"),
          (least(col("a_end"), col("b_end")) -
            greatest(col("a_start"), col("b_start"))).as("overlap_us"))
    }),

    "events_cusum" -> ((s, dir) => {
      // sustained level-shift detection per event type: integer-exact
      // CUSUM over the daily series — the +20%-forever drift the
      // events_anomaly 2×-spike rule never fires on; counts aggregate
      // map-side to day grain before any window
      val daily = events(s, dir)
        .groupBy(col("event_type"), expr("ts_ns DIV 86400000000000").as("day"))
        .agg(count(lit(1)).as("n"))
      graft.operators.Cusum.cusumDrift(
        daily, Seq("event_type"), "day", "n", h = 3L)
    }),

    "events_anomaly" -> ((s, dir) => {
      // ingest-rate anomaly monitor: each (event_type, day) scored against
      // its trailing-7-day window with a pure integer spike rule
      // (n·window_days > 2·window_sum ⇔ n > 2×trailing mean) — counts
      // aggregate map-side to day grain first, the windows run over
      // #types×#days rows
      import org.apache.spark.sql.expressions.Window
      val daily = events(s, dir)
        .groupBy(col("event_type"), expr("ts_ns DIV 86400000000000").as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rangeBetween(-7, -1)
      daily
        .withColumn("trailing7", coalesce(sum("n").over(w), lit(0L)))
        .withColumn("trailing_days", count(lit(1)).over(w))
        .withColumn("is_spike",
          col("trailing_days") >= 3 &&
            col("n") * col("trailing_days") > col("trailing7") * 2)
    }),

    "events_resample" -> ((s, dir) => {
      // time-series gap fill: per user, dense hourly grid over the user's
      // observed span, forward-filling the latest value across silent
      // hours — events collapse to grid grain FIRST (map-side max-struct),
      // so everything downstream is bounded by time span, not event rate
      graft.operators.Resample.resampleForwardFill(
        events(s, dir).filter(col("user_id") < 50)
          .select(col("user_id"), expr("ts_ns DIV 1000").as("ts_us"),
            col("event_id"), col("value")),
        Seq("user_id"), "ts_us", "event_id", "value",
        step = 3600L * 1000 * 1000)
    }),

    "events_histogram" -> ((s, dir) => {
      // fixed-width binning; bin ids via one IEEE division + floor, so the
      // histogram is engine-portable exact
      events(s, dir)
        .groupBy(floor(col("value") / 25.0d).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          min("value").as("min_v"), max("value").as("max_v"))
    }),

    "stream_running_count" -> ((s, dir) => {
      // flatMapGroupsWithState custom state machine (update mode); the
      // running count is monotone, so max() over the update stream = final
      val out = StreamOps.runToMemory(s,
        StreamOps.runningUserCounts(
          StreamOps.eventsStream(s, s"$dir/events.parquet")),
        "graft_stream_running", outputMode = "update")
      out.groupBy("user_id").agg(max("n_events").as("n_events"))
    }),

    "stream_interval_join" -> ((s, dir) => {
      // stream-STREAM interval join (self-join of the event stream): each
      // purchase paired with the user's clicks in the following hour; both
      // sides buffer in the state store, evicted by the watermark
      val ev = StreamOps.eventsStream(s, s"$dir/events.parquet")
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_event_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("c_event_id"), col("ts"))
      val joined = StreamOps.intervalJoin(
        purch, clicks, Seq("user_id"), "0 SECOND", "1 HOUR")
      StreamOps.runToMemory(s,
        joined.select("p_event_id", "user_id", "c_event_id"),
        "graft_stream_ivj", outputMode = "append")
        .groupBy("p_event_id", "user_id")
        .agg(count(lit(1)).as("n_clicks"))
    }),

    "stream_skew_interval" -> ((s, dir) => {
      // the stream-STREAM interval join under skew salting: the CMS over a
      // static historical sample (here: the same day's events read as batch)
      // gates per-key replication; emitted multiset must equal the unsalted
      // join — the oracle is the identical batch SQL
      val ev = StreamOps.eventsStream(s, s"$dir/events.parquet")
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_event_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("v_event_id"), col("ts"))
      val hist = events(s, dir).select("user_id")
      val joined = StreamOps.skewedIntervalJoin(
        purch, views, Seq("user_id"), "0 SECOND", "30 MINUTE",
        hotKeySource = hist,
        conf = graft.skew.SkewJoinConf(CMSeps = 1e-4, replicationFactor = 0.05))
      StreamOps.runToMemory(s,
        joined.select("p_event_id", "user_id", "v_event_id"),
        "graft_stream_skivj", outputMode = "append")
        .groupBy("p_event_id", "user_id")
        .agg(count(lit(1)).as("n_views"))
    }),

    "stream_skew_adaptive" -> ((s, dir) => {
      // the skewed stream-STREAM interval join with a REFRESHED hotness
      // model: the sketch is seeded from only the even-event-id half of the
      // day (the "historical sample"), then the odd half streams through a
      // foreachBatch monitor that folds each micro-batch into the model
      // before the join starts — the restart-with-fresher-model shape
      // production uses. Salting stays transparent: oracle = plain batch
      // interval join, same as stream_skew_interval
      val hist = events(s, dir)
        .filter(col("event_id") % 2 === 0).select("user_id")
      val hot = new RefreshableHotness(
        Seq("user_id"),
        graft.skew.SkewJoinConf(CMSeps = 1e-4, replicationFactor = 0.05),
        Some(hist))
      val mon = hot.attachMonitor(
        StreamOps.eventsStream(s, s"$dir/events.parquet")
          .filter(col("event_id") % 2 === 1).select("user_id"))
      try mon.processAllAvailable() finally mon.stop()
      val ev = StreamOps.eventsStream(s, s"$dir/events.parquet")
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_event_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("v_event_id"), col("ts"))
      val joined = StreamOps.skewedIntervalJoinAdaptive(
        purch, views, Seq("user_id"), "0 SECOND", "30 MINUTE", hot)
      StreamOps.runToMemory(s,
        joined.select("p_event_id", "user_id", "v_event_id"),
        "graft_stream_adskivj", outputMode = "append")
        .groupBy("p_event_id", "user_id")
        .agg(count(lit(1)).as("n_views"))
    }),

    "stream_skewjoin" -> ((s, dir) => {
      val cust = t(s, dir, "customer").withColumnRenamed("c_custkey", "user_id")
      val joined = StreamOps.streamStaticSkewJoin(
        StreamOps.eventsStream(s, s"$dir/events.parquet"), cust, Seq("user_id"))
      val agg = joined.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), min("value").as("min_v"), max("value").as("max_v"))
      StreamOps.runToMemory(s, agg, "graft_stream_skewjoin")
    }),

    "events_transitions" -> ((s, dir) => {
      // first-order Markov path analysis: where do users go next. ONE
      // user-partitioned window + one map-side-combined count; n_from
      // comes from re-aggregating the (tiny) count table, never a second
      // events pass
      graft.operators.Transitions.transitionCounts(
        events(s, dir), "user_id", "event_type", "ts_ns", "event_id")
    }),

    "join_size_cms" -> ((s, dir) => {
      // sketch-based join planning: predict |events ⋈ orders| from two
      // depth×width CM sketches (constant-size shuffle however big the
      // inputs), side by side with the true size — the estimate is the
      // min-of-inner-products upper bound, within e/width·|A|·|B|
      val ev = events(s, dir)
      val ord = t(s, dir, "orders")
      val est = graft.sketch.JoinSizeEstimate.estimate(
        ev, "user_id", ord, "o_custkey")
      val actual = ev.join(ord, col("user_id") === col("o_custkey"))
        .agg(count(lit(1)).as("actual_join_size"))
      est.crossJoin(actual)
    }),

    "label_spread" -> ((s, dir) => {
      // semi-supervised labeling: every 4th vector keeps its hand label
      // (the broadcast seed set); the rest get the majority vote of their
      // 5 cosine-nearest seeds — corpus scanned once, shuffle-free until
      // the per-vector top-k/vote
      val emb = t(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") % 4 === 0)
      val unlabeled = emb.filter(col("vec_id") % 4 =!= 0)
      graft.llm.Similarity.labelSpread(
        unlabeled, "vec_id", "embedding",
        seeds, "vec_id", "embedding", "label", k = 5)
    }),

    "label_confusion" -> ((s, dir) => {
      // labeling-quality eval: the label_spread predictions scored against
      // the held-out true labels as a confusion matrix — the report that
      // decides whether semi-supervised labels are clean enough to train
      // on; one broadcast-seed spread + one id-grain join + one aggregate
      val emb = t(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") % 4 === 0)
      val unlabeled = emb.filter(col("vec_id") % 4 =!= 0)
      graft.llm.Similarity.labelSpread(
        unlabeled, "vec_id", "embedding",
        seeds, "vec_id", "embedding", "label", k = 5)
        .join(emb.select(col("vec_id"),
          col("label").cast("long").as("true_label")), "vec_id")
        .groupBy("true_label", "pred_label")
        .agg(count(lit(1)).as("n"))
    }),

    "triangle_count" -> ((s, dir) => {
      // graph cohesion over the co-purchase graph (parts sharing an
      // order): degree-ordered wedge join, the skew-safe orientation that
      // bounds per-node fan-out at O(sqrt(m)) — the oracle counts the same
      // triangles with the naive a<b<c three-way join
      val li = t(s, dir, "lineitem")
        .filter(col("l_partkey") % 3 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val co = li.withColumnRenamed("pk", "pa")
        .join(li.withColumnRenamed("pk", "pb"), "ok")
        .filter(col("pa") < col("pb"))
      graft.operators.Triangles.triangleCount(co, "pa", "pb")
    }),

    "graph_link_predict" -> ((s, dir) => {
      // co-purchase link prediction: customer pairs scored by shared
      // parts — common-neighbor count + integer resource-allocation
      // (Σ 10⁶ div deg) — with the hot-right-node degree cap applied
      // BEFORE the wedge self-join (the quadratic-blowup guard)
      val edges = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      graft.operators.LinkPredict.commonNeighborPairs(
        edges, "c", "p", minCommon = 5, maxViaDegree = 1000)
    }),

    "dedup_jaccard_exact" -> ((s, dir) => {
      // EXACT similarity self-join (no LSH misses): prefix-filtered
      // AllPairs on word 3-gram sets (16k+ distinct grams — the element
      // cardinality the prefix filter needs; unigrams over this corpus's
      // 31-token vocabulary would make every pair a candidate), rational
      // threshold 1/2 so every boundary comparison is integer arithmetic
      graft.llm.Dedup.exactJaccardJoin(
        tk(s, dir, "documents"), "doc_id", "text",
        tNum = 1, tDen = 2, ngram = 3)
    }),

    "dedup_edit" -> ((s, dir) => {
      // EXACT edit-distance similarity join (typo/OCR-variant dedup):
      // every pair within 4 Levenshtein edits of each other's normalized
      // text, found by PassJoin-style segment blocking (d+1 segments,
      // pigeonhole equi-join on (len, segIdx, segment)) — never an
      // all-pairs stage — then banded-levenshtein verified
      graft.llm.Dedup.editDistancePairs(
        t(s, dir, "documents"), "doc_id", "text", maxDist = 4)
    }),

    "dedup_containment" -> ((s, dir) => {
      // EXACT directed containment join (quote/mirror detection): every
      // ordered (a, b) where b holds ≥ 2/3 of a's word-3-gram set —
      // the asymmetric question Jaccard dilutes away for short-in-long
      // duplication; probe-prefix × full-postings candidates, integer
      // thresholds, linear-merge verify
      graft.llm.Dedup.exactContainmentJoin(
        tk(s, dir, "documents"), "doc_id", "text",
        tNum = 2, tDen = 3, ngram = 3)
    }),

    "record_linkage" -> ((s, dir) => {
      // entity resolution: a "dirty" re-keyed copy of every 3rd customer
      // (one name char deleted) is linked back via two blocking keys —
      // the name's last 4 digits (deletion-stable) and a
      // (nation, floor(balance)) composite — then Levenshtein-verified,
      // best match per dirty record
      val cust = t(s, dir, "customer")
      val dirty = cust.filter(col("c_custkey") % 3 === 0)
        .select((col("c_custkey") + 1000000L).as("d_id"),
          concat(substring(col("c_name"), 1, 9),
            substring(col("c_name"), 11, 20)).as("d_name"),
          col("c_nationkey").as("d_nat"), col("c_acctbal").as("d_bal"))
      graft.operators.RecordLinkage.linkBest(
        dirty, "d_id", "d_name", cust, "c_custkey", "c_name",
        Seq(
          (expr("right(d_name, 4)"), expr("right(c_name, 4)")),
          (concat(col("d_nat").cast("string"), lit(":"),
            floor(col("d_bal")).cast("long").cast("string")),
            concat(col("c_nationkey").cast("string"), lit(":"),
              floor(col("c_acctbal")).cast("long").cast("string")))),
        maxDistance = 2)
    }),

    "frequent_pairs" -> ((s, dir) => {
      // market-basket affinity: top-25 co-purchased part pairs with both
      // marginals; per-basket self-join fan-out is basket-size², top-k
      // plans as TakeOrderedAndProject (no global sort shuffle)
      graft.operators.MarketBasket.frequentPairs(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey", k = 25)
    }),

    "skew_advisor" -> ((s, dir) => {
      // measured skew report for a prospective shuffle on user_id: exact
      // hot-key counts, ppm shares, and the salt count that would level
      // each key at 32 partitions — the data-derived input to
      // SkewJoinConf; all integer arithmetic, TakeOrdered top-k
      graft.skew.SkewAdvisor.advise(
        events(s, dir).select("user_id"), Seq("user_id"),
        topK = 20, numPartitions = 32)
    }),

    "graph_communities" -> ((s, dir) => {
      // LPA communities over the triangle_count co-purchase graph:
      // 3 synchronous rounds, deterministic (count desc, label asc) ties
      val li = t(s, dir, "lineitem")
        .filter(col("l_partkey") % 3 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val co = li.withColumnRenamed("pk", "pa")
        .join(li.withColumnRenamed("pk", "pb"), "ok")
        .filter(col("pa") < col("pb"))
      graft.operators.Communities.labelPropagation(co, "pa", "pb", iters = 3)
    }),

    "graph_modularity" -> ((s, dir) => {
      // the global audit LPA itself can't give: per-community Newman Q
      // contributions over the same co-purchase graph, exact sign-split
      // ppm — says whether label propagation found real structure (Q > 0)
      // or shredded/over-merged it, community by community
      val li = t(s, dir, "lineitem")
        .filter(col("l_partkey") % 3 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val co = li.withColumnRenamed("pk", "pa")
        .join(li.withColumnRenamed("pk", "pb"), "ok")
        .filter(col("pa") < col("pb"))
      val comm = graft.operators.Communities.labelPropagation(co, "pa", "pb", iters = 3)
      graft.operators.Communities.modularity(co, "pa", "pb", comm)
    }),

    "graph_kcore" -> ((s, dir) => {
      // 3-core kernel of the same co-purchase graph: 3 synchronous peels,
      // surviving (id, degree) — the dense hearts LPA still attaches
      // stragglers to
      val li = t(s, dir, "lineitem")
        .filter(col("l_partkey") % 3 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val co = li.withColumnRenamed("pk", "pa")
        .join(li.withColumnRenamed("pk", "pb"), "ok")
        .filter(col("pa") < col("pb"))
      graft.operators.KCore.kCore(co, "pa", "pb", k = 3, rounds = 3)
    }),

    "q18_big_orders" -> ((s, dir) => {
      // TPC-H Q18 shape: pre-aggregate lineitem and FILTER before any
      // join (the group-filter-join order that shrinks the join input to
      // the qualifying orders), then attach order/customer detail
      val big = t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum("l_quantity").as("total_qty"))
        .filter(col("total_qty") > 250)
      big.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "total_qty")
    }),

    "q13_custdist" -> ((s, dir) => {
      // TPC-H Q13 shape: customer order-count distribution — the
      // canonical left-outer-join + double aggregate. count(o_orderkey)
      // (not count(*)) keeps zero-order customers as c_count=0; the
      // order-side predicate applies BEFORE the join (pushdown to the
      // scan), never as a post-join filter that would turn matched rows
      // into spurious zero groups
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
    }),

    "pipeline_curate" -> ((s, dir) => {
      // three curation stages composed end-to-end — the shape a real
      // pretraining data pipeline chains them in: rule filter → exact
      // dedup (keep-first on normalized text) → per-source accounting.
      // Each stage is an operator with its own oracle-gated query; this
      // pins that they COMPOSE correctly (one plan, no materialization
      // between stages)
      val kept = graft.llm.TextStats.gopherFlags(t(s, dir, "documents"), "text")
        .filter(col("keep"))
      val deduped = graft.llm.Dedup.exactDedup(
        kept.withColumn("__norm", graft.llm.TextStats.normalizeText(col("text"))),
        Seq("__norm"), "doc_id")
      deduped.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("doc_id").as("sum_ids"),
        sum(graft.llm.TextStats.tokenCount(col("text")).cast("long")).as("sum_tokens"))
    }),

    "intervals_coalesce" -> ((s, dir) => {
      // per-user activity spans: each event opens a 30-minute window; the
      // sweep merges overlapping/touching windows into maximal disjoint
      // spans (one Exchange+Sort for both window passes)
      val e = events(s, dir).select(col("user_id"), col("event_id"),
        expr("ts_ns DIV 1000").as("s_us"),
        (expr("ts_ns DIV 1000") + lit(1800000000L)).as("e_us"))
      graft.operators.Intervals.coalesceIntervals(
        e, Seq("user_id"), "s_us", "e_us", "event_id")
    }),

    "benford_audit" -> ((s, dir) => {
      // forensic first-digit screen of order totals vs Benford's law —
      // integer-exact digit extraction (floor before the bigint cast; no
      // float log10 near power-of-ten edges), ppm deviations per digit
      graft.operators.RobustStats.benfordAudit(
        t(s, dir, "orders"), "o_totalprice")
    }),

    "table_profile" -> ((s, dir) => {
      // ANALYZE-style stats for five lineitem columns in ONE pass (single
      // Expand-fed aggregate, the COMPUTE STATISTICS plan); l_quantity
      // pre-cast to long so min/max render engine-identically
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_partkey"), col("l_quantity").cast("long").as("l_quantity"),
        col("l_returnflag"), col("l_shipdate"))
      graft.sources.TableProfile.profile(li, Seq("l_orderkey", "l_partkey",
        "l_quantity", "l_returnflag", "l_shipdate"))
    }),

    "quality_constraints" -> ((s, dir) => {
      // Deequ-style ingest gate over orders: six constraints, ONE shared
      // scan for the row-level four (not-null/range/set/regex), one
      // groupBy for uniqueness, one anti-join against customer for
      // referential integrity — a mixed pass/fail report by design (the
      // range and status-set constraints are deliberately violated)
      import graft.sources.Constraints.Constraint._
      graft.sources.Constraints.check(t(s, dir, "orders"), Seq(
        NotNull("o_custkey"),
        Unique(Seq("o_orderkey")),
        InRange("o_totalprice", 0.0, 300000.0),
        InSet("o_orderstatus", Seq("O", "F")),
        Matches("o_orderpriority", "[1-5]-[A-Z ]+"),
        SubsetOf("o_custkey", t(s, dir, "customer"), "c_custkey"),
        // deliberately failing k-anonymity: single-order customers are
        // re-identifiable at QI grain o_custkey
        KAnonymity(Seq("o_custkey"), 2),
        // homogeneity attack: customers whose orders all share one status
        // leak it even when k-anonymous
        LDiversity(Seq("o_custkey"), "o_orderstatus", 2)))
    }),

    "key_contract_audit" -> ((s, dir) => {
      // the PRODUCTION face of the primary-key contract: a 100-TB
      // pipeline audits its ids ONCE at ingest — NotNull + Unique folded
      // into each table's shared constraint pass — then runs the operator
      // surface unchecked; six report rows, zeros on a healthy corpus,
      // exact violation counts on a bad ingest (the strict-mode gate
      // [[graft.sources.KeyContract]] is the fuzz-harness face of the
      // same contract, so this query is key-corruption-DEFINED by design
      // and stays oracle-matched on the bad-key fuzz family)
      import graft.sources.Constraints.Constraint._
      pkOf.toSeq.sortBy(_._1).map { case (tab, key) =>
        graft.sources.Constraints.check(t(s, dir, tab),
          Seq(NotNull(key), Unique(Seq(key))))
          .withColumn("table_name", lit(tab))
      }.reduce(_ unionAll _)
    }),

    "decontaminate_fuzzy" -> ((s, dir) => {
      // whole-document fuzzy decontamination: train docs ≥ 1/2 3-gram
      // Jaccard similar to ANY benchmark doc (every 50th doc plays the
      // benchmark), via the exact R-S prefix join — the policy the
      // shared-gram decontaminate family can't express
      val docs = tk(s, dir, "documents")
      graft.llm.Dedup.exactJaccardJoinBetween(
        docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text",
        tNum = 1, tDen = 2, ngram = 3)
    }),

    "q_unpivot" -> ((s, dir) => {
      // UNPIVOT/melt breadth: wide metric columns to (metric, value) rows,
      // then a per-(flag, metric) profile — min/max only on the non-integral
      // doubles (oracle-safety convention)
      t(s, dir, "lineitem")
        .select("l_returnflag", "l_quantity", "l_extendedprice", "l_discount")
        .unpivot(Array(col("l_returnflag")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "v")
        // SQL UNPIVOT semantics: a NULL measure is an ABSENT cell, not a
        // row — Spark's unpivot keeps it, so drop explicitly (r15 fuzz)
        .filter(col("v").isNotNull)
        .groupBy("l_returnflag", "metric")
        .agg(count(lit(1)).as("n"), min("v").as("min_v"), max("v").as("max_v"))
    }),

    "html_strip" -> ((s, dir) => {
      // CommonCrawl-style HTML→text first pass over a synthetic page built
      // around each doc: script/style blocks dropped WITH their content
      // (the `1 < 2` in the script must not leak), tags stripped, the six
      // ubiquitous entities decoded (amp last), whitespace collapsed
      val page = concat(
        lit("<html><head><script type=\"text/javascript\">var x = 1 < 2;</script>"),
        lit("<style>body { color: red; }</style></head><body>"),
        lit("<h1 class=\"t\">Doc &amp; title</h1><p>"),
        col("text"),
        lit("</p><div>A &lt;tag&gt; &quot;quoted&quot; &#39;x&#39;&nbsp;end</div></body></html>"))
      t(s, dir, "documents").select(col("doc_id"),
        graft.llm.TextStats.stripHtml(page).as("clean_text"))
        .withColumn("n_chars", length(col("clean_text")).cast("long"))
    }),

    "token_drift" -> ((s, dir) => {
      // per-source vocabulary drift between two simulated crawls (same
      // slice shapes as corpus_diff): integer-exact total-variation ppm
      // over the token distributions
      val docs = t(s, dir, "documents").select("doc_id", "source", "text")
      val a = docs.filter(col("doc_id") % 17 =!= 0)
      val b = docs.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" drift marker tokens"))).otherwise(col("text")))
      graft.llm.TextStats.tokenDriftTV(a, b, "source", "text")
    }),

    "text_nfc" -> ((s, dir) => {
      // Unicode canonicalization census: decomposed combining sequences
      // (injected deterministically — the corpus fixture is ASCII) are
      // NFC-composed by the codegen'd NfcNormalize expression; per-source
      // counts of touched docs and chars composed away. ASCII docs take
      // the zero-allocation fast path.
      val raw = t(s, dir, "documents").select("doc_id", "source", "text")
        .withColumn("raw", when(col("doc_id") % 7 === 0,
          // DECOMPOSED "cafe" + U+0301 — the sequence NFC composes to é
          concat(col("text"), lit(" café"))).otherwise(col("text")))
      raw.withColumn("nfc", graft.functions.NfcNormalize.nfcNormalize(col("raw")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("nfc") =!= col("raw"), 1L).otherwise(0L)).as("n_changed"),
          sum((length(col("raw")) - length(col("nfc"))).cast("long"))
            .as("chars_composed"))
    }),

    "ngram_diversity" -> ((s, dir) => {
      // per-source distinct-n corpus diversity audit: distinct character
      // trigrams over the whole source vs total trigram occurrences,
      // integer ppm — low ratio flags template/boilerplate-heavy sources
      graft.llm.TextStats.ngramDiversity(
        t(s, dir, "documents").select("source", "text"), "source", "text", n = 3)
    }),

    "shard_by_tokens" -> ((s, dir) => {
      // token-balanced export sharding: cut the corpus in doc_id order
      // into 8 contiguous shards of near-equal token mass (distributed
      // prefix sum, no global window), then report the per-shard balance
      // NULL-text docs have no token count → not shardable (oracle-pinned)
      val docs = tk(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.llm.TextStats.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.llm.SequencePack.shardByTokens(docs, "doc_id", "n_tokens", nShards = 8)
        .groupBy("shard_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
    }),

    "cdc_apply" -> ((s, dir) => {
      // last-writer-wins changelog fold: base = one doc slice; the log
      // carries two update generations (u1 at seq·10+1, u2 at seq·10+2),
      // deletes as the latest op for every 7th doc, and early inserts for
      // every 13th — the bounded per-key argmax must pick u2 over u1,
      // the delete over both, and pass untouched base docs through
      val docs = tk(s, dir, "documents").select("doc_id", "text")
      val base = docs.filter(col("doc_id") % 17 =!= 0)
      def slice(m: Int, suffix: String, o: String, seqOff: Int) =
        docs.filter(col("doc_id") % m === 0).select(
          col("doc_id"), concat(col("text"), lit(suffix)).as("text"),
          lit(o).as("op"), (col("doc_id") * 10 + seqOff).as("seq"))
      val changelog = slice(13, " ins", "I", 0)
        .unionAll(slice(5, " u1", "U", 1))
        .unionAll(slice(10, " u2", "U", 2))
        .unionAll(slice(7, "", "D", 3))
      graft.operators.CdcApply.applyChangelog(
        base, changelog, Seq("doc_id"), Seq("text"))
    }),

    "stream_cdc_apply" -> ((s, dir) => {
      // the cdc_apply changelog replayed THROUGH the streaming state fold:
      // per-key last-writer-wins in flatMapGroupsWithState (one
      // (seq,op,attr) of state per key), serve-side max-seq pick, then the
      // same one-join apply against the batch base — converges to the
      // batch cdc_apply result exactly, so it shares that oracle's shape
      val docsB = t(s, dir, "documents").select("doc_id", "text")
      val base = docsB.filter(col("doc_id") % 17 =!= 0)
      val ds = StreamOps.parquetStream(s, s"$dir/documents.parquet")
        .select("doc_id", "text")
      def slice(m: Int, suffix: String, o: String, seqOff: Int) =
        ds.filter(col("doc_id") % m === 0).select(
          col("doc_id"), concat(col("text"), lit(suffix)).as("text"),
          lit(o).as("op"), (col("doc_id") * 10 + seqOff).as("seq"))
      val changelog = slice(13, " ins", "I", 0)
        .unionAll(slice(5, " u1", "U", 1))
        .unionAll(slice(10, " u2", "U", 2))
        .unionAll(slice(7, "", "D", 3))
      val mem = StreamOps.runToMemory(s,
        StreamOps.cdcLastWriterUpdates(changelog, "doc_id", "text"),
        "graft_stream_cdc", outputMode = "update")
      val last = graft.operators.GroupedTopK.topKPerGroup(
        mem, Seq("doc_id"), Seq(col("seq")), 1, "__r", ascending = false)
        .drop("__r")
        .select(col("doc_id").cast("long").as("doc_id"),
          col("text"), col("op"), col("seq"))
      graft.operators.CdcApply.applyChangelog(
        base, last, Seq("doc_id"), Seq("text"))
    }),

    "sample_cap_per_group" -> ((s, dir) => {
      // long-tail flattening: at most 15 docs per source, chosen by the
      // portable md5 sampling hash — bounded-state GroupedTopK (≤ k rows
      // per source × map task through the exchange), not a rank-everything
      // window or GroupedRank pass
      graft.llm.Sampling.capPerGroup(
        tk(s, dir, "documents").select("doc_id", "source", "lang"),
        "doc_id", "source", k = 15)
    }),

    "scd2_merge" -> ((s, dir) => {
      // SCD2 snapshot fold (corpus-versioning apply-side): "yesterday's"
      // history (current rows from one doc slice + a pre-closed v0 slice)
      // merged with "today's" snapshot (different slice, every 11th doc
      // edited) at version 2 — changed docs close + reopen, missing docs
      // close, new docs open, historical rows pass through untouched
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val curHist = docs.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"), col("text"), lit(1L).as("valid_from"),
          lit(null).cast("long").as("valid_to"), lit(true).as("is_current"))
      val pastHist = docs.filter(col("doc_id") % 19 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" v0")).as("text"),
          lit(0L).as("valid_from"), lit(1L).as("valid_to"),
          lit(false).as("is_current"))
      val snapshot = docs.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.operators.Scd2.mergeSnapshot(
        curHist.unionAll(pastHist), snapshot,
        Seq("doc_id"), Seq("text"), version = 2L)
    }),

    "events_grouped_topk" -> ((s, dir) => {
      // skew-safe per-group top-k: bounded-state TopKAgg ships ≤ k rows
      // per (group × map task) — never the whole group through the
      // exchange, never a hot-group single-task sort (the window
      // formulation this replaces does both); 3 smallest (value, event_id)
      // per event_type, ties total-ordered by event_id
      graft.operators.GroupedTopK.topKPerGroup(
        tk(s, dir, "events").select("event_id", "user_id", "event_type", "value"),
        Seq("event_type"), Seq(col("value"), col("event_id")), k = 3)
    }),

    "skewjoin_typed" -> ((s, dir) => {
      // typed skewJoinWith (the reference's own unshipped Dataset-API TODO,
      // README.md:27) oracle-gated on an OUTER type: customers with no
      // orders must surface a NULL _2 slot (presence-marker semantics, not
      // data-column nullness) — flattened to columns for the DuckDB hash
      // compare, with `unmatched` pinning the null-slot itself
      import s.implicits._
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").as("custkey"), col("c_name")).as[TKCust]
      val ord = t(s, dir, "orders")
        .select(col("o_custkey").as("custkey"), col("o_orderkey"),
          col("o_totalprice")).as[TKOrd]
      new graft.skew.SkewJoin.SkewJoinTypedOps(cust)
        .skewJoinWith(ord, Seq("custkey"), "left_outer", testConf)
        .select(
          col("_1.custkey").as("custkey"),
          col("_1.c_name").as("c_name"),
          col("_2.o_orderkey").as("o_orderkey"),
          col("_2.o_totalprice").as("o_totalprice"),
          col("_2").isNull.as("unmatched"))
    }),

    "partition_diag" -> ((s, dir) => {
      // U1/U3 diagnostics oracle-gated END-TO-END: partition ids are
      // normally an execution property, but `repartition(16, key)` is
      // HashPartitioning, whose id is the pure arithmetic
      // `pmod(murmur3_x86_32_hashLong(key, seed=42), 16)` — the DuckDB
      // oracle (mm3PidSql) replays that hash step-by-step, so per-partition
      // counts AND the reference's percentile rule `ceil((n−1)·p/100)` over
      // the sorted counts (Utils.scala:31-43, U3 showPartitionStats) get a
      // real hash-compare instead of a rows-only check. (groupBy(pid) sees
      // only non-empty partitions; at this scale all 16 are non-empty, and
      // the oracle has identical only-non-empty semantics.)
      import org.apache.spark.sql.expressions.Window
      val counts = t(s, dir, "lineitem")
        .repartition(16, col("l_orderkey"))
        .groupBy(spark_partition_id().as("pid"))
        .agg(count(lit(1)).as("n"))
      // tiny frame (≤16 rows): a single-partition window sort is fine here
      val ranked = counts
        .withColumn("rk", row_number().over(Window.orderBy(col("n"))))
      val totals = counts.agg(
        count(lit(1)).as("n_partitions"), sum("n").as("total_records"))
      // reference index rule: sortedCounts(ceil((n−1)·p/100)), 0-based
      def pctAt(p: Int) = max(when(
        col("rk") - 1 === ceil((col("n_partitions") - 1) * lit(p) / 100.0),
        col("n")))
      ranked.crossJoin(broadcast(totals))
        .agg(
          min(col("n_partitions")).as("n_partitions"),
          min(col("total_records")).as("total_records"),
          pctAt(0).as("p0"), pctAt(25).as("p25"), pctAt(50).as("p50"),
          pctAt(75).as("p75"), pctAt(100).as("p100"))
    }),

    "events_changepoint" -> ((s, dir) => {
      // WHEN did the metric jump: best single mean-shift split of the
      // daily metric-mass grid per event type — the locating sibling of
      // events_cusum's "has it drifted" alarm; prefix sums + argmax run
      // on the #types × #days grid frame, never on raw events, and the
      // truncated-ppm argmax (ties to the earliest day) is the documented
      // cross-engine convention
      graft.operators.ChangePoint.meanShiftChangePoint(
        events(s, dir), Seq("event_type"),
        x = expr("ts_ns div 86400000000000"),
        y = expr("cast(floor(value * 1000000.0) as long)"))
    }),

    "events_paths" -> ((s, dir) => {
      // top journeys: complete per-(user, day) event-type sequences
      // counted corpus-wide — the full-path face beside
      // events_transitions' one-hop matrix; top-20 by (windows desc,
      // path) is a deterministic total order, and the per-window fold is
      // the bounded collect_list every per-user window here assumes
      graft.operators.Paths.pathCensus(
        events(s, dir), "user_id",
        windowCol = expr("ts_ns div 86400000000000"),
        stateCol = "event_type", tsCol = "ts_ns", tieCol = "event_id")
        .orderBy(col("n_windows").desc, col("path")).limit(20)
    }),

    "events_attribution_position" -> ((s, dir) => {
      // U-shaped multi-touch beside events_attribution's last-touch:
      // every click in the purchase's 7-day window earns 40/20/40
      // position credit in exact micro-units — Σcredit = value per
      // purchase (the conservation invariant the integer convention
      // buys); rolled up per position bucket
      val ev = events(s, dir)
      // restricted to the operator's documented domain (credits conserve a
      // NON-NEGATIVE value; uShapedCredits raises otherwise) — refunds/
      // chargebacks are a different operator, not silently-wrong credit
      val purch = ev.filter(col("event_type") === "purchase" &&
          col("value") >= 0).select(
        col("event_id").as("p_event_id"), col("user_id").as("p_user_id"),
        col("ts_ns").as("p_ts_ns"),
        expr("cast(floor(value * 1000000.0) as long)").as("value_micro"))
      val clicks = ev.filter(col("event_type") === "click").select(
        col("event_id").as("c_event_id"), col("user_id").as("c_user_id"),
        col("ts_ns").as("c_ts_ns"))
      graft.operators.Attribution.uShapedCredits(
        purch, "p_event_id", "p_user_id", "p_ts_ns", "value_micro",
        clicks, "c_event_id", "c_user_id", "c_ts_ns",
        windowNs = 604800000000000L)
        .groupBy("position")
        .agg(count(lit(1)).as("n_touches"),
          count_distinct(col("p_event_id")).as("n_purchases"),
          sum("credit_micro").as("credit_micro"))
    }),

    "fd_discovery" -> ((s, dir) => {
      // functional-dependency audit: four candidate A→B dependencies over
      // ONE orders scan (explode to (fd, lhs, rhs) triples — never a scan
      // per candidate); o_orderkey→o_custkey must hold (orderkey is the
      // key), the status/priority candidates grade how broken a
      // non-dependency is via max_rhs_per_key
      graft.operators.FunctionalDeps.fdProfile(
        t(s, dir, "orders"), Seq(
          "o_orderkey" -> "o_custkey",
          "o_custkey" -> "o_orderstatus",
          "o_orderpriority" -> "o_orderstatus",
          "o_orderstatus" -> "o_orderpriority"))
    }),

    "events_holt" -> ((s, dir) => {
      // trend-aware smoothing beside events_ewma: Holt's level+trend
      // recurrence (α=1/4, β=1/2) over the daily metric-mass grid in
      // exact integers — simple EWMA lags a trending series, the second
      // smoothed term fixes it; one grid pass + one codegen'd fold
      graft.operators.Trend.holtIntSeries(
        events(s, dir), Seq("event_type"),
        x = expr("ts_ns div 86400000000000"),
        y = expr("cast(floor(value * 1000000.0) as long)"))
    }),

    "events_heavy_changers" -> ((s, dir) => {
      // window-over-window movers: per (user, type) activity in the first
      // vs second half of the corpus horizon, top-25 by |Δ| (ties by
      // user then type — deterministic edge); the "what changed" triage
      // view beside events_anomaly's per-day spikes. One groupBy +
      // TakeOrdered, never a global sort
      val ev = events(s, dir)
      val bounds = ev.agg(
        expr("min(ts_ns) div 86400000000000").as("__mn"),
        expr("max(ts_ns) div 86400000000000").as("__mx"))
      ev.crossJoin(broadcast(bounds))
        .withColumn("__inA",
          expr("ts_ns div 86400000000000") < expr("(__mn + __mx + 1) div 2"))
        .groupBy("user_id", "event_type")
        .agg(sum(when(col("__inA"), 1L).otherwise(0L)).as("n_a"),
          sum(when(!col("__inA"), 1L).otherwise(0L)).as("n_b"))
        .withColumn("delta", abs(col("n_b") - col("n_a")))
        .orderBy(col("delta").desc, col("user_id"), col("event_type"))
        .limit(25)
    }),

    "dedup_threshold_sweep" -> ((s, dir) => {
      // threshold-choice evidence: the EXACT pair mass by similarity band
      // (jaccard-twentieths, integer band = (20·|A∩B|) div |A∪B|) from one
      // prefix-filtered AllPairs run at 0.4 — how many pairs a 0.5 vs 0.6
      // vs 0.8 threshold would keep, with the cumulative at-or-above
      // count via one reverse cumsum over the ≤13-row band grid
      import org.apache.spark.sql.expressions.Window
      val pairs = graft.llm.Dedup.exactJaccardJoin(
        tk(s, dir, "documents"), "doc_id", "text",
        tNum = 2, tDen = 5, ngram = 3)
      val hist = pairs
        .withColumn("band", expr("(n_intersect * 20L) div n_union"))
        .groupBy("band").agg(count(lit(1)).as("n_pairs"))
      val w = Window.orderBy(col("band").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      hist.withColumn("n_at_or_above", sum("n_pairs").over(w))
    }),

    "graph_seed_distance" -> ((s, dir) => {
      // contamination blast radius: BFS hop distance (≤3) from flagged
      // docs (doc_id % 15 — the deterministic stand-in for a canary hit)
      // through the near-dup pair graph — hop 1 = the flagged docs'
      // paraphrases, hop 2 = theirs; the primitive between CC ("same
      // cluster at any distance") and a plain join ("direct neighbor")
      graft.operators.SeedDistance.seedDistances(
        neardupPairs(s, dir), "id_a", "id_b",
        tk(s, dir, "documents").filter(col("doc_id") % 15 === 0),
        "doc_id", maxHops = 3)
    }),

    "multimodal_bmp" -> ((s, dir) => {
      // REAL uncompressed-BMP decode (JDK DIB reader): per-doc synthesized
      // 24-bit BMP with its own generating formula, decoded back through
      // the same format-agnostic ImageIO path — the third lossless codec
      // beside PNG and TIFF, shrinking the opaque stand-in surface further
      graft.llm.Multimodal.documentBmpStats(s, tk(s, dir, "documents"))
    }),

    "events_seasonality" -> ((s, dir) => {
      // day-of-week-adjusted volume residuals: each (type, day) scored
      // against ITS weekday's mean (truncated div — the documented
      // convention), the seasonal sibling of events_anomaly's trailing
      // window — a Monday spike that is merely "every Monday" stops
      // alarming; grid grain end to end
      val daily = events(s, dir)
        .groupBy(col("event_type"), expr("ts_ns div 86400000000000").as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("dow", pmod(col("day"), lit(7L)))
      val base = daily.groupBy("event_type", "dow")
        .agg(sum("n").as("__sn"), count(lit(1)).as("__nd"))
        .withColumn("baseline", expr("__sn div __nd"))
        .select("event_type", "dow", "baseline")
      daily.join(base, Seq("event_type", "dow"))
        .withColumn("excess_ppm",
          when(col("n") >= col("baseline"),
            expr("((n - baseline) * 1000000) div baseline"))
            .otherwise(-expr("((baseline - n) * 1000000) div baseline")))
        .select("event_type", "day", "dow", "n", "baseline", "excess_ppm")
    }),

    "events_rfm" -> ((s, dir) => {
      // RFM customer segmentation in exact integers: per purchase user,
      // recency (days since last purchase at the corpus horizon),
      // frequency, monetary micro-units — each quintiled by the SAME
      // GroupedRank machinery as events_ntile (never a single-task global
      // sort). All three quintiles order ASCENDING with user_id ties, so
      // r_bucket 1 = most recent, f/m bucket 1 = least frequent / lowest
      // spend (the documented convention); censused per (r, f, m) cell
      val ev = events(s, dir)
      val mx = ev.agg(expr("max(ts_ns) div 86400000000000").as("__mxd"))
      val u = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(expr("max(ts_ns) div 86400000000000").as("__last"),
          count(lit(1)).as("freq"),
          sum(expr("cast(floor(value * 1000000.0) as long)"))
            .as("monetary_micro"))
        .crossJoin(broadcast(mx))
        .withColumn("recency_days", col("__mxd") - col("__last"))
        .select("user_id", "recency_days", "freq", "monetary_micro")
        // materialize between ntile passes: GroupedRank consumes its input
        // from three pruned subtrees (ranked + totals + offsets), so three
        // CHAINED passes otherwise re-plan the base lineage 3³ ≈ 27 times
        // (measured 166 exchanges); the frame is per-purchase-user
        // aggregate grain — the events_stickiness precedent
        .localCheckpoint()
      // the three ntile passes run on the CHECKPOINTED per-user aggregate
      // (thousands of rows at any SF, orders of magnitude below event
      // grain): AQE has nothing left to adapt there, but it segments each
      // pass's eager materialization into ~10 stage-jobs apiece (measured
      // 40 jobs for this query; the CC-backbone job-tax signature). The
      // passes run AQE-off — the ConnectedComponents rounds pattern — in a
      // private clone of the session (the base build above keeps AQE), on
      // 4 shuffle partitions in place of AQE's coalescing: the session's
      // full count is pure per-task overhead at this grain
      val withM = graft.sources.Isolated.withConf(Seq(u),
          "spark.sql.adaptive.enabled" -> "false",
          "spark.sql.shuffle.partitions" -> "4") { case (_, Seq(u)) =>
        val r = graft.operators.GroupedRank.withGroupNtile(
          u, Seq.empty, Seq(col("recency_days"), col("user_id")),
          k = 5, ntileCol = "r_bucket").localCheckpoint()
        val f = graft.operators.GroupedRank.withGroupNtile(
          r, Seq.empty, Seq(col("freq"), col("user_id")),
          k = 5, ntileCol = "f_bucket").localCheckpoint()
        graft.operators.GroupedRank.withGroupNtile(
          f, Seq.empty, Seq(col("monetary_micro"), col("user_id")),
          k = 5, ntileCol = "m_bucket").localCheckpoint()
      }
      withM
        .groupBy(col("r_bucket").cast("long").as("r_bucket"),
          col("f_bucket").cast("long").as("f_bucket"),
          col("m_bucket").cast("long").as("m_bucket"))
        .agg(count(lit(1)).as("n_users"),
          sum("monetary_micro").as("sum_monetary_micro"))
    }),

    "events_survival" -> ((s, dir) => {
      // Kaplan–Meier risk table for time-to-first-purchase after signup,
      // right-censored at the corpus horizon — censored users COUNT
      // (dropping them biases every duration metric toward fast
      // converters); exact integer (t, n_risk, d, c) with n_risk via one
      // reverse cumulative over the day grid, never a per-user window
      val ev = events(s, dir)
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts_ns").as("s_ts"))
      val pu = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts_ns")
        .join(su, "user_id").filter(col("ts_ns") >= col("s_ts"))
        .groupBy("user_id").agg(min("ts_ns").as("p_ts"))
      val mx = ev.agg(max("ts_ns").as("m"))
      val dur = su.join(pu, Seq("user_id"), "left").crossJoin(broadcast(mx))
        .select(
          when(col("p_ts").isNull,
            expr("m div 86400000000000") - expr("s_ts div 86400000000000"))
            .otherwise(expr("p_ts div 86400000000000") -
              expr("s_ts div 86400000000000")).as("t"),
          when(col("p_ts").isNull, 0L).otherwise(1L).as("ev"))
      graft.operators.Survival.kmRiskTable(dur, "t", "ev")
    }),

    "fd_strength" -> ((s, dir) => {
      // graded dependency strength beside fd_discovery's boolean verdict:
      // Gini impurity of rhs removed by knowing lhs, exact rational ppm
      // (no entropy/log — libm would drift the last ulp across engines);
      // same four candidates, same single-scan triple stack
      graft.operators.FunctionalDeps.giniStrength(
        t(s, dir, "orders"), Seq(
          "o_orderkey" -> "o_custkey",
          "o_custkey" -> "o_orderstatus",
          "o_orderpriority" -> "o_orderstatus",
          "o_orderstatus" -> "o_orderpriority"))
    }),

    "events_interarrival" -> ((s, dir) => {
      // traffic burstiness profile: per-(user, type) consecutive gaps,
      // log2-bucketed by length(bin(s)) — the repo's no-float log2 — and
      // censused per type; the lag window is the standard bounded
      // per-user residency assumption, the histogram is domain-grain
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy("ts_ns", "event_id")
      events(s, dir).select("user_id", "event_type", "ts_ns", "event_id")
        .withColumn("__prev", lag("ts_ns", 1).over(w))
        .filter(col("__prev").isNotNull)
        .withColumn("delta_s", expr("(ts_ns - __prev) div 1000000000"))
        .withColumn("bucket",
          length(bin(greatest(col("delta_s"), lit(1L)))).cast("long"))
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("n"), sum("delta_s").as("sum_delta_s"),
          min("delta_s").as("min_delta_s"), max("delta_s").as("max_delta_s"))
    }),

    "text_readability" -> ((s, dir) => {
      // per-source Flesch-style complexity in exact integer ppm: ratios
      // of group sums (words/sentence, vowel-group syllables/word) —
      // three codegen'd regex counters, one groupBy, no explode
      graft.llm.TextStats.readabilityStats(
        t(s, dir, "documents").select("source", "text"), "source", "text")
    }),

    "stream_changepoint" -> ((s, dir) => {
      // the live face of events_changepoint: state is the bounded day
      // grid itself, the split re-located per update with the identical
      // BigInt convention — converged (max update_seq) row per type must
      // equal the batch operator bit-for-bit under any arrival order
      val out = StreamOps.runToMemory(s,
        StreamOps.changePointUpdates(
          StreamOps.eventsStream(s, s"$dir/events.parquet"),
          "event_type",
          x = expr("ts_ns div 86400000000000"),
          y = expr("cast(floor(value * 1000000.0) as long)")),
        "graft_stream_changepoint", outputMode = "update")
      StreamOps.converged(out, "event_type")
    }),

    "zorder_pruning" -> ((s, dir) => {
      // "should we z-order this table" answered with the table's own
      // numbers: simulated per-file min/max stats for the z layout vs the
      // d0-major linear layout over (l_partkey mod 256, l_suppkey mod 256)
      // in 64 files, probed with the parquet row-group skip rule — the
      // measurement beside zorder_key's mechanism. Both layouts ride one
      // scan (tagged-union explode), stats are 128 rows
      graft.operators.ZOrder.pruningAudit(
        t(s, dir, "lineitem"),
        d0 = coalesce(pmod(col("l_partkey"), lit(256)), lit(0)),
        d1 = coalesce(pmod(col("l_suppkey"), lit(256)), lit(0)),
        bits = 8, filesLog2 = 6,
        box0 = (32L, 47L), box1 = (96L, 111L))
    }),

    "text_pmi" -> ((s, dir) => {
      // collocation mining: top-25 adjacent word pairs by exact integer
      // lift (the PMI rational without the log — same ranking, no libm);
      // strong collocations are single-token candidates for the
      // vocabulary. minCount=5 noise-floors hapax-pair artifacts
      graft.llm.Vocab.pmiCollocations(
        t(s, dir, "documents"), "text", minCount = 5L, k = 25)
    }),

    "vocab_zipf" -> ((s, dir) => {
      // frequency-spectrum census: distinct tokens and token mass per
      // floor-log2 occurrence bucket — the log-log Zipf evidence plus the
      // hapax count (bucket 0) that sizes the vocabulary; shared
      // length(bin(c))-1 no-float idiom
      graft.llm.Vocab.zipfHistogram(t(s, dir, "documents"), "text")
    }),

    "graph_degree_dist" -> ((s, dir) => {
      // near-dup graph health: node degree census in floor-log2 buckets —
      // a mega-hub bucket flags template spam (one boilerplate doc
      // near-dup to thousands) before the CC closure pays for it; the
      // graph-shaped sibling of dedup_cluster_sizes. One pair pass
      // (shared neardupPairs checkpoint); degree frame is node-grain,
      // census is ≤64 rows
      pairDegrees(neardupPairs(s, dir))
        .withColumn("bucket", floorLog2Bucket("deg"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_nodes"), sum("deg").as("sum_degree"),
          min("deg").as("min_degree"), max("deg").as("max_degree"))
    }),

    "events_ab_test" -> ((s, dir) => {
      // experimentation read-out: users hash-split 50/50 (md5 bucket —
      // the house reproducible cohort draw), per event_type the exact
      // integer two-proportion z² verdict at 95% (2401/625 rational) and
      // the sign-split conversion delta in ppm; no libm anywhere
      val ev = events(s, dir)
      val units = ev.select("user_id").distinct()
        .withColumn("is_a",
          graft.llm.Sampling.sampleBucket(col("user_id"), "ab") < 500000L)
      graft.operators.AbTest.twoProportionTest(
        units, "user_id", "is_a",
        ev.select("user_id", "event_type"), "user_id", "event_type")
    }),

    "events_funnel_timed" -> ((s, dir) => {
      // conversion-window funnel: signup → click → purchase where every
      // later step must land within 3 days of the user's FIRST signup —
      // the first-touch-anchored convention under which earliest-greedy
      // IS exact chain existence (fixed upper bound); compare
      // events_funnel's unbounded counts
      graft.operators.Funnel.timedFunnel(
        events(s, dir), "user_id", "event_type", "ts_ns",
        Seq("signup", "click", "purchase"), windowNs = 259200000000000L)
    }),

    "events_attribution_decay" -> ((s, dir) => {
      // time-decay multi-touch: each purchase's value split across its
      // 7-day click window at half-life 1 day — weight 2^(7−age_days),
      // pure integers, most-recent click absorbs the remainder so
      // Σcredit = value exactly; rolled up per age to show where credit
      // mass sits by recency (the model's own decay curve)
      val ev = events(s, dir)
      // same non-negative-value domain restriction as the U-shaped query
      val purch = ev.filter(col("event_type") === "purchase" &&
          col("value") >= 0)
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("ts_ns").as("p_ts"),
          expr("cast(floor(value * 1000000.0) as long)").as("value_micro"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
          col("ts_ns").as("c_ts"))
      graft.operators.Attribution.timeDecayCredits(
        purch, "p_id", "p_user", "p_ts", "value_micro",
        clicks, "c_id", "c_user", "c_ts",
        windowNs = 604800000000000L, halfLifeNs = 86400000000000L)
        .groupBy("age_halflives", "weight")
        .agg(count(lit(1)).as("n_touches"),
          sum("credit_micro").as("credit_micro_sum"))
    }),

    "embed_centroid_sim" -> ((s, dir) => {
      // label-space geometry audit: pairwise centroid cosine² (signed,
      // exact integer ppm) between label clouds — near-±1e6 pairs flag
      // label noise / near-synonym classes; truncated integer means keep
      // every number bounded independent of corpus size
      graft.llm.Quantize.centroidSimilarity(
        t(s, dir, "embeddings"), "label", "embedding")
    }),

    "q14_promo" -> ((s, dir) => {
      // TPC-H Q14 shape: per ship month, the promo-type share of revenue
      // in exact integer ppm — broadcast part-dim join, per-row cent
      // floor (one IEEE product both engines replay bit-for-bit)
      val li = t(s, dir, "lineitem")
        .withColumn("month",
          (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).cast("long"))
        .withColumn("rev_c",
          expr("cast(floor(l_extendedprice * (1.0 - l_discount) * 100.0) as long)"))
      li.join(broadcast(t(s, dir, "part").select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("month")
        .agg(sum(when(col("p_type") === "PROMO", col("rev_c")).otherwise(0L))
            .as("promo_rev_c"),
          sum("rev_c").as("total_rev_c"))
        // decimal(38,0): at warehouse scale a month's cents × 10⁶ wraps a
        // long (the oracle's HUGEINT would keep going — divergence)
        .withColumn("promo_ppm", expr(
          "cast((cast(promo_rev_c as decimal(38,0)) * 1000000)" +
            " div total_rev_c as bigint)"))
    }),

    "events_xcorr" -> ((s, dir) => {
      // lead-lag cross-covariance matrix between event types' daily
      // series at lags -3..3 — "do clicks lead purchases, and by how
      // many days"; the corpus collapses to the (type, day) grid first,
      // everything after is grid-grain
      graft.operators.CrossCorr.leadLagMatrix(
        events(s, dir), "event_type",
        xCol = expr("ts_ns div 86400000000000"),
        yCol = lit(1L), maxLag = 3)
    }),

    "column_skew_profile" -> ((s, dir) => {
      // which candidate join/group columns are shuffle-hazardous at all:
      // per column (one tagged-union scan) exact ndv, hottest-value share,
      // and hot-over-average-key load — the cross-column survey run
      // BEFORE SkewAdvisor.advise drills into one column's keys
      graft.skew.SkewAdvisor.columnSkewProfile(
        t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey",
          "l_returnflag", "l_linestatus"))
    }),

    "events_cohort_ltv" -> ((s, dir) => {
      // cohort-LTV curve: users bucketed by first-signup week, purchase
      // value accumulated per cohort-age week (exact micro-units;
      // cumulative window rides the cohort × age grid, never raw events)
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir)
      val cohort = ev.filter(col("event_type") === "signup")
        .groupBy("user_id")
        .agg(expr("min(ts_ns) div 604800000000000").as("cohort_week"))
      val cell = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("ts_ns div 604800000000000").as("p_week"),
          expr("cast(floor(value * 1000000.0) as long)").as("v"))
        .join(cohort, Seq("user_id"))
        .filter(col("p_week") >= col("cohort_week"))
        .withColumn("age_week", col("p_week") - col("cohort_week"))
        .groupBy("cohort_week", "age_week")
        .agg(count(lit(1)).as("n_purchases"), sum("v").as("value_micro"))
      val w = Window.partitionBy("cohort_week").orderBy("age_week")
        .rowsBetween(Window.unboundedPreceding, 0)
      cell.withColumn("cum_value_micro", sum("value_micro").over(w))
    }),

    "ann_index_probe" -> ((s, dir) => {
      // daily-ingest ANN: IVF index over the historical corpus persisted
      // to parquet (partitioned by cell — probes are partition-pruned
      // scans), fresh batch probed against it without re-touching
      // historical vectors; the embedding twin of dedup_index_probe
      val emb = tk(s, dir, "embeddings")
      val hist = emb.filter(pmod(col("vec_id"), lit(10L)) =!= 0L)
      val fresh = emb.filter(pmod(col("vec_id"), lit(10L)) === 0L)
      val path = scratchPath("ann_index_probe")
      val cents = graft.llm.Similarity.writeIvfIndex(
        hist, "vec_id", "embedding", path, nCells = 16)
      graft.llm.Similarity.probeIvfIndex(
        s, path, fresh, "vec_id", "embedding", cents, k = 3, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"))
    }),

    "stream_throttle" -> ((s, dir) => {
      // live face of events_throttle: state is the per-key (ts, tie)
      // event set itself — the kept-anchored recurrence is sequential, so
      // the set IS the minimal order-proof state; converged counts equal
      // the batch throttle under any arrival order
      val out = StreamOps.runToMemory(s,
        StreamOps.throttleUpdates(
          StreamOps.eventsStream(s, eventsPathK(s, dir)),
          keyCol = concat_ws(":", col("user_id"), col("event_type")),
          ts = expr("ts_ns div 1000"), tie = col("event_id"),
          cooldown = 10L * 60 * 1000 * 1000),
        "graft_stream_throttle", outputMode = "update")
      StreamOps.converged(out, "key")
    }),

    "q6_forecast" -> ((s, dir) => {
      // TPC-H Q6 shape: revenue delta from a discount policy change — a
      // pure filter-aggregate whose predicates must ALL reach the scan
      // (PushedFilters), cent-floored per row
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24.0)
        .agg(count(lit(1)).as("n_items"),
          sum(expr("cast(floor(l_extendedprice * l_discount * 100.0) as long)"))
            .as("revenue_c"))
    }),

    "q10_returns" -> ((s, dir) => {
      // TPC-H Q10 shape: top-20 customers by returned-item revenue — the
      // "who is sending everything back" triage; broadcast customer dim,
      // deterministic top-k via TakeOrderedAndProject
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .withColumn("rev_c",
          expr("cast(floor(l_extendedprice * (1.0 - l_discount) * 100.0) as long)"))
      val o = t(s, dir, "orders").select(
        col("o_orderkey").as("l_orderkey"), col("o_custkey"))
      li.join(o, Seq("l_orderkey"))
        .join(broadcast(t(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_name"))),
          Seq("o_custkey"))
        .groupBy(col("o_custkey").as("custkey"), col("c_name"))
        .agg(count(lit(1)).as("n_items"), sum("rev_c").as("returned_rev_c"))
        .orderBy(col("returned_rev_c").desc, col("custkey"))
        .limit(20)
    }),

    "graph_assortativity" -> ((s, dir) => {
      // degree assortativity of the near-dup graph: the exact integer
      // covariance numerator m·Σ(da·db) − Σda·Σdb over edge-endpoint
      // degrees (both orientations — the undirected convention) — sign
      // answers "do hubs link to hubs" (template families) or to leaves
      // (hub-and-spoke boilerplate); everything after the pair pass is
      // node/edge-grain (shared neardupPairs checkpoint + pairDegrees)
      val pairs = neardupPairs(s, dir)
      val deg = pairDegrees(pairs)
      val edges = pairs
        .join(deg.select(col("node").as("id_a"), col("deg").as("da")), Seq("id_a"))
        .join(deg.select(col("node").as("id_b"), col("deg").as("db")), Seq("id_b"))
      // both orientations: (da,db) and (db,da) — the undirected pairing
      val ends = edges.select(col("da").as("x"), col("db").as("y"))
        .unionAll(edges.select(col("db").as("x"), col("da").as("y")))
      ends.agg(count(lit(1)).as("m"),
          sum(expr("cast(x as decimal(38,0)) * y")).as("__sxy"),
          sum("x").as("__sx"), sum("y").as("__sy"))
        .withColumn("cov_num", expr(
          "cast(m * __sxy - cast(__sx as decimal(38,0)) * __sy as bigint)"))
        .select("m", "cov_num")
    }),

    "multimodal_pgm" -> ((s, dir) => {
      // REAL zero-codec image decode: ASCII PGM parsed by the repo's OWN
      // reader (comments, header, exact sample census — no ImageIO) —
      // the one image path whose whole decode stack lives in this repo
      graft.llm.Multimodal.documentPgmStats(s, tk(s, dir, "documents"))
    }),

    "sample_apportionment" -> ((s, dir) => {
      // proportional corpus shrink: split a 1000-doc budget across
      // sources by largest-remainder apportionment — Σalloc = budget
      // EXACTLY (the conservation float proportions can't give), ties by
      // source; the proportional sibling of sample_fair_cap
      graft.llm.Sampling.apportionBudget(
        t(s, dir, "documents"), "source", budget = 1000L)
    }),

    "dedup_quality_bias" -> ((s, dir) => {
      // does dedup remove disproportionately low-quality text? Docs split
      // by near-dup membership (≥1 LSH pair vs none), each side's exact
      // integer micro-score mass and truncated mean — the curation-bias
      // check run before trusting "dedup improved the corpus"
      val pairs = neardupPairs(s, dir)
      val members = pairs.select(col("id_a").as("doc_id"))
        .unionAll(pairs.select(col("id_b").as("doc_id"))).distinct()
      tk(s, dir, "documents")
        .select(col("doc_id"),
          graft.llm.TextStats.hashedLinearScoreMicro(
            col("text"), OracleSql.qualityModelWeights).as("__m"))
        .join(members.withColumn("__d", lit(true)), Seq("doc_id"), "left")
        .groupBy(coalesce(col("__d"), lit(false)).as("is_dup"))
        .agg(count(lit(1)).as("n_docs"), sum("__m").as("score_micro_sum"))
        .withColumn("mean_score_micro", expr(
          "CASE WHEN score_micro_sum >= 0 THEN score_micro_sum div n_docs" +
            " ELSE -((-score_micro_sum) div n_docs) END"))
    }),

    "events_new_vs_returning" -> ((s, dir) => {
      // growth accounting: per day, users active for the FIRST time vs
      // returning — one (user, first_day) fold + one (user, day) distinct
      // frame, day-grain after
      val ev = events(s, dir)
      val firstDay = ev.groupBy("user_id")
        .agg(expr("min(ts_ns div 86400000000000)").as("first_day"))
      ev.select(col("user_id"), expr("ts_ns div 86400000000000").as("day"))
        .distinct()
        .join(firstDay, Seq("user_id"))
        .groupBy("day")
        .agg(sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
            .as("n_new"),
          sum(when(col("day") =!= col("first_day"), 1L).otherwise(0L))
            .as("n_returning"))
    }),

    "events_velocity_features" -> ((s, dir) => {
      // feature-store snapshot: per-user activity velocity at three
      // trailing horizons (1/7/28 days back from the corpus max) in ONE
      // conditional-aggregate pass — counts, purchase value micro, and
      // recency; the classic ML-feature fan-out without three scans
      val ev = events(s, dir)
      val bounds = ev.agg(max(expr("ts_ns div 86400000000000")).as("__mx"))
      ev.crossJoin(broadcast(bounds))
        .withColumn("__day", expr("ts_ns div 86400000000000"))
        .groupBy("user_id")
        .agg(
          sum(when(col("__day") > col("__mx") - 1L, 1L).otherwise(0L))
            .as("n_1d"),
          sum(when(col("__day") > col("__mx") - 7L, 1L).otherwise(0L))
            .as("n_7d"),
          sum(when(col("__day") > col("__mx") - 28L, 1L).otherwise(0L))
            .as("n_28d"),
          sum(when(col("__day") > col("__mx") - 7L &&
              col("event_type") === "purchase",
            expr("cast(floor(value * 1000000.0) as long)")).otherwise(0L))
            .as("purchase_micro_7d"),
          max(col("__day")).as("last_day"),
          max(col("__mx")).as("horizon_day"))
    }),

    "label_balance_chi2" -> ((s, dir) => {
      // label-balance goodness-of-fit: the χ² uniformity statistic as an
      // exact integer ppm — χ² = Σ(k·o−N)² / (N·k) cleared of divisions
      // until one integral ppm at the end; the class-imbalance gate run
      // before training a probe head (the GoF sibling of events_ab_test's
      // two-sample z²)
      val c = t(s, dir, "embeddings")
        .groupBy("label").agg(count(lit(1)).as("o"))
      val tot = c.agg(sum("o").as("__N"), count(lit(1)).as("__k"))
      c.crossJoin(broadcast(tot))
        .withColumn("__d", expr(
          "cast(__k as decimal(38,0)) * o - __N"))
        .agg(max("__N").cast("long").as("n_rows"),
          max("__k").cast("long").as("n_labels"),
          expr("cast(sum(__d * __d) * 1000000 div" +
            " (max(cast(__N as decimal(38,0))) * max(__k)) as bigint)")
            .as("chi2_ppm"))
    }),

    "graph_clustering_coeff" -> ((s, dir) => {
      // embedding-manifold consistency: per-node local clustering
      // coefficient of the mutual k-NN graph (exact integer ppm) — high
      // = coherent neighborhoods, low = hub noise; same degree-ordered
      // O(√m) wedge scheme as triangle_count, apex-credited
      val emb = tk(s, dir, "embeddings")
      val edges = graft.llm.Similarity.mutualKnnGraph(
        emb, "vec_id", "embedding", k = 3,
        mode = graft.llm.Similarity.KnnMode.Exact)
      graft.operators.Triangles.clusteringCoefficients(edges, "id_a", "id_b")
    }),

    "events_audience_overlap" -> ((s, dir) => {
      // exact audience overlap between event types: |users(a) ∩ users(b)|
      // and Jaccard ppm per type pair — the EXACT twin of hll_overlap's
      // sketch estimate (cross-validates it); one distinct (user, type)
      // frame, self-joined on user, type-pair grain after
      val u = events(s, dir).select("user_id", "event_type").distinct()
      val perType = u.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val inter = u.select(col("user_id"), col("event_type").as("type_a"))
        .join(u.select(col("user_id"), col("event_type").as("type_b")),
          Seq("user_id"))
        .filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_both"))
      inter
        .join(perType.select(col("event_type").as("type_a"), col("n").as("n_a")),
          Seq("type_a"))
        .join(perType.select(col("event_type").as("type_b"), col("n").as("n_b")),
          Seq("type_b"))
        .withColumn("jaccard_ppm",
          expr("(n_both * 1000000) div (n_a + n_b - n_both)"))
        .select("type_a", "type_b", "n_a", "n_b", "n_both", "jaccard_ppm")
    }),

    "compaction_plan" -> ((s, dir) => {
      // lakehouse OPTIMIZE planning: a simulated per-month file listing
      // (one "file" per order day, size = its row mass) rolled into
      // ~2000-row output groups by the prefix-sum next-fit rule — the
      // rewrite job's exact input→output map; metadata-scale end to end
      val listing = t(s, dir, "orders")
        .groupBy(
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
            .cast("long").as("part_month"),
          datediff(col("o_orderdate"), lit("1970-01-01").cast("timestamp"))
            .cast("long").as("file_id"))
        .agg(count(lit(1)).as("size_rows"))
      graft.sources.Compaction.planBinPack(
        listing, Seq("part_month"), "file_id", "size_rows",
        targetBytes = 2000L)
    }),

    "q_ship_latency" -> ((s, dir) => {
      // order→ship latency distribution per priority: exact day-grain
      // census with extremes — the fulfillment-SLA evidence; one join +
      // one domain-grain fold
      val o = t(s, dir, "orders").select(
        col("o_orderkey").as("l_orderkey"), col("o_orderpriority"),
        col("o_orderdate"))
      t(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
        .join(o, Seq("l_orderkey"))
        .withColumn("latency_days",
          datediff(col("l_shipdate"), col("o_orderdate")).cast("long"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum("latency_days").as("sum_days"),
          min("latency_days").as("min_days"),
          max("latency_days").as("max_days"))
    }),

    "q19_or_pred" -> ((s, dir) => {
      // TPC-H Q19 shape: three OR'd (brand × size × quantity) branches —
      // the disjunctive-predicate stress the optimizer must keep
      // broadcast-side; cent-floored revenue
      val li = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
          .select(col("p_partkey").as("l_partkey"), col("p_brand"),
            col("p_size"))),
          Seq("l_partkey"))
      li.filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1.0, 11.0)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
            col("l_quantity").between(10.0, 20.0)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 35) &&
            col("l_quantity").between(20.0, 30.0)))
        .agg(count(lit(1)).as("n_items"),
          sum(expr(
            "cast(floor(l_extendedprice * (1.0 - l_discount) * 100.0) as long)"))
            .as("revenue_c"))
    }),

    "q4_exists" -> ((s, dir) => {
      // TPC-H Q4 shape: EXISTS-correlated order count — the semi-join
      // that must NOT multiply (an order with 5 flagged lineitems counts
      // once); date window pushed to the orders scan, the lineitem side
      // reduced to (orderkey) before the semi join
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val flagged = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("o_orderkey"))
      o.join(flagged, Seq("o_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
    }),

    "q7_volume" -> ((s, dir) => {
      // TPC-H Q7 shape: bilateral shipping volume between two nations per
      // ship year — the two-dim-lookup join (supplier nation × customer
      // nation) with the pair predicate in BOTH directions; nation is
      // broadcast twice under different aliases, revenue cent-floored
      val n = t(s, dir, "nation").select("n_nationkey", "n_name")
      val sup = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
        .join(broadcast(n.select(col("n_nationkey").as("s_nationkey"),
          col("n_name").as("supp_nation"))), Seq("s_nationkey"))
        .filter(col("supp_nation").isin("NATION_1", "NATION_2"))
      val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
        .join(broadcast(n.select(col("n_nationkey").as("c_nationkey"),
          col("n_name").as("cust_nation"))), Seq("c_nationkey"))
        .filter(col("cust_nation").isin("NATION_1", "NATION_2"))
      val o = t(s, dir, "orders").select(
        col("o_orderkey").as("l_orderkey"), col("o_custkey").as("c_custkey"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey").as("s_suppkey"),
          year(col("l_shipdate")).cast("long").as("ship_year"),
          expr("cast(floor(l_extendedprice * (1.0 - l_discount) * 100.0)" +
            " as long)").as("rev_c"))
        .join(broadcast(sup), Seq("s_suppkey"))
        .join(o, Seq("l_orderkey"))
        .join(cust, Seq("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "ship_year")
        .agg(count(lit(1)).as("n_items"), sum("rev_c").as("volume_c"))
    }),

    "q8_share" -> ((s, dir) => {
      // TPC-H Q8 shape: per ship year, the ASIA-supplier share of global
      // PROMO-part revenue in exact integer ppm — a 4-dim star (part,
      // supplier, nation, region) where the share condition rides the
      // aggregate as a CASE, never a second scan
      val supRegion = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("s_nationkey"), col("n_regionkey"))),
          Seq("s_nationkey"))
        .join(broadcast(t(s, dir, "region")
          .select(col("r_regionkey").as("n_regionkey"), col("r_name"))),
          Seq("n_regionkey"))
        .select(col("s_suppkey").as("l_suppkey"), col("r_name"))
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").filter(col("p_type") === "PROMO")
          .select(col("p_partkey").as("l_partkey"))), Seq("l_partkey"))
        .join(broadcast(supRegion), Seq("l_suppkey"))
        .withColumn("rev_c",
          expr("cast(floor(l_extendedprice * (1.0 - l_discount) * 100.0)" +
            " as long)"))
        .groupBy(year(col("l_shipdate")).cast("long").as("ship_year"))
        .agg(
          sum(when(col("r_name") === "ASIA", col("rev_c")).otherwise(0L))
            .as("asia_rev_c"),
          sum("rev_c").as("total_rev_c"))
        .withColumn("asia_ppm", expr(
          "cast((cast(asia_rev_c as decimal(38,0)) * 1000000)" +
            " div total_rev_c as bigint)"))
    }),

    "q15_top_supplier" -> ((s, dir) => {
      // TPC-H Q15 shape: the argmax-over-an-aggregate-view — quarterly
      // per-supplier revenue, then ONLY the max-revenue supplier(s) via a
      // broadcast scalar max (no global sort, no window over the corpus);
      // ties would all surface, exactly like the reference query's
      // equality-to-subquery semantics
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey").as("s_suppkey"))
        .agg(sum(expr(
          "cast(floor(l_extendedprice * (1.0 - l_discount) * 100.0) as long)"))
          .as("total_rev_c"))
      val top = rev.agg(max("total_rev_c").as("__mx"))
      rev.join(broadcast(top), col("total_rev_c") === col("__mx"))
        .join(broadcast(t(s, dir, "supplier").select("s_suppkey", "s_name")),
          Seq("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev_c")
    }),

    "q17_small_qty" -> ((s, dir) => {
      // TPC-H Q17 shape: revenue locked in small-quantity orders of one
      // brand's small parts — the per-part avg threshold cleared of
      // division (qty < avg(qty)/5  ⇔  5·qty·cnt < sum_qty, all integral),
      // computed by per-part aggregate + self-join, never a per-part window
      // `li` feeds BOTH the per-part aggregate and the threshold join —
      // localCheckpoint per the multi-consumer convention (liftTable,
      // Contingency) so the fact scan + broadcast join is paid once
      val li = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
          .filter(col("p_brand") === "Brand#2" && col("p_size") < 15)
          .select(col("p_partkey").as("l_partkey"))), Seq("l_partkey"))
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .localCheckpoint(eager = false)
      val perPart = li.groupBy("l_partkey")
        .agg(sum(col("l_quantity").cast("long")).as("__sum_qty"),
          count(lit(1)).as("__cnt"))
      li.join(perPart, Seq("l_partkey"))
        .filter(col("l_quantity").cast("long") * 5 * col("__cnt") <
          col("__sum_qty"))
        .agg(count(lit(1)).as("n_items"),
          sum(expr("cast(floor(l_extendedprice * 100.0) as long)"))
            .as("price_c"))
    }),

    "q21_waiting" -> ((s, dir) => {
      // TPC-H Q21 shape: the sole-blame supplier — flagged ('R')
      // lineitems in multi-supplier orders where NO other supplier in the
      // order is also flagged; EXISTS (semi) + NOT EXISTS (anti) against
      // the same order-grain frame, top-10 suppliers deterministic
      val flagged = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
      // fresh scans (not projections of `flagged`) so the semi/anti join
      // conditions reference unambiguous attribute ids
      val others = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("__o_ok"), col("l_suppkey").as("__o_sk"))
        .distinct()
      val flaggedOthers = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("__f_ok"), col("l_suppkey").as("__f_sk"))
        .distinct()
      flagged
        .join(others,
          col("__o_ok") === col("l_orderkey") &&
            col("__o_sk") =!= col("l_suppkey"), "left_semi")
        .join(flaggedOthers,
          col("__f_ok") === col("l_orderkey") &&
            col("__f_sk") =!= col("l_suppkey"), "left_anti")
        .groupBy(col("l_suppkey").as("s_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .join(broadcast(t(s, dir, "supplier").select("s_suppkey", "s_name")),
          Seq("s_suppkey"))
        .orderBy(col("numwait").desc, col("s_suppkey"))
        .limit(10)
    }),

    "q22_idle_balance" -> ((s, dir) => {
      // TPC-H Q22 shape: rich-but-inactive accounts — balance above the
      // positive-balance mean (exact in cents: bal·cnt > sum, no FP avg)
      // AND no urgent order ever (anti join); per-nation census of the
      // sales-opportunity pool
      val c = t(s, dir, "customer")
        .withColumn("bal_c", expr("cast(floor(c_acctbal * 100.0) as long)"))
      val thresh = c.filter(col("c_acctbal") > 0.0)
        .agg(sum("bal_c").as("__sum_c"), count(lit(1)).as("__cnt"))
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("c_custkey"))
      c.crossJoin(broadcast(thresh))
        .filter(col("bal_c") * col("__cnt") > col("__sum_c"))
        .join(urgent, Seq("c_custkey"), "left_anti")
        .groupBy(col("c_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).as("n_custs"), sum("bal_c").as("sum_bal_c"))
    }),

    "q12_priority_class" -> ((s, dir) => {
      // TPC-H Q12 shape: per line status in a ship-year window, the
      // high/low order-priority split as two conditional counts of ONE
      // join — the canonical CASE-inside-agg pivot
      val o = t(s, dir, "orders").select(
        col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linestatus")
        .join(o, Seq("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
    }),

    "corr_matrix" -> ((s, dir) => {
      // exact Pearson correlation matrix over lineitem's numeric metrics
      // in ONE corpus pass — corr_sign + r² ppm with no sqrt and no FP
      // accumulation (metrics pre-scaled to integral cents/pct longs)
      graft.operators.Correlation.corrMatrixExact(
        t(s, dir, "lineitem").select(
          col("l_quantity").cast("long").as("qty"),
          expr("cast(floor(l_extendedprice * 100.0) as long)").as("price_c"),
          expr("cast(floor(l_discount * 100.0) as long)").as("disc_pct"),
          expr("cast(floor(l_tax * 100.0) as long)").as("tax_pct")),
        Seq("qty", "price_c", "disc_pct", "tax_pct"))
    }),

    "model_lift" -> ((s, dir) => {
      // decile lift/gains table of the JL p0 score against label-0 — the
      // business-facing twin of model_auc ("top 10% of scores captures
      // N× its share of positives"); global deciles via range-partitioned
      // GroupedRank (never ntile over an unpartitioned corpus window), the
      // cumulative pass runs on the 10-row decile grid
      // spread (r18): same rationale as model_auc
      val scored = graft.llm.Quantize.signProject(
        graft.sources.Spread.spread(t(s, dir, "embeddings")),
        "vec_id", "embedding", outDim = 1,
        dim = 64, keepCols = Seq("label"))
        .select(col("vec_id"), col("label"), col("p0").as("score"))
      graft.llm.EvalMetrics.liftTable(
        scored, "score", "vec_id", positive = col("label") === 0, k = 10)
    }),

    "source_lang_assoc" -> ((s, dir) => {
      // source × lang contingency association: exact per-cell χ² term
      // ((n·O − r·c)²·10⁶ div (n·r·c), truncated per cell — an
      // order-independent integer sum) plus Cramér's V² ppm — "is language
      // mix a property of the source" asked before per-source lang
      // stratification; cell/margin grain throughout
      graft.operators.Contingency.chiSquaredAssoc(
        t(s, dir, "documents"), "source", "lang")
        .select(col("n_rows").as("n_docs"), col("n_a").as("n_sources"),
          col("n_b").as("n_langs"), col("chi2_ppm"), col("v2_ppm"))
    }),

    "rollup_incremental" -> ((s, dir) => {
      // incremental view maintenance: a GDPR-style purge (retract every
      // event from day ≥ 19745, re-insert the retention-exempt purchases)
      // applied to the materialized per-(type, day) rollup WITHOUT
      // rescanning the fact history — the maintained rollup must equal
      // the oracle's direct re-aggregate; fully-purged groups drop
      val e = events(s, dir)
        .withColumn("day", expr("ts_ns div 86400000000000"))
        .withColumn("v_micros",
          expr("cast(floor(value * 1000000.0) as long)"))
      val base = e.groupBy("event_type", "day")
        .agg(count(lit(1)).as("n"), sum("v_micros").as("v_micros"))
      val recent = e.filter(col("day") >= 19745L)
      val delta = recent
        .select(col("event_type"), col("day"), col("v_micros"),
          lit("D").as("op"))
        .unionAll(recent.filter(col("event_type") === "purchase")
          .select(col("event_type"), col("day"), col("v_micros"),
            lit("I").as("op")))
      graft.operators.RollupMaintain.applyAggDelta(
        base, delta, Seq("event_type", "day"), "n", Seq("v_micros"))
    }),

    "stream_rollup_maintain" -> ((s, dir) => {
      // rollup_incremental's purge scenario replayed THROUGH the streaming
      // retract fold: all events arrive as I, the purged days as D, the
      // retention-exempt purchases re-inserted as I — the signed fold is
      // commutative, so the converged per-group (n, sum) equals the batch
      // delta-apply (and shares its oracle); serve side = max-seq pick,
      // n=0 deletion rows filtered
      val es = StreamOps.eventsStream(s, s"$dir/events.parquet")
        .withColumn("day", expr("ts_ns div 86400000000000"))
        .withColumn("v_micros",
          expr("cast(floor(value * 1000000.0) as long)"))
      def slice(f: DataFrame => DataFrame, o: String) =
        f(es).select(col("event_type"), col("day"), col("v_micros"),
          lit(o).as("op"))
      val live = slice(identity, "I")
        .unionAll(slice(_.filter(col("day") >= 19745L), "D"))
        .unionAll(slice(_.filter(col("day") >= 19745L &&
          col("event_type") === "purchase"), "I"))
      // the composite key is '|'-delimited; a delimiter inside event_type
      // would silently split wrong on decode, and a NULL event_type would
      // null-propagate through concat and collapse every (NULL, day) group
      // into one NULL key — fail loudly on both instead of trusting the
      // current non-null {view,click,purchase,signup,error} set
      val checked = live.withColumn("event_type",
        when(col("event_type").isNull,
          expr("raise_error('event_type is NULL: the | composite key cannot encode it')"))
          .when(expr("instr(event_type, '|') > 0"),
            expr("raise_error('event_type contains the | key delimiter')"))
          .otherwise(col("event_type")))
      val mem = StreamOps.runToMemory(s,
        StreamOps.rollupMaintainUpdates(checked,
          concat(col("event_type"), lit("|"), col("day")),
          col("v_micros"), col("op")),
        "graft_stream_rollup", outputMode = "update")
      val last = graft.operators.GroupedTopK.topKPerGroup(
        mem, Seq("key"), Seq(col("update_seq")), 1, "__r", ascending = false)
        .drop("__r")
      last.filter(col("n") > 0)
        .select(
          expr("substring_index(key, '|', 1)").as("event_type"),
          expr("cast(substring_index(key, '|', -1) as bigint)").as("day"),
          col("n"), col("sum_v").as("v_micros"))
    }),

    "kanonymity_audit" -> ((s, dir) => {
      // pre-release governance gate: can a customer be singled out by the
      // externally-knowable (nation, segment) pair, and do small groups
      // leak the balance band — per-QI-group size, l-diversity of the
      // $1000 balance band (one IEEE division + floor, replayed exactly),
      // below-k flag at k=25
      graft.operators.Anonymity.kAnonymityAudit(
        t(s, dir, "customer").withColumn("bal_band",
          expr("cast(floor(c_acctbal / 1000.0) as long)")),
        Seq("c_nationkey", "c_mktsegment"), "bal_band", k = 25L)
    }),

    "spearman_qty_price" -> ((s, dir) => {
      // monotone association between quantity and line price: exact
      // Spearman ρ² ppm over deterministic ranks (ties by the line's
      // composite id) — the outlier-immune companion of corr_matrix's
      // Pearson row; two range-partitioned rank passes + one moment fold
      graft.operators.Correlation.spearmanExact(
        t(s, dir, "lineitem").select(
          col("l_quantity").cast("long").as("qty"),
          expr("cast(floor(l_extendedprice * 100.0) as long)").as("price_c"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("line_id")),
        "qty", "price_c", "line_id")
    }),
  )

  /** DuckDB oracle SQL for every [[queries]] entry — the driver-facing
    * contract surface, hosted in [[OracleSql]] since r14 so the query
    * definitions and the ~4k lines of replay SQL are separately
    * maintainable (VERDICT r13 task 7). Contract unchanged: same map,
    * same names, same strings. */
  def oracleSql: Map[String, String] = OracleSql.sqls
}
